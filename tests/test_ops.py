"""Operator unit + property tests: binning, dedup, similarity, text,
multimodal plumbing, streaming batch-equivalents."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from books2scrape_etl_spark.operators import dedupe, multimodal, similarity, text
from books2scrape_etl_spark.operators.binning import (
    bin_fixed,
    bin_quantile_approx,
    bin_quantile_exact,
)


# --- binning ---------------------------------------------------------------


def test_bin_fixed_properties(spark):
    vals = [(float(v),) for v in [0, 5, 9, 10, 17, 18, 29, 30, 31, -1, 1000]]
    df = spark.createDataFrame(vals, "v double").withColumn(
        "bin", bin_fixed("v", (0, 10, 18, 30), ("a", "b", "c"))
    )
    got = {r.v: r.bin for r in df.collect()}
    assert got[0.0] == "a" and got[9.0] == "a"
    assert got[10.0] == "b" and got[17.0] == "b"
    assert got[18.0] == "c" and got[29.0] == "c"
    assert got[30.0] is None and got[-1.0] is None and got[1000.0] is None


def test_bin_quantile_approx_close_to_exact(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_retailprice")
    exact = bin_quantile_exact(part, "p_retailprice", ("a", "b", "c"), "t", ("p_partkey",))
    approx = bin_quantile_approx(part, "p_retailprice", ("a", "b", "c"), "t")
    n = part.count()
    agree = (
        exact.alias("e")
        .join(approx.alias("a"), "p_partkey")
        .where(F.col("e.t") == F.col("a.t"))
        .count()
    )
    assert agree / n > 0.95  # sketch edges ~ exact edges


# --- dedup -----------------------------------------------------------------


def test_exact_dedup_idempotent_and_deterministic(spark):
    rows = [(1, "hello world"), (2, "Hello,   WORLD!"), (3, "different text"), (4, "hello world")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedupe.exact_dedup(docs).collect()
    by_fp = {r.fp: r for r in out}
    assert len(out) == 2  # 1,2,4 normalize identically
    survivors = sorted(r.doc_id for r in out)
    assert survivors == [1, 3]  # min doc_id survives
    counts = sorted(r.n_copies for r in out)
    assert counts == [1, 3]


def test_minhash_dedup_removes_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    near = base + " extra"
    far = "completely unrelated content about spark query engines and shuffles"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    survivors = sorted(
        r.doc_id for r in dedupe.minhash_dedup(docs, threshold=0.5).select("doc_id").collect()
    )
    assert 1 in survivors and 3 in survivors
    assert 2 not in survivors  # near-dup of 1, larger id -> removed


def test_verified_pairs_keep_minhash_staging_cached(spark, sf_dir):
    """minhash_dedup and verified_similar_pairs share one staging
    lifecycle: a pairs call over the same docs re-stages the same
    plans, so it must leave the dedup's shingle/band slots cached: the
    CacheManager matches by plan, so a second lifecycle's unpersist
    would evict them."""
    from books2scrape_etl_spark.operators.scale import _STAGE_GENERATIONS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    survivors = dedupe.minhash_dedup(docs, threshold=0.6)
    n_survivors = survivors.count()
    pairs = dedupe.verified_similar_pairs(docs, threshold=0.6)
    dup_ids = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    for slot in ("dedupe.minhash.sh", "dedupe.minhash.b"):
        assert _STAGE_GENERATIONS[slot].storageLevel.useMemory, slot
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    got = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert dup_ids  # the corpus plants near-duplicates
    assert len(got) == n_survivors
    assert got == all_ids - dup_ids


def test_jaccard_kernel(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard for r in dedupe.ngram_jaccard_pairs(docs, pairs).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


def test_simhash_similar_docs_share_bits(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat near the door"), (2, "the cat sat on the mat near the floor")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.s for r in docs.select("doc_id", dedupe.simhash64("text").alias("s")).collect()}
    hamming = bin(sigs[1] ^ sigs[2]).count("1")
    assert hamming < 20  # similar docs -> close signatures (60-bit space)


# --- similarity ------------------------------------------------------------


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = similarity.brute_force_topk(emb, queries, k=3).collect()
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].values
    norms = np.linalg.norm(mat, axis=1)
    for q_row in (0, 1):
        qi = list(ids).index(q_row)
        sims = mat @ mat[qi] / (norms * norms[qi])
        order = sorted(
            [(round(-s, 6), i) for s, i in zip(sims, ids) if i != q_row]
        )[:3]
        expect = [i for _, i in order]
        mine = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.q_id == q_row]
        assert mine == expect


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(emb, queries, k=5, bits=2).collect()
    exact_set = {(r.q_id, r.vec_id) for r in exact}
    approx_set = {(r.q_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # single-probe ANN on near-random vectors: with 2 bits (4 buckets) a
    # true neighbor shares the query's bucket w.p. ~1/4, so recall ~0.25
    # in expectation; assert it's nonzero (bucketing wired correctly)
    assert recall > 0.0
    # every approx hit must come from the query's own bucket and be a
    # real row
    assert all(r.cos_sim <= 1.0 and r.rank <= 5 for r in approx)


def test_embedding_near_dup_self_consistency(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    survivors = sorted(
        r.vec_id
        for r in similarity.embedding_near_dup(emb, threshold=0.99, dim=3, bits=2).collect()
    )
    assert 1 in survivors and 3 in survivors and 2 not in survivors


# --- text ------------------------------------------------------------------


def test_text_stats_values(spark):
    docs = spark.createDataFrame(
        [(1, "The cat and the dog, of course!"), (2, "der und die der und")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.text_stats(docs).collect()}
    assert got[1].n_words == 7
    assert got[1].lang_pred == "en"
    assert got[2].lang_pred == "de"
    assert got[1].n_chars_measured == 31
    assert 0 < got[1].punct_ratio < 0.2
    assert len(got[1].fp) == 32


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200))
@settings(max_examples=20, deadline=None)
def test_fingerprint_normalization_properties(s):
    # pure-python mirror of normalize_for_fingerprint semantics
    import re

    norm = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()
    norm2 = re.sub(r"[^a-z0-9]+", " ", norm.lower()).strip()
    assert norm == norm2  # idempotent


# --- multimodal ------------------------------------------------------------


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "a" * 100)], "doc_id long, text string")
    media = multimodal.documents_as_media(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    # text bytes are NOT an image: the real codec must tag them null,
    # not crash the batch
    meta = {r.media_id: r for r in multimodal.decode_image_meta(media).collect()}
    assert meta[1].n_bytes == 5
    assert meta[1].width is None and meta[1].format is None
    frames = multimodal.sample_frames(media, every_n=10, max_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert by_id[2] == [0, 1, 2, 3]  # 1 -> N fan-out


def test_ppm_codec_roundtrip():
    payload = multimodal.synth_ppm_payload(123)
    fmt, w, h, c, pix = multimodal.decode_image(payload)
    assert (fmt, w, h, c) == ("ppm", 8 + 123 % 9, 8 + 123 % 7, 3)
    assert len(pix) == 3 * w * h
    assert pix[0] == (123 * 31) % 256 and pix[5] == (123 * 31 + 35) % 256
    # comment- and whitespace-tolerant header parse (netpbm spec)
    commented = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    assert multimodal.decode_image(commented)[:4] == ("ppm", 2, 1, 3)


def test_bmp_decode_golden():
    import struct

    # hand-built 2x2 24-bit BMP: bottom-up rows, 4-byte row padding
    # (2 px * 3 B = 6 B -> stride 8). Pixel layout is BGR.
    rows_bottom_up = [
        bytes([255, 0, 0]) + bytes([0, 255, 0]) + b"\x00\x00",  # y=1: blue, green
        bytes([0, 0, 255]) + bytes([255, 255, 255]) + b"\x00\x00",  # y=0: red, white
    ]
    pixel_data = b"".join(rows_bottom_up)
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    fmt, w, h, c, pix = multimodal.decode_image(header + dib + pixel_data)
    assert (fmt, w, h, c) == ("bmp", 2, 2, 3)
    assert len(pix) == 12  # padding stripped


def test_resize_nearest_neighbor_reference(spark):
    """resize_images through Spark must equal an independent numpy
    nearest-neighbor resample of the same source image, byte for byte."""
    import numpy as np

    src = multimodal.synth_ppm_payload(7)
    _, w, h, _, pix = multimodal.decode_image(src)
    arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
    tw = th = 4
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    expect = arr[np.ix_(ys, xs)].tobytes()

    media = spark.createDataFrame(
        [(7, "mem://x", "image", bytearray(src), len(src))],
        "media_id long, uri string, media_type string, payload binary, n_bytes long",
    )
    (row,) = multimodal.resize_images(media, tw, th).collect()
    fmt, rw, rh, rc, rpix = multimodal.decode_image(bytes(row.payload))
    assert (fmt, rw, rh, rc) == ("ppm", tw, th, 3)
    assert rpix == expect


def test_avi_codec_roundtrip():
    """RIFF/AVI container: encode N frames, decode back the identical
    dims + frame bytes; reject non-RIFF payloads."""
    import pytest as _pytest

    frames = [bytes((f * 11 + 5 * i) % 256 for i in range(3 * 8 * 2)) for f in range(3)]
    payload = multimodal.encode_avi(8, 2, frames)
    w, h, got = multimodal.decode_avi(payload)
    assert (w, h) == (8, 2)
    assert got == frames
    with _pytest.raises(ValueError):
        multimodal.decode_avi(b"nota riff payload")
    # synthetic corpus follows its closed-form generation rule
    p = multimodal.synth_avi_payload(11)
    w, h, fr = multimodal.decode_avi(p)
    assert (w, h, len(fr)) == (4 * (1 + 11 % 3), 2 + 11 % 4, 1 + 11 % 3)
    assert fr[1][0] == (11 * 17 + 11) % 256


def test_avi_frame_extraction_fanout(spark):
    """decode_avi_frames: real per-frame rows with stride + cap; text
    payloads (not RIFF) yield zero rows, not a crash."""
    avi = multimodal.synth_avi_payload(5)  # 5 % 3 = 2 -> 3 frames
    media = spark.createDataFrame(
        [
            (5, "mem://v", "video", bytearray(avi), len(avi)),
            (6, "mem://t", "video", bytearray(b"plain text"), 10),
        ],
        "media_id long, uri string, media_type string, payload binary, n_bytes long",
    )
    rows = multimodal.decode_avi_frames(media, every_n=2, max_frames=2).collect()
    assert {r.media_id for r in rows} == {5}
    assert sorted(r.frame_idx for r in rows) == [0, 2]  # every 2nd of 3 frames
    w, h, frames = multimodal.decode_avi(avi)
    for r in rows:
        assert (r.width, r.height, r.n_bytes) == (w, h, 3 * w * h)
        assert r.frame_sum == sum(frames[r.frame_idx])


# --- streaming batch equivalents -------------------------------------------


def test_tumbling_bucket_math(spark):
    from books2scrape_etl_spark.streaming.windows import tumbling_counts_batch

    rows = [
        (1, "2024-01-01 00:04:00", "a", 1.0),
        (2, "2024-01-01 00:09:59", "a", 2.0),
        (3, "2024-01-01 00:10:00", "a", 4.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double")
    ev = ev.withColumn("ts", F.to_timestamp("ts"))
    got = {r.bucket: r.n_events for r in tumbling_counts_batch(ev, 10).collect()}
    assert list(got.values()) == [2, 1]  # :10:00 starts a new bucket


def test_connected_components_chain(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    comp = {r.doc_id: r.component for r in dedupe.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_minhash_cc_keeps_one_per_component(spark):
    # chain A~B~C: B near-dups A, C near-dups B but not A
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = a + " nu"
    c = b + " xi omicron pi rho sigma"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "totally different words about engines and shuffles")],
        "doc_id long, text string",
    )
    single_pass = sorted(
        r.doc_id for r in dedupe.minhash_dedup(docs, threshold=0.55).select("doc_id").collect()
    )
    cc = sorted(
        r.doc_id for r in dedupe.minhash_dedup_cc(docs, threshold=0.55).select("doc_id").collect()
    )
    assert 1 in cc and 9 in cc
    assert 2 not in cc  # in A's component
    assert set(cc) <= set(single_pass) | {1, 9} or len(cc) <= len(single_pass) + 1


def test_solve_bands_tracks_threshold():
    # midpoint (1/b)^(1/r) must move with the threshold
    b_lo, r_lo = dedupe.solve_bands(0.3, 16)
    b_hi, r_hi = dedupe.solve_bands(0.9, 16)
    assert b_lo * r_lo == 16 and b_hi * r_hi == 16
    assert (1 / b_lo) ** (1 / r_lo) < (1 / b_hi) ** (1 / r_hi)


def test_minhash_autoband_removes_dups_at_both_thresholds(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated content about engines")],
        "doc_id long, text string",
    )
    for t in (0.5, 0.8):  # bands auto-solved from t (no hardcoded 8x2)
        survivors = sorted(
            r.doc_id
            for r in dedupe.minhash_dedup(docs, threshold=t).select("doc_id").collect()
        )
        assert survivors == [1, 3], t


def test_short_docs_are_unconditional_survivors(spark):
    # sub-shingle-length docs share the empty shingle set; they must NOT
    # verify as duplicates of each other (empty-vs-empty Jaccard = 0)
    docs = spark.createDataFrame(
        [(1, "hi"), (2, "yo"), (3, "ok"), (4, "word pair"), (5, "")],
        "doc_id long, text string",
    )
    survivors = sorted(
        r.doc_id for r in dedupe.minhash_dedup(docs, threshold=0.5).select("doc_id").collect()
    )
    assert survivors == [1, 2, 3, 4, 5]


def test_jaccard_empty_sets_is_zero(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "a b c d e")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard for r in dedupe.ngram_jaccard_pairs(docs, pairs).collect()}
    assert got[(1, 2)] == 0.0
    assert got[(1, 3)] == 0.0


# --- as-of join ------------------------------------------------------------


def test_asof_join_backward_and_missing_groups(spark):
    from books2scrape_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10), (1, 200, 11), (2, 50, 12), (3, 70, 13)],
        "uid long, ts long, lval long",
    )
    right = spark.createDataFrame(
        [(1, 90, 5.0), (1, 100, 6.0), (1, 150, 7.0), (2, 60, 8.0)],
        "uid long, ts long, rval double",
    )
    rows = {
        r.lval: (r.asof_ts, r.asof_rval)
        for r in asof_join(left, right, on="ts", by=["uid"]).collect()
    }
    assert rows[10] == (100, 6.0)  # exact match allowed (<=), latest wins
    assert rows[11] == (150, 7.0)  # backward: latest at-or-before 200
    assert rows[12] == (None, None)  # right row at 60 > 50 -> no match
    assert rows[13] == (None, None)  # uid 3 has no right group at all


def test_asof_join_forward(spark):
    from books2scrape_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, 1)], "uid long, ts long, lval long")
    right = spark.createDataFrame(
        [(1, 90, 5.0), (1, 130, 7.0)], "uid long, ts long, rval double"
    )
    [r] = asof_join(left, right, on="ts", by=["uid"], direction="forward").collect()
    assert (r.asof_ts, r.asof_rval) == (130, 7.0)


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    # probing every list recovers the exact result — the recall dial
    # ends at correctness
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_id, r.rank): r.vec_id
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r.q_id, r.rank): r.vec_id
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_lists=4, n_probe=4
        ).collect()
    }
    assert full == exact


def test_ivf_partial_probe_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in similarity.ivf_topk(emb, queries, k=5, n_lists=8, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # 3/8 lists probed; data-adaptive buckets


def test_ivf_pandas_assignment_matches_catalyst(spark, sf_dir):
    """The broadcast-numpy assignment (scale path for 4k+ lists) must
    agree with the codegen'd argmin on every vector, including the tie
    rule (lowest list id)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centers = similarity.kmeans_centroids(emb, n_lists=8)
    catalyst = {
        r.vec_id: r.list_id
        for r in emb.withColumn(
            "list_id", similarity.ivf_assign(F.col("embedding"), centers)
        ).collect()
    }
    pandas_path = {
        r.vec_id: r.list_id
        for r in similarity.ivf_assign_pandas(emb, centers).collect()
    }
    diff = {v for v in catalyst if catalyst[v] != pandas_path.get(v)}
    if diff:
        # BLAS matmul vs codegen'd fold can round the last ulp apart;
        # for a vector whose two best centroids score within epsilon the
        # argmin may legitimately flip. Only a mismatch on a vector with
        # a CLEAR winner is a real bug (ADVICE r4: don't let testdata
        # drift make this flaky).
        import numpy as np

        c = np.asarray(centers, dtype=np.float64)
        vecs = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()
            if r.vec_id in diff
        }
        for vid, v in vecs.items():
            d = ((c - v) ** 2).sum(axis=1)
            best2 = np.sort(d)[:2]
            gap = abs(best2[1] - best2[0])
            assert gap <= 1e-9 * max(1.0, best2[1]), (
                f"vec {vid}: lists {catalyst[vid]} vs {pandas_path.get(vid)} "
                f"with clear distance gap {gap}"
            )


def test_ivf_pandas_assignment_null_propagates(spark):
    """NULL embeddings must yield NULL list_id (like the Catalyst path),
    not crash the Arrow batch."""
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=None),
            Row(vec_id=2, embedding=[0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    centers = [[1.0, 0.0], [0.0, 1.0]]
    rows = {r.vec_id: r.list_id for r in similarity.ivf_assign_pandas(emb, centers).collect()}
    assert rows[0] == 0 and rows[2] == 1
    assert rows[1] is None


def test_avi_truncated_and_multistream(spark):
    """Truncated RIFF bodies raise ValueError (not struct.error), so
    the frame extractor's tag-don't-kill contract holds; secondary
    streams' chunks ('01db') are not merged into stream 0's frames."""
    import struct

    import pytest as _pytest

    truncated = b"RIFF" + struct.pack("<I", 100) + b"AVI " + b"LIST"
    with _pytest.raises(ValueError):
        multimodal.decode_avi(truncated)

    # a frame chunk whose declared size overruns the buffer must raise,
    # not silently emit a short frame (ADVICE r5)
    good = multimodal.encode_avi(4, 2, [bytes(3 * 4 * 2)])
    db_at = good.find(b"00db")
    overrun = (
        good[: db_at + 4] + struct.pack("<I", 10_000) + good[db_at + 8 :]
    )
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_avi(overrun)
    media = spark.createDataFrame(
        [(1, "mem://t", "video", bytearray(truncated), len(truncated))],
        "media_id long, uri string, media_type string, payload binary, n_bytes long",
    )
    assert multimodal.decode_avi_frames(media).count() == 0

    # splice a second-stream chunk into a valid AVI: it must be ignored
    frames = [bytes(3 * 4 * 2)]
    avi = multimodal.encode_avi(4, 2, frames)
    extra = b"01db" + struct.pack("<I", 4) + b"\x01\x02\x03\x04"
    movi_at = avi.find(b"movi")
    spliced = avi[: movi_at + 4] + extra + avi[movi_at + 4 :]
    # fix up RIFF + movi LIST sizes for the inserted 12 bytes
    riff_size = struct.unpack_from("<I", spliced, 4)[0] + len(extra)
    spliced = spliced[:4] + struct.pack("<I", riff_size) + spliced[8:]
    list_hdr = spliced.rfind(b"LIST", 0, movi_at)
    list_size = struct.unpack_from("<I", spliced, list_hdr + 4)[0] + len(extra)
    spliced = (
        spliced[: list_hdr + 4] + struct.pack("<I", list_size) + spliced[list_hdr + 8 :]
    )
    w, h, got = multimodal.decode_avi(spliced)
    assert (w, h) == (4, 2)
    assert got == frames  # the 01db chunk did not leak in

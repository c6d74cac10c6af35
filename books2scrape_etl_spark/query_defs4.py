"""Wave-4 qnames — training-data pipeline operators (deterministic
sampling, mixture weighting, sequence packing, star-contraction CC) and
the scalar-function consolidation suite.

The sampling/packing operators have no reference analogue (the
reference emits one CSV row per book, extract_pipeline.py:10-94); they
are the LLM-corpus extension the task brief names as first-class. Each
oracle-paired entry re-derives the SAME deterministic rule in DuckDB —
including the next-fit packer, whose oracle is a recursive CTE — so the
driver gets hard value-level evidence, not rows-only counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register
# Registration-order deps: this module wraps oracles registered by
# the modules below, so a DIRECT import of this module (tests) must
# pull them first (queries.py already imports everything in order).
from books2scrape_etl_spark import query_defs as _dep1  # noqa: F401,E402
from books2scrape_etl_spark import query_defs2 as _dep2  # noqa: F401,E402

# Engine-portable bucket rule (operators/sampling.py:hash_bucket) in
# DuckDB form — substitute the key expression.
_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 1000"


@register(
    "scalar_funcs_suite",
    """
    SELECT p_partkey,
           upper(p_name) AS up,
           substring(p_name, 1, 5) AS sub5,
           lpad(p_brand, 12, '.') AS padded,
           levenshtein(p_brand, 'Brand#11') AS lev,
           concat_ws('|', p_brand, p_type) AS joined,
           translate(p_type, 'ae', 'AE') AS translated,
           length(p_name) AS len,
           CAST(floor(p_retailprice) AS BIGINT) AS fl,
           CAST(ceil(p_retailprice) AS BIGINT) AS ce,
           abs(p_retailprice - 1000.0) AS ab,
           CAST(p_partkey % 7 AS BIGINT) AS md,
           sqrt(p_size) AS sq,
           round(p_retailprice / 3.0, 2) AS rd
    FROM part
    """,
)
def q_scalar_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string + math families in ONE part scan (the per-family
    qnames ``string_funcs`` / ``math_funcs`` stay registered after the
    window): case/substring/pad/edit-distance/concat/translate/length
    plus the IEEE-exact math set (floor/ceil/abs/mod/sqrt, one explicit
    round — transcendentals excluded: libm differs in the last ulp
    across engines). All codegen'd builtins, zero shuffles."""
    p = read_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.lpad("p_brand", 12, ".").alias("padded"),
        F.levenshtein("p_brand", F.lit("Brand#11")).alias("lev"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.translate("p_type", "ae", "AE").alias("translated"),
        F.length("p_name").alias("len"),
        F.floor("p_retailprice").alias("fl"),
        F.ceil("p_retailprice").alias("ce"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("ab"),
        (F.col("p_partkey") % 7).alias("md"),
        F.sqrt("p_size").alias("sq"),
        F.round(F.col("p_retailprice") / 3.0, 2).alias("rd"),
    )


@register(
    "split_train_test",
    f"""
    WITH b AS (SELECT doc_id, {_BUCKET_SQL.format(key="doc_id")} AS bucket
               FROM documents)
    SELECT doc_id, bucket,
           CASE WHEN bucket < 900 THEN 'train'
                WHEN bucket < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment over documents
    (operators/sampling.py:split_assign): bucket = md5-hash of doc_id
    mod 1000, split by cumulative thresholds. Pure projection — no
    shuffle, no RNG; the oracle re-derives every bucket independently,
    so the check pins per-document placement, not just split sizes."""
    from books2scrape_etl_spark.operators.sampling import split_assign

    docs = read_table(spark, "documents", sf_dir).select("doc_id")
    return split_assign(docs, "doc_id")


@register(
    "corpus_mixture",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             {_BUCKET_SQL.format(key="doc_id")} AS bucket,
             CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                         WHEN 'src2' THEN 0.5 ELSE 0.25 END AS wt
      FROM documents),
    c AS (
      SELECT doc_id, source, bucket,
             CAST(floor(wt) AS INTEGER)
             + CASE WHEN bucket < CAST((wt - floor(wt)) * 1000 AS BIGINT)
                    THEN 1 ELSE 0 END AS n_copies
      FROM w)
    SELECT doc_id, source, bucket,
           CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS epoch
    FROM c
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset-mixture weighting
    (operators/sampling.py:mixture_sample): src0 upsampled to 2.5
    epochs (2 full copies + a pinned fractional subset), src1 kept,
    src2 halved, the rest at 0.25. The epoch column tags copies. The
    oracle re-derives copy counts per document and fans out with a
    lateral generate_series — value-level parity on the exact
    kept/duplicated multiset via unnest(generate_series), weights
    chosen as exact binary fractions so both engines' float arithmetic
    agrees bit-for-bit."""
    from books2scrape_etl_spark.operators.sampling import mixture_sample

    docs = read_table(spark, "documents", sf_dir).select("doc_id", "source")
    return mixture_sample(
        docs, "source", "doc_id", {"src0": 2.5, "src1": 1.0, "src2": 0.5}, default_weight=0.25
    )


@register(
    "pack_next_fit",
    """
    WITH RECURSIVE docs AS (
      SELECT lang, doc_id, n_chars,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                  AS BIGINT) AS rn
      FROM documents),
    state AS (
      SELECT lang, doc_id, n_chars, rn, n_chars AS acc,
             CAST(1 AS BIGINT) AS pack_id
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.doc_id, d.n_chars, d.rn,
             CASE WHEN s.acc + d.n_chars > 2048
                  THEN d.n_chars ELSE s.acc + d.n_chars END,
             CASE WHEN s.acc + d.n_chars > 2048
                  THEN s.pack_id + 1 ELSE s.pack_id END
      FROM state s JOIN docs d ON d.lang = s.lang AND d.rn = s.rn + 1)
    SELECT lang, doc_id, n_chars, pack_id FROM state
    """,
)
def q_pack_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py:pack_next_fit): documents
    packed per language into 2048-char windows, next-fit in doc_id
    order. The Spark side packs each group inside one applyInPandas
    kernel; the oracle REPLAYS the same sequential recurrence as a
    recursive CTE — an independent engine deriving identical pack ids
    is the strongest available evidence for an order-sensitive op."""
    from books2scrape_etl_spark.operators.packing import pack_next_fit

    docs = read_table(spark, "documents", sf_dir)
    return pack_next_fit(docs, "lang", "doc_id", "n_chars", 2048)


@register(
    "vocab_topk",
    """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE token <> '' GROUP BY token)
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INTEGER) AS rank
    FROM counts
    QUALIFY rank <= 100
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build — top-100 whitespace tokens by frequency
    (the counting stage of any tokenizer/vocab training). explode is a
    generator inside the scan stage; the count is a partial+final agg
    on token (only (token, count) pairs shuffle — never documents);
    top-k plans as TakeOrderedAndProject with a deterministic (count
    desc, token asc) tiebreak."""
    docs = read_table(spark, "documents", sf_dir)
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from books2scrape_etl_spark.query_defs import topk_with_rank

    keys = (F.col("cnt").desc(), F.col("token").asc())
    return topk_with_rank(counts, keys, 100, rank_col="rank")


@register(
    "shuffle_shards",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS sort_key
      FROM documents)
    SELECT doc_id, sort_key, CAST(sort_key % 8 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY sort_key % 8
                                   ORDER BY sort_key, doc_id) AS INTEGER) AS pos
    FROM s
    """,
)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pre-training shuffle + sharding: the md5 sort key
    is a pseudo-random but reproducible permutation (same order every
    run, any cluster size — RNG shuffles are neither), shard = key mod
    8, pos = position within shard. At scale the window rank is
    verification-only — the production form is repartition(shard) +
    sortWithinPartitions(sort_key), which shuffles once and never
    global-sorts."""
    from books2scrape_etl_spark.operators.sampling import hash_bucket
    from pyspark.sql import Window

    docs = read_table(spark, "documents", sf_dir).select("doc_id")
    keyed = docs.select(
        "doc_id", hash_bucket("doc_id", 1 << 32).alias("sort_key")
    ).withColumn("shard", F.col("sort_key") % 8)
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return keyed.select(
        "doc_id", "sort_key", "shard", F.row_number().over(w).alias("pos")
    )


@register(
    "repetition_stats",
    """
    WITH arr AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS a
      FROM documents),
    w AS (SELECT doc_id, unnest(a) AS word FROM arr),
    tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT word) AS BIGINT) AS nd
      FROM w GROUP BY doc_id),
    topw AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS mx FROM (
        SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word)
      GROUP BY doc_id),
    bgi AS (
      SELECT doc_id, a,
             unnest(generate_series(1, greatest(len(a) - 1, 0))) AS i
      FROM arr),
    bg AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS bigram FROM bgi),
    topbg AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS mx FROM (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
      GROUP BY doc_id),
    f AS (
      SELECT t.doc_id, t.n,
             CAST(t.n - t.nd AS DOUBLE) / greatest(t.n, 1) AS dup_word_frac,
             CAST(tw.mx AS DOUBLE) / greatest(t.n, 1) AS top_word_frac,
             CAST(COALESCE(tb.mx, 0) AS DOUBLE) / greatest(t.n - 1, 1)
               AS top_bigram_frac
      FROM tot t
      JOIN topw tw USING (doc_id)
      LEFT JOIN topbg tb USING (doc_id))
    SELECT doc_id, n AS n_words, dup_word_frac, top_word_frac, top_bigram_frac,
           (dup_word_frac <= 0.6 AND top_word_frac <= 0.2
            AND top_bigram_frac <= 0.1) AS keep
    FROM f
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — Gopher-style repetition filter (operators/text.py:
    repetition_stats): duplicate-word / top-word / top-bigram fractions
    plus the keep verdict. The Spark side computes counts with
    higher-order-function folds over the word array (map-side, zero
    shuffles); the oracle derives the same counts by unnest + GROUP BY —
    two independent formulations agreeing on every IEEE division."""
    from books2scrape_etl_spark.operators.text import repetition_stats

    docs = read_table(spark, "documents", sf_dir)
    return repetition_stats(docs)


# Shared CTE prefix: winnowing fingerprints (operators/winnow.py) in
# DuckDB form — normalize, all 8-grams, portable md5-prefix hash,
# min over the trailing-8 window (prefix windows for pos < 8), distinct.
_WINNOW_FPS_CTE = """
    n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents),
    g AS (
      SELECT doc_id, unnest(generate_series(1, length(t) - 7)) AS pos, t
      FROM n WHERE length(t) >= 8),
    h AS (
      SELECT doc_id, pos,
             CAST(('0x' || substr(md5(substr(t, pos, 8)), 1, 8)) AS BIGINT) AS hash
      FROM g),
    m AS (
      SELECT doc_id,
             min(hash) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fp
      FROM h),
    fps AS (SELECT DISTINCT doc_id, fp FROM m)
"""


@register("winnow_fingerprint", f"WITH {_WINNOW_FPS_CTE} SELECT doc_id, fp FROM fps")
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 rolling-hash fingerprinting (operators/winnow.py, MOSS-style
    winnowing, k=8 w=8): per-document distinct window-minimum k-gram
    hashes. Map-side Catalyst gram hashing + one Arrow pandas UDF for
    the sliding min — zero shuffles. The oracle replays the identical
    rule through an unnest + SQL window, pinning every fingerprint
    value, not just counts."""
    from books2scrape_etl_spark.operators.winnow import winnow_fingerprints

    docs = read_table(spark, "documents", sf_dir)
    return winnow_fingerprints(docs, k=8, w=8)


@register(
    "winnow_candidates",
    f"""
    WITH {_WINNOW_FPS_CTE},
    keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 50),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM kept a JOIN kept b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def q_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs via shared winnowing fingerprints
    (≥3 shared, document-frequency cap 50 to drop boilerplate AND bound
    per-fingerprint join fan-out — the skew guard). An equi-join on
    fingerprint value, like the LSH band join: all-pairs never
    materializes."""
    from books2scrape_etl_spark.operators.winnow import winnow_candidates

    docs = read_table(spark, "documents", sf_dir)
    return winnow_candidates(docs, max_df=50, min_shared=3)


def _check_row(name: str, n_df: DataFrame) -> DataFrame:
    """(kind='check', k=name, n1=violations, n2=ok) from a 1-row agg
    holding column ``n`` — the invariant-oracle row shape shared by the
    pack_ffd / dedup_cc_star / embed_generate conversions (the
    embed_near_dup pattern, VERDICT r8 item 5)."""
    return n_df.select(
        F.lit("check").alias("kind"),
        F.lit(name).alias("k"),
        F.col("n").cast("bigint").alias("n1"),
        (F.col("n") == 0).cast("bigint").alias("n2"),
    )


_PACK_FFD_SQL = """
    SELECT 'lang' AS kind, lang AS k,
           CAST(COUNT(*) AS BIGINT) AS n1, CAST(SUM(n_chars) AS BIGINT) AS n2
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'check', v.k, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
    FROM (VALUES ('capacity_or_oversize_singleton'),
                 ('every_doc_packed_exactly_once'),
                 ('pack_ids_contiguous'),
                 ('bins_within_proven_bounds')) AS v(k)
    ORDER BY kind, k
    """


@register("pack_ffd", _PACK_FFD_SQL)
def q_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing (operators/packing.py), converted
    rows-only → invariant oracle (the embed_near_dup pattern): FFD's
    bin scan has no tractable SQL twin, but its LAWS do —

    - 'capacity_or_oversize_singleton': every pack fits the 2048-char
      window, except oversize docs, which must sit alone (the kernel
      opens them a negative-remainder pack nothing else can enter);
    - 'every_doc_packed_exactly_once': packed ids ≡ input ids as a
      multiset (full-outer placement-count join, violations 0);
    - 'pack_ids_contiguous': per group, pack ids are exactly 1..n;
    - 'bins_within_proven_bounds': LB ≤ n_packs ≤ UB per group, with
      LB = n_oversize + ceil(sum_non/cap) (counting both pack kinds)
      and UB = n_oversize + floor(2·sum_non/cap) + 1 — the any-fit
      theorem: two non-oversize FFD packs can't both end ≤ half full
      (the later pack's opening item didn't fit the earlier one, so it
      alone exceeds cap/2). Data-independent, unlike the empirical
      "FFD ≤ next-fit" the unit tests also pin on this corpus.

    The per-lang rows carry SQL-exact doc/char totals so the hash
    still pins the input contract, not just the booleans.
    """
    from books2scrape_etl_spark.operators.packing import pack_first_fit_decreasing

    cap = 2048
    docs = read_table(spark, "documents", sf_dir).select("lang", "doc_id", "n_chars")
    packed = pack_first_fit_decreasing(docs, "lang", "doc_id", "n_chars", cap)
    per_pack = packed.groupBy("lang", "pack_id").agg(
        F.sum("n_chars").alias("pack_size"),
        F.count(F.lit(1)).alias("n_in"),
        F.max("n_chars").alias("max_item"),
    )
    bad_cap = per_pack.where(
        ~(
            (F.col("pack_size") <= cap)
            | ((F.col("n_in") == 1) & (F.col("max_item") > cap))
        )
    )
    placed = packed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_placed"))
    bad_cov = (
        docs.select("doc_id")
        .join(placed, "doc_id", "full")
        .where(F.coalesce(F.col("n_placed"), F.lit(0)) != 1)
    )
    per_lang = per_pack.groupBy("lang").agg(
        F.countDistinct("pack_id").alias("n_packs"),
        F.min("pack_id").alias("min_pid"),
        F.max("pack_id").alias("max_pid"),
    )
    bounds = docs.groupBy("lang").agg(
        F.sum(F.when(F.col("n_chars") > cap, 1).otherwise(0)).alias("n_over"),
        F.sum(F.when(F.col("n_chars") <= cap, F.col("n_chars")).otherwise(0)).alias(
            "sum_non"
        ),
    )
    j = per_lang.join(bounds, "lang", "full")
    bad_contig = j.where(
        (F.col("min_pid") != 1) | (F.col("max_pid") != F.col("n_packs"))
    )
    lb = F.col("n_over") + F.expr(f"(sum_non + {cap - 1}) div {cap}")
    ub = F.col("n_over") + F.expr(f"(2 * sum_non) div {cap}") + F.lit(1)
    bad_bounds = j.where(~F.col("n_packs").between(lb, ub))

    def n(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n"))

    lang_rows = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n1"),
            F.sum("n_chars").cast("bigint").alias("n2"),
        )
        .select(
            F.lit("lang").alias("kind"), F.col("lang").alias("k"), "n1", "n2"
        )
    )
    return (
        lang_rows.union(_check_row("capacity_or_oversize_singleton", n(bad_cap)))
        .union(_check_row("every_doc_packed_exactly_once", n(bad_cov)))
        .union(_check_row("pack_ids_contiguous", n(bad_contig)))
        .union(_check_row("bins_within_proven_bounds", n(bad_bounds)))
        .orderBy("kind", "k")
    )


_CC_STAR_SQL = """
    SELECT 'check' AS kind, v.k,
           CAST(0 AS BIGINT) AS n1, CAST(1 AS BIGINT) AS n2
    FROM (VALUES ('star_equals_propagation'),
                 ('no_exact_dup_pair_survives'),
                 ('one_survivor_per_component')) AS v(k)
    ORDER BY k
    """


@register("dedup_cc_star", _CC_STAR_SQL)
def q_dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 exact-grouping dedup with large-star/small-star connected
    components (operators/dedupe.py:connected_components_star — O(log)
    rounds vs propagation's O(diameter); Kiveris et al. 2014),
    converted rows-only → invariant oracle: the xxhash64-seeded kept
    set has no SQL twin, but one candidate-generation pass
    (verified_similar_pairs) feeds BOTH CC algorithms and three laws —

    - 'star_equals_propagation': the two implementations' min-id
      labelings agree node-for-node on the same verified edge list
      (full-outer label join, violations 0) — the in-plan differential
      the unit tests run on synthetic chains, here on real data;
    - 'no_exact_dup_pair_survives': docs with identical text and a
      non-empty shingle set share all band signatures, so every such
      pair is a guaranteed candidate at Jaccard 1 — the group is a
      clique in one component, which keeps at most one of them. (Not
      "exactly one": the component's min-id survivor may be a NEAR-dup
      with different text, legitimately leaving the group with zero.);
    - 'one_survivor_per_component': each component keeps exactly its
      min-id member — dedup drops size-1 per component, no more, no
      less.
    """
    from books2scrape_etl_spark.operators import dedupe

    docs = read_table(spark, "documents", sf_dir)
    # pin the lazy edge list once (localCheckpoint): both CC algorithms
    # read it, and each would otherwise re-run the candidate join and
    # the Jaccard verification over the staged shingle/band slots
    pairs = dedupe.verified_similar_pairs(docs, threshold=0.6).localCheckpoint(eager=True)
    comp_star = dedupe.connected_components_star(pairs)
    comp_prop = dedupe.connected_components(pairs)
    lab = comp_star.select(
        "doc_id", F.col("component").alias("c_star")
    ).join(
        comp_prop.select("doc_id", F.col("component").alias("c_prop")),
        "doc_id",
        "full",
    )
    bad_agree = lab.where(
        ~(F.col("c_star") == F.col("c_prop"))
        | F.col("c_star").isNull()
        | F.col("c_prop").isNull()
    )
    surv = docs.join(
        comp_star.where(F.col("doc_id") != F.col("component")).select("doc_id"),
        "doc_id",
        "left_anti",
    ).select("doc_id")
    elig = docs.where(
        F.size(dedupe.word_shingles("text", dedupe.SHINGLE_N)) > 0
    ).select("doc_id", F.md5("text").alias("fp"))
    grp = elig.groupBy("fp").agg(F.count(F.lit(1)).alias("n_members"))
    surv_per_fp = (
        elig.join(surv, "doc_id").groupBy("fp").agg(F.count(F.lit(1)).alias("n_surv"))
    )
    bad_exact = (
        grp.where(F.col("n_members") >= 2)
        .join(surv_per_fp, "fp", "left")
        .where(F.coalesce(F.col("n_surv"), F.lit(0)) > 1)
    )
    surv_per_comp = (
        comp_star.join(surv, "doc_id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_surv"))
    )
    bad_comp = comp_star.select("component").distinct().join(
        surv_per_comp, "component", "left"
    ).where(F.coalesce(F.col("n_surv"), F.lit(0)) != 1)

    def n(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n"))

    return (
        _check_row("star_equals_propagation", n(bad_agree))
        .union(_check_row("no_exact_dup_pair_survives", n(bad_exact)))
        .union(_check_row("one_survivor_per_component", n(bad_comp)))
        .orderBy("k")
    )


# ---------------------------------------------------------------------
# Consolidation suites (same trick as scalar_funcs_suite): pack several
# single-operator qnames into ONE oracle-paired qname so each frees a
# slot in the driver's 50-entry correctness window for the wave-4
# training ops. The underlying singles stay registered (and land right
# after the window), and each suite row normalizes the component's full
# output into a (kind, k, ...) union — a value change in ANY component
# still flips the suite hash. Oracle SQL is composed by wrapping the
# singles' already-registered oracle strings, so both sides stay
# definitionally in sync with the standalone qnames.
# ---------------------------------------------------------------------

from books2scrape_etl_spark.registry import ORACLE_SQL, QUERIES  # noqa: E402


@register(
    "sources_suite",
    f"""
    SELECT 'range' AS kind, CAST(page_no AS BIGINT) AS k, url AS s,
           CAST(NULL AS DOUBLE) AS v
    FROM ({ORACLE_SQL["range_source"]})
    UNION ALL
    SELECT 'csv', CAST(n_nationkey AS BIGINT),
           n_name || '|' || CAST(n_regionkey AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM ({ORACLE_SQL["scan_csv"]})
    UNION ALL
    SELECT 'parquet', CAST(p_partkey AS BIGINT), p_name,
           CAST(p_retailprice AS DOUBLE)
    FROM ({ORACLE_SQL["scan_parquet"]})
    UNION ALL
    SELECT 'parse', k, s, v FROM (VALUES
      (CAST(22 AS BIGINT), 'A Light in the Attic|abc123|Poetry|Â£51.77',
       CAST(3 AS DOUBLE)),
      (CAST(20 AS BIGINT),
       'Tipping the Velvet|def456|Historical Fiction|Â£53.74',
       CAST(1 AS DOUBLE)),
      (CAST(3 AS BIGINT), 'Soumission|ghi789|Fiction|Â£50.10',
       CAST(5 AS DOUBLE))) AS tp(k, s, v)
    UNION ALL
    SELECT 'links', CAST(NULL AS BIGINT), s, CAST(NULL AS DOUBLE) FROM (VALUES
      ('http://books.toscrape.com/catalogue/page-1.html|http://books.toscrape.com/catalogue/a-light-in-the-attic_1000/index.html'),
      ('http://books.toscrape.com/catalogue/page-1.html|http://books.toscrape.com/catalogue/tipping-the-velvet_999/index.html'),
      ('http://books.toscrape.com/catalogue/page-1.html|http://books.toscrape.com/catalogue/soumission_998/index.html'),
      ('http://books.toscrape.com/catalogue/page-2.html|http://books.toscrape.com/catalogue/sharp-objects_997/index.html')) AS tl(s)
    """,
)
def q_sources_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S7 in one window slot: range source, CSV sink→scan round trip
    (explicit schema), parquet scan with pushdown, PLUS the two HTML
    stages run against the offline fixtures with golden-value oracles —
    'parse' (S2: detail HTML → typed struct; Title|UPC|Category|price
    packed into s, stock into k, rating into v) and 'links' (S3:
    listing HTML → exploded detail URLs). The golden VALUES are pinned
    from the fixture pages (the reference's own dirty data, mojibake
    included, extract_pipeline.py:10-51), so the parse UDFs get a hash
    signal, not just a row count. Union-normalized to (kind, k, s, v)."""
    null_d = F.lit(None).cast("double")
    r = QUERIES["range_source"](spark, sf_dir).select(
        F.lit("range").alias("kind"),
        F.col("page_no").cast("long").alias("k"),
        F.col("url").alias("s"),
        null_d.alias("v"),
    )
    c = QUERIES["scan_csv"](spark, sf_dir).select(
        F.lit("csv").alias("kind"),
        F.col("n_nationkey").cast("long").alias("k"),
        F.concat_ws("|", F.col("n_name"), F.col("n_regionkey").cast("string")).alias("s"),
        null_d.alias("v"),
    )
    p = QUERIES["scan_parquet"](spark, sf_dir).select(
        F.lit("parquet").alias("kind"),
        F.col("p_partkey").cast("long").alias("k"),
        F.col("p_name").alias("s"),
        F.col("p_retailprice").cast("double").alias("v"),
    )
    bk = QUERIES["parse_struct_expand"](spark, sf_dir).select(
        F.lit("parse").alias("kind"),
        F.col("No_of_books_in_Stock").cast("long").alias("k"),
        F.concat_ws(
            "|", "Title", "UPC", "Category", F.col("`Price (excl. tax)`")
        ).alias("s"),
        F.col("Rating").cast("double").alias("v"),
    )
    lk = QUERIES["explode_links"](spark, sf_dir).select(
        F.lit("links").alias("kind"),
        F.lit(None).cast("long").alias("k"),
        F.concat_ws("|", "listing_url", "url").alias("s"),
        null_d.alias("v"),
    )
    return r.union(c).union(p).union(bk).union(lk)


@register(
    "clean_suite",
    f"""
    SELECT 'currency' AS kind, CAST(p_partkey AS BIGINT) AS k,
           CAST(NULL AS VARCHAR) AS s, CAST(price_clean AS DOUBLE) AS v
    FROM ({ORACLE_SQL["clean_currency"]})
    UNION ALL
    SELECT 'desc', CAST(doc_id AS BIGINT), description, CAST(NULL AS DOUBLE)
    FROM ({ORACLE_SQL["clean_description"]})
    """,
)
def q_clean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 + P2 in one window slot: currency clean and description-suffix
    strip, union-normalized to (kind, k, s, v)."""
    cur = QUERIES["clean_currency"](spark, sf_dir).select(
        F.lit("currency").alias("kind"),
        F.col("p_partkey").cast("long").alias("k"),
        F.lit(None).cast("string").alias("s"),
        F.col("price_clean").cast("double").alias("v"),
    )
    des = QUERIES["clean_description"](spark, sf_dir).select(
        F.lit("desc").alias("kind"),
        F.col("doc_id").cast("long").alias("k"),
        F.col("description").alias("s"),
        F.lit(None).cast("double").alias("v"),
    )
    return cur.union(des)


# The suite's 'hopping' section replays the SAME oracle as the
# window_hopping single (query_defs11) — one definition, no drift.
# Import is acyclic: query_defs11 pulls only queries/query_defs.
from books2scrape_etl_spark.query_defs11 import _HOPPING_SQL as _HOPPING_ORACLE_SQL  # noqa: E402

# same pattern for the 'ohlc_*' sections (r7): the suite replays the
# ohlc_bars single's oracle. NOT imported from query_defs12 — a direct
# `import query_defs12` (tests do this) would then re-enter query_defs4
# mid-init and hit a partially initialized module; oracle_shared is
# cycle-free by construction.
from books2scrape_etl_spark.oracle_shared import OHLC_SQL as _OHLC_ORACLE_SQL  # noqa: E402

# hoisted so stream_windows_suite's composed oracle (registered above
# stream_join in this file) and the stream_join register share ONE
# definition — the suite 'join' section and the single can never drift
_STREAM_JOIN_SQL = """
    WITH c AS (
      SELECT user_id, event_id AS click_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS c_e
      FROM events WHERE event_type = 'click'),
    b AS (
      SELECT user_id, event_id AS buy_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS b_e
      FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, click_id, buy_id, b_e - c_e AS lag_s
    FROM c JOIN b USING (user_id)
    WHERE b_e >= c_e AND b_e <= c_e + 1800
    """


@register(
    "stream_windows_suite",
    f"""
    SELECT 'tumbling' AS kind, CAST(bucket AS BIGINT) AS k1,
           CAST(NULL AS BIGINT) AS k2, event_type AS s,
           CAST(n_events AS BIGINT) AS n, CAST(sum_value AS DOUBLE) AS v
    FROM ({ORACLE_SQL["stream_tumbling"]})
    UNION ALL
    SELECT 'session', CAST(user_id AS BIGINT), CAST(session_start AS BIGINT),
           CAST(session_end AS VARCHAR), CAST(n_events AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({ORACLE_SQL["stream_session"]})
    UNION ALL
    SELECT 'dedup', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), event_type,
           CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'stateful', CAST(user_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(COUNT(*) AS BIGINT),
           CAST(MAX(value) AS DOUBLE)
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'join', CAST(user_id AS BIGINT), CAST(click_id AS BIGINT),
           CAST(buy_id AS VARCHAR), CAST(lag_s AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({_STREAM_JOIN_SQL})
    UNION ALL
    SELECT 'hopping', CAST(window_start AS BIGINT), CAST(NULL AS BIGINT),
           event_type, CAST(n_events AS BIGINT), CAST(sum_value AS DOUBLE)
    FROM ({_HOPPING_ORACLE_SQL})
    UNION ALL
    SELECT 'ohlc_open', CAST(bucket_es AS BIGINT), CAST(NULL AS BIGINT),
           event_type, CAST(volume AS BIGINT), CAST(open AS DOUBLE)
    FROM ({_OHLC_ORACLE_SQL})
    UNION ALL
    SELECT 'ohlc_close', CAST(bucket_es AS BIGINT), CAST(NULL AS BIGINT),
           event_type, CAST(volume AS BIGINT), CAST(close AS DOUBLE)
    FROM ({_OHLC_ORACLE_SQL})
    UNION ALL
    SELECT 'star', CAST(3 AS BIGINT), CAST(9 AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(2364.04 AS DOUBLE)
    UNION ALL
    SELECT 'source', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
           'abc123,def456,ghi789', CAST(9 AS BIGINT),
           CAST(45 AS DOUBLE)
    """,
)
def q_stream_windows_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T7 in one window slot, union-normalized to (kind, k1, k2, s,
    n, v). Two batch-equivalent sections (T2 tumbling, T3 session) plus
    FIVE REAL drained streams, so the streaming machinery itself — not
    just its window expressions — is value-verified:

    - 'hopping' (T2b streaming, r7): watermarked F.window(30m, 10m)
      hopping counts over a real readStream drained with availableNow;
      must equal the batch form, whose 3-way window expansion the
      oracle replays (same SQL as the window_hopping single).
    - 'dedup' (T1+T4+T5): dropDuplicatesWithinWatermark over a stream
      where every event arrives TWICE (duplicated landing files); the
      deduped per-type counts must equal the plain single-copy GROUP BY
      — the oracle needs no streaming notion at all.
    - 'stateful' (T1+T6): applyInPandasWithState running max + count
      per user, drained with availableNow; with one landing file the
      final state per key is exactly MAX(value) / COUNT(*) per user.
    - 'join' (T7, r5): the watermarked stream-stream interval join
      drained to completion; every (click, purchase) attribution pair
      must equal the batch interval join the oracle replays — state
      eviction or watermark bugs change the pair set and break the hash.
    - 'ohlc_open'/'ohlc_close' (T2c streaming, r7): min_by/max_by on
      the composite (epoch, event_id) key as STREAMING aggregates in a
      watermarked hourly window, drained complete; open/close must
      settle to the same rows the batch ohlc_bars single picks (same
      oracle SQL) no matter how the drain splits into micro-batches —
      the extremum state is a constant-size mergeable pair.
    - 'star' (T1 over the reference DAG, r5): the foreachBatch books
      star build (streaming/pipeline.py) drained from fixture landing
      files; the landed fact must hold each book EXACTLY once across
      batches (idempotent batch_id-partitioned writes) — golden-pinned
      (3 fact rows, ratings sum 9, inventory value 2364.04, same
      constants as books_e2e).
    - 'source' (S1-S4 streaming, r6): the Python Data Source books
      stream (SimpleDataSourceStreamReader, one listing page per
      micro-batch with checkpointed page offsets) drained and compared
      against the BATCH read of the same source — k2 is the symmetric
      difference row count (must be 0: offset replay may neither drop
      nor duplicate a book), and count / rating sum / stock sum / the
      sorted UPC list are golden-pinned to the fixture constants.
      (Since r9c3 the books_stream_source_rt single carries its own
      golden per-category oracle; this section remains the
      full-schema symmetric-difference check.)
    """
    from books2scrape_etl_spark.streaming.windows import (
        stateful_running_max,
        streaming_dedup,
        streaming_hopping,
        streaming_ohlc,
    )

    # The seven REAL drains are independent (uuid'd memory tables and
    # checkpoint dirs, same events input) — run them as CONCURRENT
    # streaming queries instead of back-to-back. Each drain's result is
    # pinned (memory table localCheckpoint / eager summary) before its
    # future resolves, so assembly below is pure plan-building. The
    # nested _few_state_partitions guards all set the same value, so
    # interleaved enter/exit pairs are benign; the last exit restores
    # the caller's setting. Measured: the suite's wall drops from the
    # SUM of drains to roughly the slowest drain.
    from concurrent.futures import ThreadPoolExecutor

    from books2scrape_etl_spark.streaming.windows import _few_state_partitions

    # outer guard: every inner guard then saves/restores the SAME value,
    # so one drain finishing early can't flip the conf to the session
    # default while a sibling's first micro-batch is still planning
    with _few_state_partitions(spark), ThreadPoolExecutor(max_workers=7) as pool:
        f_h = pool.submit(streaming_hopping, spark, sf_dir)
        f_d = pool.submit(streaming_dedup, spark, sf_dir, 2)
        f_st = pool.submit(stateful_running_max, spark, sf_dir)
        f_j = pool.submit(QUERIES["stream_join_rt"], spark, sf_dir)
        f_o = pool.submit(streaming_ohlc, spark, sf_dir)
        f_star = pool.submit(_streamed_books_star_summary, spark)
        f_src = pool.submit(_streamed_books_source_summary, spark)
        drained_h = f_h.result()
        drained_d = f_d.result()
        drained_st = f_st.result()
        drained_j = f_j.result()
        drained_o = f_o.result()
        drained_star = f_star.result()
        drained_src = f_src.result()

    t = QUERIES["stream_tumbling"](spark, sf_dir).select(
        F.lit("tumbling").alias("kind"),
        F.col("bucket").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("event_type").alias("s"),
        F.col("n_events").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("v"),
    )
    s = QUERIES["stream_session"](spark, sf_dir).select(
        F.lit("session").alias("kind"),
        F.col("user_id").cast("long").alias("k1"),
        F.col("session_start").cast("long").alias("k2"),
        F.col("session_end").cast("string").alias("s"),
        F.col("n_events").cast("long").alias("n"),
        F.lit(None).cast("double").alias("v"),
    )
    h = drained_h.select(
        F.lit("hopping").alias("kind"),
        F.col("window_start").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("event_type").alias("s"),
        F.col("n_events").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("v"),
    )
    d = drained_d.select(
        F.lit("dedup").alias("kind"),
        F.lit(None).cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("event_type").alias("s"),
        F.col("n_events").cast("long").alias("n"),
        F.lit(None).cast("double").alias("v"),
    )
    st = drained_st.select(
        F.lit("stateful").alias("kind"),
        F.col("user_id").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.lit(None).cast("string").alias("s"),
        F.col("n_seen").cast("long").alias("n"),
        F.col("max_value").cast("double").alias("v"),
    )
    j = drained_j.select(
        F.lit("join").alias("kind"),
        F.col("user_id").cast("long").alias("k1"),
        F.col("click_id").cast("long").alias("k2"),
        F.col("buy_id").cast("string").alias("s"),
        F.col("lag_s").cast("long").alias("n"),
        F.lit(None).cast("double").alias("v"),
    )
    o = drained_o
    o_open = o.select(
        F.lit("ohlc_open").alias("kind"),
        F.col("bucket_es").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("event_type").alias("s"),
        F.col("volume").cast("long").alias("n"),
        F.col("open").cast("double").alias("v"),
    )
    o_close = o.select(
        F.lit("ohlc_close").alias("kind"),
        F.col("bucket_es").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("event_type").alias("s"),
        F.col("volume").cast("long").alias("n"),
        F.col("close").cast("double").alias("v"),
    )
    star = drained_star.select(
        F.lit("star").alias("kind"),
        F.col("n_rows").cast("long").alias("k1"),
        F.col("rating_sum").cast("long").alias("k2"),
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("long").alias("n"),
        F.col("inv_value").cast("double").alias("v"),
    )
    src = drained_src.select(
        F.lit("source").alias("kind"),
        F.col("n_stream").cast("long").alias("k1"),
        F.col("n_diff").cast("long").alias("k2"),
        F.col("upcs").alias("s"),
        F.col("rating_sum").cast("long").alias("n"),
        F.col("stock_sum").cast("double").alias("v"),
    )
    return (
        t.union(s)
        .union(h)
        .union(d)
        .union(st)
        .union(j)
        .union(o_open)
        .union(o_close)
        .union(star)
        .union(src)
    )


def _streamed_books_source_summary(spark: SparkSession) -> DataFrame:
    """Drain the incremental books Data Source stream (one listing page
    per micro-batch, offsets checkpointed) and reduce it to
    (n_stream, rating_sum, stock_sum, upcs, n_diff) where n_diff is the
    full-schema symmetric difference against the batch read of the same
    source. Exactly-once offset replay is the property under test: a
    re-read or skipped page changes n_diff/counts away from the fixture
    goldens."""
    import os
    import tempfile
    import uuid

    from books2scrape_etl_spark.sources.datasource import register_books_source

    register_books_source(spark)
    name = f"books_src_{uuid.uuid4().hex[:8]}"
    # Checkpoint in a TemporaryDirectory removed after drain, and drop
    # the memory-sink table once its rows are pinned by an eager
    # localCheckpoint — otherwise every suite run leaks one ckpt dir
    # and one registered table (ADVICE r6). The checkpoint must
    # outlive awaitTermination only; the memory table must outlive the
    # localCheckpoint action only.
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        (
            spark.readStream.format("books")
            .option("pages", "2")
            .option("fixtures", "true")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(ckpt, "offsets"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        streamed = spark.table(name).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
    batch = (
        spark.read.format("books").option("pages", "2").option("fixtures", "true").load()
    )
    diff = streamed.exceptAll(batch).unionAll(batch.exceptAll(streamed))
    n_diff = diff.agg(F.count(F.lit(1)).alias("n_diff")).withColumn("j", F.lit(1))
    summ = (
        streamed.agg(
            F.count(F.lit(1)).alias("n_stream"),
            F.sum("Rating").cast("long").alias("rating_sum"),
            F.sum("No_of_books_in_Stock").cast("double").alias("stock_sum"),
            F.concat_ws(",", F.array_sort(F.collect_list("UPC"))).alias("upcs"),
        )
        .withColumn("j", F.lit(1))
    )
    return summ.join(n_diff, "j")


def _streamed_books_star_summary(spark: SparkSession) -> DataFrame:
    """Drain the foreachBatch books-star stream from fixture landing
    files and reduce the landed fact to (n_rows, rating_sum,
    inv_value). Exactly-once landing is the property under test: a
    duplicated or dropped batch changes n_rows/sums away from the
    golden fixture constants."""
    import os
    import tempfile

    from books2scrape_etl_spark.sources.fixtures_html import DETAIL_PAGES
    from books2scrape_etl_spark.sources.scrape import html_source, parse_books
    from books2scrape_etl_spark.streaming.pipeline import streaming_books_star

    # Same leak class as the source summary (ADVICE r6): landing and
    # sink dirs live only for this drain. The 1-row aggregate is pinned
    # eagerly before the dirs vanish.
    with tempfile.TemporaryDirectory(prefix="books_landing_") as tmp:
        landing = os.path.join(tmp, "landing")
        parse_books(html_source(spark, DETAIL_PAGES)).repartition(2).write.parquet(landing)
        fact = streaming_books_star(spark, landing, out_dir=os.path.join(tmp, "sink"))
        return fact.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("Rating").cast("long").alias("rating_sum"),
            F.round(F.sum(F.col("`Inventory Value`")), 2).alias("inv_value"),
        ).localCheckpoint(eager=True)


@register(
    "sketch_kmv",
    """
    WITH h AS (
      SELECT DISTINCT l_returnflag,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM lineitem),
    r AS (
      SELECT l_returnflag, hv,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
      FROM h),
    sk AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(MAX(hv) AS BIGINT) AS kth_hash
      FROM r WHERE rn <= 256 GROUP BY l_returnflag),
    e AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS exact_dv
      FROM h GROUP BY l_returnflag)
    SELECT sk.l_returnflag, k_used, kth_hash,
           CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                ELSE 1095216660480.0 / kth_hash END AS est_dv,
           exact_dv
    FROM sk JOIN e USING (l_returnflag)
    """,
)
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch (operators/sketch.py KMV, k=256):
    per returnflag, the k-minimum-values state (k_used, kth_hash) plus
    the estimate and the exact count for calibration. Unlike HLL, the
    sketch state is plain data, so the oracle value-matches the sketch
    itself — 1095216660480 = (k-1)·2^32 as one literal so both engines
    run the identical IEEE division."""
    from books2scrape_etl_spark.operators.sketch import kmv_distinct

    li = read_table(spark, "lineitem", sf_dir)
    return kmv_distinct(li, "l_orderkey", ["l_returnflag"], k=256)


@register("stream_join", _STREAM_JOIN_SQL)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 batch-equivalent — click→purchase attribution join within 30
    minutes per user (streaming/windows.py:click_purchase_join_batch).
    Epoch-floored longs on both sides keep the predicate TZ- and
    precision-portable."""
    from books2scrape_etl_spark.streaming import windows as stream_ops

    ev = read_table(spark, "events", sf_dir)
    return stream_ops.click_purchase_join_batch(ev, window_minutes=30)


@register("stream_join_rt", _STREAM_JOIN_SQL)
def q_stream_join_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — watermarked stream-stream interval join over a real
    readStream pair (state eviction bounded by watermark + join window;
    see streaming/windows.py:streaming_click_purchase_join). Direct
    oracle (conversion from rows-only): the drained pair set must equal
    the batch interval join the oracle replays — the same
    _STREAM_JOIN_SQL the stream_windows_suite 'join' section has
    hash-checked since r5, now also a hard row for the single."""
    from books2scrape_etl_spark.streaming import windows as stream_ops

    return stream_ops.streaming_click_purchase_join(spark, sf_dir, window_minutes=30)


@register(
    "scd2_upsert",
    """
    WITH dim AS (
      SELECT c_custkey, c_name, c_acctbal,
             CAST(1 AS INTEGER) AS version, TRUE AS is_current
      FROM customer),
    upd AS (
      SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey + 1000000, 999.0 FROM customer WHERE c_custkey % 97 = 0),
    j AS (
      SELECT d.c_custkey AS d_key, d.c_name, d.c_acctbal AS old_bal,
             d.version, u.c_custkey AS u_key, u.c_acctbal AS new_bal
      FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey)
    SELECT d_key AS c_custkey, c_name, old_bal AS c_acctbal, version,
           NOT (u_key IS NOT NULL AND new_bal IS DISTINCT FROM old_bal)
             AS is_current
    FROM j WHERE d_key IS NOT NULL
    UNION ALL
    SELECT d_key, c_name, new_bal, CAST(2 AS INTEGER), TRUE
    FROM j
    WHERE d_key IS NOT NULL AND u_key IS NOT NULL
      AND new_bal IS DISTINCT FROM old_bal
    UNION ALL
    SELECT u_key, CAST(NULL AS VARCHAR), new_bal, CAST(2 AS INTEGER), TRUE
    FROM j WHERE d_key IS NULL
    """,
)
def q_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension upsert (operators/scd.py) on a customer snapshot:
    10% of keys change balance (close + new version), 10% arrive as
    no-op updates (idempotent pass-through), ~1% are brand-new keys
    (insert). The oracle replays the same MERGE semantics with a FULL
    OUTER JOIN + IS DISTINCT FROM — the null-safe twin of eqNullSafe."""
    from books2scrape_etl_spark.operators.scd import scd2_apply

    c = read_table(spark, "customer", sf_dir).select("c_custkey", "c_name", "c_acctbal")
    dim = c.withColumn("version", F.lit(1)).withColumn("is_current", F.lit(True))
    upd_changed = c.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    )
    upd_noop = c.where(F.col("c_custkey") % 10 == 1).select("c_custkey", "c_acctbal")
    upd_new = c.where(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(999.0).alias("c_acctbal"),
    )
    updates = upd_changed.union(upd_noop).union(upd_new)
    return scd2_apply(dim, updates, ["c_custkey"], ["c_acctbal"], new_version=2)


@register(
    "decontaminate",
    f"""
    WITH {_WINNOW_FPS_CTE},
    bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 50 = 0),
    train AS (SELECT doc_id, fp FROM fps WHERE doc_id % 50 <> 0)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM train JOIN bench USING (fp)
    GROUP BY doc_id HAVING COUNT(*) >= 3
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/winnow.py:decontaminate):
    2% of documents (doc_id % 50 = 0) stand in as the held-out eval
    set; training docs sharing ≥3 winnowing fingerprints with it are
    flagged. One fingerprint pass, then a train-fps equi-join against
    the small distinct benchmark fingerprint set (broadcast by AQE)."""
    from books2scrape_etl_spark.operators.winnow import decontaminate

    docs = read_table(spark, "documents", sf_dir)
    return decontaminate(docs, F.col("doc_id") % 50 == 0, min_shared=3)


@register(
    "stratified_sample",
    """
    WITH s AS (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 4294967296 AS hv
      FROM documents)
    SELECT doc_id, lang, source, CAST(rn AS INTEGER) AS rn FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY hv, doc_id) AS rn
      FROM s)
    WHERE rn <= 20
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quota sampling (operators/sampling.py:
    stratified_sample): first 20 documents of each (lang, source)
    stratum in md5-hash order — a reproducible stand-in for random
    order that any engine re-derives, so the exact chosen subset is
    value-matched, not just the quota sizes."""
    from books2scrape_etl_spark.operators.sampling import stratified_sample

    docs = read_table(spark, "documents", sf_dir).select("doc_id", "lang", "source")
    return stratified_sample(docs, ["lang", "source"], "doc_id", 20)


@register(
    "subquery_suite",
    f"""
    SELECT 'scalar' AS kind, CAST(o_orderkey AS BIGINT) AS k,
           CAST(NULL AS VARCHAR) AS s, CAST(o_totalprice AS DOUBLE) AS v
    FROM ({ORACLE_SQL["scalar_subquery"]})
    UNION ALL
    SELECT 'corr', CAST(c_custkey AS BIGINT), c_name, CAST(NULL AS DOUBLE)
    FROM ({ORACLE_SQL["correlated_subquery"]})
    UNION ALL
    SELECT 'in', CAST(s_suppkey AS BIGINT), s_name, CAST(NULL AS DOUBLE)
    FROM ({ORACLE_SQL["in_subquery"]})
    """,
)
def q_subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + correlated + IN subqueries in one window slot
    (union-normalized; the singles stay registered after the window)."""
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    a = QUERIES["scalar_subquery"](spark, sf_dir).select(
        F.lit("scalar").alias("kind"),
        F.col("o_orderkey").cast("long").alias("k"),
        null_s.alias("s"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    b = QUERIES["correlated_subquery"](spark, sf_dir).select(
        F.lit("corr").alias("kind"),
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_name").alias("s"),
        null_d.alias("v"),
    )
    c = QUERIES["in_subquery"](spark, sf_dir).select(
        F.lit("in").alias("kind"),
        F.col("s_suppkey").cast("long").alias("k"),
        F.col("s_name").alias("s"),
        null_d.alias("v"),
    )
    return a.union(b).union(c)


@register(
    "pivot_unpivot_suite",
    f"""
    SELECT 'pivot' AS kind, CAST(NULL AS BIGINT) AS k,
           l_returnflag || '|O' AS s, CAST(O AS DOUBLE) AS v
    FROM ({ORACLE_SQL["pivot"]})
    UNION ALL
    SELECT 'pivot', CAST(NULL AS BIGINT), l_returnflag || '|F', CAST(F AS DOUBLE)
    FROM ({ORACLE_SQL["pivot"]})
    UNION ALL
    SELECT 'unpivot', CAST(o_orderkey AS BIGINT), measure, CAST(val AS DOUBLE)
    FROM ({ORACLE_SQL["unpivot"]})
    """,
)
def q_pivot_unpivot_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot + unpivot in one window slot: the pivoted counts re-linearized
    to (flag|status, count) rows, plus the stack()-unpivoted measures."""
    null_k = F.lit(None).cast("long")
    pv = QUERIES["pivot"](spark, sf_dir)
    p_rows = []
    for status in ["O", "F"]:
        p_rows.append(
            pv.select(
                F.lit("pivot").alias("kind"),
                null_k.alias("k"),
                F.concat(F.col("l_returnflag"), F.lit(f"|{status}")).alias("s"),
                F.col(status).cast("double").alias("v"),
            )
        )
    up = QUERIES["unpivot"](spark, sf_dir).select(
        F.lit("unpivot").alias("kind"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("measure").alias("s"),
        F.col("val").cast("double").alias("v"),
    )
    return p_rows[0].union(p_rows[1]).union(up)


_EMBED_GEN_SQL = """
    SELECT 'check' AS kind, v.k,
           CAST(0 AS BIGINT) AS n1, CAST(1 AS BIGINT) AS n2
    FROM (VALUES ('dim_is_16'),
                 ('ids_bijective_with_documents'),
                 ('repartition_invariant'),
                 ('unit_or_zero_norms')) AS v(k)
    ORDER BY k
    """


@register("embed_generate", _EMBED_GEN_SQL)
def q_embed_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch embedding generation (operators/inference.py): broadcast
    projection weights + mapInPandas forward pass, L2-normalized
    array<double> output — the producer side of the embeddings table
    the similarity/ANN/near-dup operators consume. Converted rows-only
    → invariant oracle (the embed_near_dup pattern): the forward pass
    has no SQL twin, but its output contract does —

    - 'ids_bijective_with_documents': one embedding per input doc,
      no extras, no drops (full-outer placement-count join);
    - 'unit_or_zero_norms': every vector's L2 norm is 1 within float32
      accumulation error (1e-5), or exactly 0 for token-less docs;
    - 'dim_is_16': the declared output dimension, every row;
    - 'repartition_invariant': the forward pass run again on a
      repartition(17) of the input is BIT-identical per doc — the
      batch-shape-independence contract (pairwise-sum accumulation
      over the vocab axis) the module documents, checked in-plan on
      real data, not just the unit tests' toy corpus.
    """
    from books2scrape_etl_spark.operators.inference import embed_generate

    docs = read_table(spark, "documents", sf_dir)
    # persist: four check branches consume emb; without it each branch
    # re-runs the Python forward pass over the whole corpus
    emb = embed_generate(docs).persist()
    placed = emb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_placed"))
    bad_ids = (
        docs.select("doc_id")
        .join(placed, "doc_id", "full")
        .where(F.coalesce(F.col("n_placed"), F.lit(0)) != 1)
    )
    sq = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x * x
    )
    norm = F.sqrt(sq)
    bad_norm = emb.where(
        ~((F.abs(norm - 1.0) <= 1e-5) | (norm == 0.0))
    )
    bad_dim = emb.where(F.size("embedding") != 16)
    emb2 = embed_generate(docs.repartition(17)).select(
        F.col("doc_id"), F.col("embedding").alias("embedding_b")
    )
    bad_repart = (
        emb.join(emb2, "doc_id", "full")
        .where(~F.col("embedding").eqNullSafe(F.col("embedding_b")))
    )

    def n(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n"))

    # Eagerly pin the tiny 4-row check union, then drop the cached
    # forward-pass blocks BEFORE returning: the returned plan must not
    # depend on `emb`, or every call leaks storage in long-lived
    # sessions (the r9c3 broadcast-build OOM class; the real driver
    # harness never clears cache). The inverse case is
    # dedupe.verified_similar_pairs, whose staging caches are part of
    # its returned plan and so stay held, one generation per slot.
    out = (
        _check_row("ids_bijective_with_documents", n(bad_ids))
        .union(_check_row("unit_or_zero_norms", n(bad_norm)))
        .union(_check_row("dim_is_16", n(bad_dim)))
        .union(_check_row("repartition_invariant", n(bad_repart)))
        .orderBy("k")
        .localCheckpoint(eager=True)
    )
    emb.unpersist()
    return out


@register(
    "corpus_build",
    f"""
    WITH keepers AS (
      SELECT doc_id FROM ({ORACLE_SQL["repetition_stats"]}) WHERE keep),
    kept AS (
      SELECT d.doc_id, d.text, d.lang, d.n_chars
      FROM documents d JOIN keepers USING (doc_id)),
    surv AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM kept)
      GROUP BY fp),
    sp AS (
      SELECT k.doc_id, k.lang, k.n_chars,
             CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS bucket
      FROM kept k JOIN surv USING (doc_id))
    SELECT CASE WHEN bucket < 900 THEN 'train'
                WHEN bucket < 950 THEN 'val'
                ELSE 'test' END AS split,
           lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM sp GROUP BY 1, 2
    """,
)
def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the wave-4/5 training-corpus build as ONE
    lazy Catalyst plan: Gopher repetition filter → exact dedup
    (min-doc_id survivor per content fingerprint) → deterministic
    train/val/test split → per-(split, lang) document and character
    accounting. Each stage is an operator qname in its own right; the
    point here is that they compose without materialization — the
    repetition filter prunes before the dedup shuffle, the dedup
    shuffle carries (fp, doc_id) only, the split is a projection, and
    the final agg is partial+final. The oracle replays the whole chain
    by wrapping the repetition oracle and re-deriving dedup + split."""
    from books2scrape_etl_spark.operators.sampling import split_assign
    from books2scrape_etl_spark.operators.text import fingerprint, repetition_stats

    docs = read_table(spark, "documents", sf_dir)
    keep_ids = repetition_stats(docs).where(F.col("keep")).select("doc_id")
    kept = docs.join(keep_ids, "doc_id").select("doc_id", "text", "lang", "n_chars")
    surv = (
        kept.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sp = split_assign(kept.join(surv, "doc_id").select("doc_id", "lang", "n_chars"), "doc_id")
    return sp.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )

"""Tests of the benchmark itself: seeded inputs, output checks, tracing
arithmetic, and a tiny end-to-end smoke run of every workload.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The smoke runs start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# ---------------------------------------------------------------------------
# seeded generators
# ---------------------------------------------------------------------------


def test_books_catalog_is_seeded():
    a, b = gen.books_catalog(7, 3, n_books=100), gen.books_catalog(7, 3, n_books=100)
    assert a.listings == b.listings and a.details == b.details and a.summary == b.summary
    c = gen.books_catalog(8, 3, n_books=100)
    assert c.listings != a.listings
    assert gen.books_catalog(7, 4, n_books=100).listings != a.listings


def test_books_catalog_shape():
    c = gen.books_catalog(1, 0)
    assert len(c.listings) == 50 and len(c.details) == 1000 == len(set(c.detail_urls))
    assert c.summary["total_books"] == 1000
    assert c.summary["total_categories"] == len(c.categories)


def test_star_tables_are_seeded():
    a, b = gen.star_tables(5, 0.001), gen.star_tables(5, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not gen.star_tables(6, 0.001)["lineitem"].equals(a["lineitem"])


def test_star_tables_schema_matches_engine(tmp_path):
    from books2scrape_etl_spark.io import TESTDATA_SCHEMAS

    gen.write_star_tables(1, 0.001, str(tmp_path))
    for name in workloads.STAR_TABLES:
        cols = pq.read_schema(tmp_path / f"{name}.parquet").names
        assert cols == [f.name for f in TESTDATA_SCHEMAS[name].fields], name


def test_corpus_is_seeded_and_planted():
    a, b = gen.corpus(3, 400, n_vec=50), gen.corpus(3, 400, n_vec=50)
    assert a.texts == b.texts and np.array_equal(a.embeddings, b.embeddings)
    assert a.query_ids == b.query_ids
    assert gen.corpus(4, 400, n_vec=50).texts != a.texts
    assert a.n_exact == 20 and a.n_near == 40 and a.base_count == 340
    # exact copies collapse under normalisation, near copies do not
    assert a.base_count + a.n_near - 2 <= a.distinct_normalized <= a.base_count + a.n_near


def test_topk_reference_excludes_self_and_is_sorted():
    c = gen.corpus(2, 100, n_vec=80, n_queries=5)
    ref = gen.topk_reference(c.embeddings, c.query_ids, 4)
    for q, hits in ref.items():
        assert q not in [v for v, _ in hits]
        scores = [s for _, s in hits]
        assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# output checks reject planted wrong answers
# ---------------------------------------------------------------------------


def _write_rows(path, n):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"x": list(range(n))}), os.path.join(path, "part-0.parquet"))


@pytest.fixture
def books(tmp_path):
    wl = workloads.BooksEtl(None, None, 1, str(tmp_path), workloads.Sizes(books=40))
    wl.sink = str(tmp_path / "sink")
    cat = gen.books_catalog(1, 0, n_books=40)
    _write_rows(os.path.join(wl.sink, "fact"), 40)
    _write_rows(os.path.join(wl.sink, "dim_category"), len(cat.categories))
    return wl, cat


def test_books_check_accepts_the_right_answer(books):
    wl, cat = books
    assert wl.check(cat, (list(cat.detail_urls), dict(cat.summary))) == []


def test_books_check_rejects_off_by_one_book_count(books):
    wl, cat = books
    summary = dict(cat.summary, total_books=cat.summary["total_books"] - 1)
    assert wl.check(cat, (list(cat.detail_urls), summary))


def test_books_check_rejects_wrong_inventory_and_lost_link(books):
    wl, cat = books
    summary = dict(cat.summary)
    summary["total_inventory_value"] += 0.01
    assert wl.check(cat, (list(cat.detail_urls), summary))
    assert wl.check(cat, (list(cat.detail_urls)[1:], dict(cat.summary)))


def test_books_check_rejects_short_fact_and_dim(books):
    wl, cat = books
    _write_rows(os.path.join(wl.sink, "fact"), 39)
    assert wl.check(cat, (list(cat.detail_urls), dict(cat.summary)))
    _write_rows(os.path.join(wl.sink, "fact"), 40)
    _write_rows(os.path.join(wl.sink, "dim_category"), len(cat.categories) + 1)
    assert wl.check(cat, (list(cat.detail_urls), dict(cat.summary)))


@pytest.fixture
def analytics(tmp_path):
    wl = workloads.Analytics(None, None, 1, str(tmp_path), workloads.TINY)
    wl.corpus = c = gen.corpus(1, 200, n_vec=60, n_queries=3)
    wl.reference = gen.topk_reference(c.embeddings, c.query_ids, workloads.TINY.topk)
    wl.expected = {q: [(("n", "1.0"),)] * 3 for q in workloads.STAR_QNAMES}
    out = {q: pa.table({"a": [1.0, 1.0, 1.0]}) for q in workloads.STAR_QNAMES}
    rows = [
        {"q_id": q, "vec_id": v, "cos_sim": round(s, 6)}
        for q, hits in wl.reference.items()
        for v, s in hits
    ]
    out.update(
        text_stats=len(c.texts),
        exact_dedup=c.distinct_normalized,
        minhash_dedup=c.base_count,
        topk=rows,
    )
    return wl, out


def test_analytics_check_accepts_the_right_answer(analytics):
    wl, out = analytics
    assert wl.check(None, out) == []


@pytest.mark.parametrize(
    "key,delta", [("text_stats", -1), ("exact_dedup", 1), ("minhash_dedup", -1)]
)
def test_analytics_check_rejects_off_by_one(analytics, key, delta):
    wl, out = analytics
    out[key] += delta
    assert wl.check(None, out)


def test_analytics_check_rejects_wrong_oracle_rows(analytics):
    wl, out = analytics
    out["join_fact"] = pa.table({"a": [1.0, 1.0, 1.0, 1.0]})  # one row too many
    assert wl.check(None, out)
    out["join_fact"] = pa.table({"a": [1.0, 1.0, 2.0]})  # one value wrong
    assert wl.check(None, out)


def test_analytics_check_rejects_wrong_neighbour(analytics):
    wl, out = analytics
    rows = [dict(r) for r in out["topk"]]
    q = rows[0]["q_id"]
    rows[0]["vec_id"] = q  # the query itself is never its own neighbour
    rows[0]["cos_sim"] = 1.0
    out["topk"] = rows
    assert wl.check(None, out)


def test_canonical_rows_ignore_column_and_row_order():
    a = workloads.canonical_rows(["b", "a"], [(2, "x"), (1, "y")])
    b = workloads.canonical_rows(["a", "b"], [("y", 1), ("x", 2)])
    assert a == b
    assert workloads.canonical_rows(["a"], [(1,)]) == workloads.canonical_rows(["a"], [(1.0,)])
    assert workloads.canonical_rows(["a"], [(1,)]) != workloads.canonical_rows(["a"], [(1.0000001,)])


# ---------------------------------------------------------------------------
# tracing arithmetic
# ---------------------------------------------------------------------------


def _span(sid, name, parent, start, end):
    return tracing.Span(sid, name, parent, 0, start, end)


def test_self_times_reconcile_with_wall():
    spans = [
        _span(0, "books.transform_books", None, 1.0, 5.0),
        _span(1, "star.build_star", 0, 2.0, 4.0),
        _span(2, "scale.stage_persist", 1, 2.5, 3.0),
        _span(3, "io.write_parquet", None, 5.0, 8.0),
    ]
    layers, rest = tracing.self_times(spans, 0.0, 9.0)
    assert layers == {"books": 2.0, "star": 1.5, "scale": 0.5, "io": 3.0}
    assert rest == pytest.approx(2.0)
    assert sum(layers.values()) + rest == pytest.approx(9.0)


def test_union_merges_overlaps():
    assert tracing._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union([]) == 0


# ---------------------------------------------------------------------------
# end to end
# ---------------------------------------------------------------------------


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["books_etl", "analytics"])
def test_tiny_smoke(workload, trace, tmp_path):
    spans = tmp_path / "spans.jsonl"
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "0", "--trace", str(trace), "--tiny", "--spans", str(spans)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 3
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        assert spans.exists()
        m = {k: v["value"] for k, v in result["metrics"].items()}
        layers = sum(v for k, v in m.items() if k.startswith("self."))
        assert layers == pytest.approx(m["trace.iter_mean_s"], rel=1e-9)
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "books_etl", "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

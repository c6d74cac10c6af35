"""The three perfbench workloads and their output checks.

Each workload generates its inputs from the seed (``prepare``), runs one
iteration at a time through the engine's public functions (``run``, every
call timed by the :class:`trace.Recorder`) and checks the outputs of that
iteration outside the timed region (``check``). An iteration is one
scheduled pipeline run (books_etl), one pass over the analytic qnames
(star_analytics) or one curation pass (llm_curation).
"""

from __future__ import annotations

import datetime
import decimal
import os
import random
from dataclasses import dataclass

import gen

STAR_QNAMES = (
    "flagship",
    "join_fact",
    "join_sortmerge",
    "agg_summary",
    "agg_groupby",
    "bin_quantile",
    "window_rank",
    "tpch_q3",
    "tpch_q5",
    "surrogate_key_scale",
    "stream_tumbling",
)
LLM_OPS = ("text_stats", "exact_dedup", "minhash_dedup", "topk")
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
DIM_NAMES = ("dim_book", "dim_category", "dim_price_tier", "dim_stock_tier")


@dataclass
class Sizes:
    books: int = 1000
    star_sf: float = 0.005
    docs: int = 2000
    vectors: int = 1000
    queries: int = 20
    topk: int = 10


TINY = Sizes(books=60, star_sf=0.001, docs=300, vectors=200, queries=4, topk=5)


def count_rows(df) -> int:
    """Forces ``df`` with the noop sink and reads its row count from an
    ``Observation`` riding on the same action (no second pass)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return int(obs.get["rows"])


def parquet_rows_and_bytes(path: str) -> tuple[int, int, int]:
    """(rows, bytes, data files) of a parquet output directory, read
    from the file footers without Spark."""
    import pyarrow.parquet as pq

    rows = size = files = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            p = os.path.join(path, name)
            rows += pq.read_metadata(p).num_rows
            size += os.path.getsize(p)
            files += 1
    return rows, size, files


class Workload:
    name = ""
    item = ""
    min_warm = 2  # warm iterations a run needs at least

    def __init__(self, spark, rec, seed: int, work: str, sizes: Sizes):
        self.spark = spark
        self.rec = rec
        self.seed = seed
        self.work = work
        self.sizes = sizes

    def prepare(self) -> dict:
        """Generate inputs (untimed); returns the input properties."""
        return {}

    def next_input(self, i: int):
        """Per-iteration input, generated outside the timed region."""
        return None

    def run(self, i: int, inp):
        raise NotImplementedError

    def check(self, inp, out) -> list[str]:
        """Failed output checks of one iteration (empty when correct)."""
        return []

    def items(self) -> int:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class BooksEtl(Workload):
    name = "books_etl"
    item = "books"
    min_warm = 3

    def prepare(self) -> dict:
        self.sink = os.path.join(self.work, "sink")
        os.makedirs(self.sink, exist_ok=True)
        c = gen.books_catalog(self.seed, 0, self.sizes.books)
        return {
            "books_per_iteration": self.sizes.books,
            "listing_pages": len(c.listings),
            "html_bytes_per_iteration": c.html_bytes,
        }

    def items(self) -> int:
        return self.sizes.books

    def next_input(self, i: int):
        return gen.books_catalog(self.seed, i, self.sizes.books)

    def run(self, i: int, cat):
        from books2scrape_etl_spark import io
        from books2scrape_etl_spark.plans import books, report
        from books2scrape_etl_spark.sources import scrape

        call = self.rec.call
        listings = call("sources.html_source", scrape.html_source, self.spark, cat.listings)
        links = call("sources.extract_links", scrape.extract_links, listings)
        urls = call("sources.collect_links", lambda: [r.url for r in links.select("url").collect()])
        # the benchmark stands in for the HTTP fetch: url -> generated page
        pages = [(u, cat.details[u]) for u in urls if u in cat.details]
        details = call("sources.html_source", scrape.html_source, self.spark, pages)
        raw = call("sources.parse_books", scrape.parse_books, details)
        cleaned, dims, fact = call("books.transform_books", books.transform_books, raw)
        for name in DIM_NAMES:
            call("io.write_parquet", io.write_parquet, dims[name], os.path.join(self.sink, name))
        call("io.write_parquet", io.write_parquet, fact, os.path.join(self.sink, "fact"))
        summary = call("report.run_report", report.run_report, cleaned)
        return urls, summary

    def check(self, cat, out) -> list[str]:
        urls, summary = out
        errs = []
        if sorted(urls) != sorted(cat.detail_urls):
            errs.append(f"extract_links: {len(urls)} urls, expected {len(cat.detail_urls)}")
        for k, want in cat.summary.items():
            if summary.get(k) != want:
                errs.append(f"summary {k}={summary.get(k)!r}, expected {want!r}")
        fact_rows = parquet_rows_and_bytes(os.path.join(self.sink, "fact"))[0]
        if fact_rows != len(cat.detail_urls):
            errs.append(f"fact has {fact_rows} rows, expected {len(cat.detail_urls)}")
        cat_rows = parquet_rows_and_bytes(os.path.join(self.sink, "dim_category"))[0]
        if cat_rows != len(cat.categories):
            errs.append(f"dim_category has {cat_rows} rows, expected {len(cat.categories)}")
        return errs

    def written(self) -> tuple[int, int]:
        size = files = 0
        for name in (*DIM_NAMES, "fact"):
            _, b, f = parquet_rows_and_bytes(os.path.join(self.sink, name))
            size += b
            files += f
        return size, files


# ---------------------------------------------------------------------------


def _canon(v):
    """Engine-neutral cell value for the oracle comparison: numbers of
    any type compare as doubles, NaN as null."""
    t = type(v)
    if t is str:
        return ("s", v)
    if t is float:
        return ("null",) if v != v else ("n", repr(v))
    if t is int or t is bool:
        return ("n", repr(float(v)))
    if v is None:
        return ("null",)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return ("null",) if f != f else ("n", repr(f))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda k: columns[k])
    return sorted(tuple(_canon(r[k]) for k in order) for r in rows)


def arrow_rows(table) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in table.columns)))


class Analytics(Workload):
    """Read-only analytics: the star-schema qnames and the LLM-curation
    operators, one pass over all of them in a seeded order."""

    name = "analytics"
    item = "operations"

    def prepare(self) -> dict:
        """Writes the star tables and the corpus, and runs every qname's
        DuckDB oracle on the tables (untimed): every pass must match those
        rows exactly."""
        import duckdb

        from books2scrape_etl_spark.queries import ORACLE_SQL

        s = self.sizes
        self.sf_dir = os.path.join(self.work, "star")
        star_rows = gen.write_star_tables(self.seed, s.star_sf, self.sf_dir)
        con = duckdb.connect()
        for t in STAR_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected: dict[str, list[tuple]] = {}
        for q in STAR_QNAMES:
            cur = con.execute(ORACLE_SQL[q])
            self.expected[q] = canonical_rows([d[0] for d in cur.description], cur.fetchall())
        con.close()

        self.corpus_dir = os.path.join(self.work, "corpus")
        self.corpus = c = gen.corpus(self.seed, s.docs, n_vec=s.vectors, n_queries=s.queries)
        corpus_rows = gen.write_corpus(c, self.corpus_dir)
        self.reference = gen.topk_reference(c.embeddings, c.query_ids, s.topk)
        return {
            "star_sf": s.star_sf,
            "table_rows": {**star_rows, **corpus_rows},
            "oracle_rows": {q: len(v) for q, v in self.expected.items()},
            "exact_dup_share": c.n_exact / len(c.texts),
            "near_dup_share": c.n_near / len(c.texts),
            "base_docs": c.base_count,
            "distinct_normalized": c.distinct_normalized,
            "embedding_dim": int(c.embeddings.shape[1]),
            "topk_queries": len(c.query_ids),
            "k": s.topk,
        }

    def items(self) -> int:
        return len(STAR_QNAMES) + len(LLM_OPS)

    def next_input(self, i: int):
        order = [*STAR_QNAMES, *LLM_OPS]
        random.Random(self.seed * 1000 + i).shuffle(order)
        return order

    def run(self, i: int, order):
        """Builds each qname and fetches its rows as Arrow, for the
        oracle comparison; the LLM operators are forced with the noop
        sink and an observed row count. Every pass runs the same plans,
        so the cold pass compiles what the warm passes run."""
        from books2scrape_etl_spark.queries import QUERIES

        out = {}
        for q in order:
            if q in LLM_OPS:
                out[q] = getattr(self, f"_{q}")()
                continue
            df = self.rec.call(f"q.{q}.build", QUERIES[q], self.spark, self.sf_dir)
            out[q] = self.rec.call(f"q.{q}.exec", df.toArrow)
        return out

    def _docs(self):
        from books2scrape_etl_spark import io

        return io.read_table(self.spark, "documents", self.corpus_dir)

    def _text_stats(self) -> int:
        from books2scrape_etl_spark.operators import text

        stats = self.rec.call("text.build", lambda: text.text_stats(self._docs()))
        return self.rec.call("text.exec", count_rows, stats)

    def _exact_dedup(self) -> int:
        from books2scrape_etl_spark.operators import dedupe

        kept = self.rec.call("dedupe.exact_build", lambda: dedupe.exact_dedup(self._docs()))
        return self.rec.call("dedupe.exact_exec", count_rows, kept)

    def _minhash_dedup(self) -> int:
        from books2scrape_etl_spark.operators import dedupe

        kept = self.rec.call(
            "dedupe.minhash_build", lambda: dedupe.minhash_dedup(self._docs(), threshold=0.6)
        )
        return self.rec.call("dedupe.minhash_exec", count_rows, kept)

    def _topk(self):
        from pyspark.sql import functions as F

        from books2scrape_etl_spark import io
        from books2scrape_etl_spark.operators import similarity

        def build():
            emb = io.read_table(self.spark, "embeddings", self.corpus_dir)
            queries = emb.where(F.col("vec_id").isin(self.corpus.query_ids)).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
            )
            return similarity.brute_force_topk(emb, queries, k=self.sizes.topk)

        top = self.rec.call("similarity.build", build)
        return self.rec.call("similarity.exec", top.select("q_id", "vec_id", "cos_sim").collect)

    def check(self, order, out) -> list[str]:
        c = self.corpus
        errs = []
        for q in STAR_QNAMES:
            got, want = out[q], self.expected[q]
            if got.num_rows != len(want):
                errs.append(f"{q}: {got.num_rows} rows, the oracle has {len(want)}")
            elif canonical_rows(got.column_names, arrow_rows(got)) != want:
                errs.append(f"{q}: result differs from the DuckDB oracle")
        if out["text_stats"] != len(c.texts):
            errs.append(f"text_stats: {out['text_stats']} rows for {len(c.texts)} documents")
        if out["exact_dedup"] != c.distinct_normalized:
            errs.append(f"exact_dedup kept {out['exact_dedup']}, expected {c.distinct_normalized}")
        if not c.base_count <= out["minhash_dedup"] <= c.distinct_normalized:
            errs.append(
                f"minhash_dedup kept {out['minhash_dedup']}, "
                f"outside [{c.base_count}, {c.distinct_normalized}]"
            )
        errs.extend(topk_errors(self.reference, out["topk"], self.sizes.topk))
        return errs


def topk_errors(reference, rows, k: int, tol: float = 2e-6) -> list[str]:
    """Engine top-k rows against the numpy reference. A neighbour may
    differ from the reference only inside a tie (scores within ``tol``
    of the k-th best); every reported score must match its own exact
    cosine within ``tol``."""
    got: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        got.setdefault(int(r["q_id"]), []).append((int(r["vec_id"]), float(r["cos_sim"])))
    errs = []
    for q, ref in reference.items():
        g = got.get(q, [])
        if len(g) != k:
            errs.append(f"top-k q={q}: {len(g)} neighbours, expected {k}")
            continue
        ref_ids = {v for v, _ in ref}
        kth = ref[-1][1]
        exact = dict(ref)
        for v, s in g:
            if v in ref_ids:
                if abs(s - exact[v]) > tol:
                    errs.append(f"top-k q={q} v={v}: score {s}, expected {exact[v]:.6f}")
            elif abs(s - kth) > tol:
                errs.append(f"top-k q={q}: neighbour {v} not in the exact top {k}")
    return errs


WORKLOADS = {w.name: w for w in (BooksEtl, Analytics)}

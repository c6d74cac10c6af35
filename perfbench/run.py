"""perfbench: end-to-end and per-layer benchmark of the books ETL engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload books_etl --seed 1 --seconds 25 --trace 0

Workloads: ``books_etl`` (the scheduled scrape -> star -> report run) and
``analytics`` (the star-schema qnames plus the LLM curation operators).
One client, closed loop, one driver process on ``local[nproc/2]``. The
inputs are generated from ``--seed`` under a scratch directory inside the
checkout, which is removed at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it holds the
run's environment, input properties and sample counts. A traced run
writes its spans as JSON lines (``--spans``) and prints the per-layer
self-time reconciliation on stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "books2scrape_etl_spark"
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "iter_p50_s": "s", "items_per_s": "items/s"}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument(
        "--spans",
        default=None,
        help="traced runs: where to write the spans "
        "(default .perfbench_out/spans-<workload>-seed<seed>.jsonl)",
    )
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Host-sized, isolated Spark: every scratch write under ``work``."""
    # Half the CPUs `nproc` reports run Spark tasks; the rest are left to
    # the threads every run also has (Python driver, JVM driver, JIT, GC,
    # Python workers). On all CPUs a warm books_etl run was slower and
    # spread wider between runs on a shared 4-core host.
    ncpu = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
    )
    for k in ("SMTP_HOST", "SMTP_PASSWORD"):
        os.environ.pop(k, None)
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def setup(work: str) -> tuple[object, dict[str, float]]:
    """Registry import + session + first trivial job, each timed."""
    t0 = time.perf_counter()
    import books2scrape_etl_spark.queries  # noqa: F401  (the registry)
    from books2scrape_etl_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work))
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "session_s": t2 - t1, "first_job_s": t3 - t2}


def environment(spark, seed: int, work_root: str) -> dict:
    import gc
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", DRIVER_MEM),
        "gc_freeze_count": gc.get_freeze_count(),
        "scratch": os.path.relpath(work_root, ROOT),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, work, work_root, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run's scratch is still there
            pass


def run(args, work, work_root, workloads) -> int:
    prepare_env(work)
    import tracing

    with tracing.RssSampler() as rss:
        spark, setup_parts = setup(work)
        try:
            return measure(args, spark, setup_parts, rss, work, work_root, workloads, tracing)
        finally:
            stop_spark(spark, rss.descendants())
            log("session stopped")


def stop_spark(spark, children: list[int], timeout_s: float = 30.0) -> None:
    """Stop the session, then the JVM, and wait until every process the
    run started (JVM, Python workers) has ended."""
    import signal

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    alive = children
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def measure(args, spark, setup_parts, rss, work, work_root, workloads, tracing) -> int:
    import gc

    sizes = workloads.TINY if args.tiny else workloads.Sizes()
    rec = tracing.Recorder(spark, traced=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](spark, rec, args.seed, work, sizes)
    log("set up")
    inputs = wl.prepare()
    log("inputs ready")
    errors: list[str] = []
    if args.trace:
        _wrap_layers(rec, tracing)
        codegen0 = rec.probe.codegen()

    attempted = failed = 0
    last_out = None
    iters: list[tuple[int, float, float, float, bool]] = []  # (i, start, end, seconds, traced)
    warm_t0 = None
    i = 0
    while True:
        inp = wl.next_input(i)
        # in a traced run odd iterations are traced, the cold one and even
        # ones are not: the same JVM measures the tracing overhead
        rec.traced = bool(args.trace) and i % 2 == 1
        rec.iteration = i
        gc.collect()
        t0 = time.perf_counter()
        try:
            out = last_out = wl.run(i, inp)
            errs = None
        except Exception as e:  # a failed operation counts, the run goes on
            errs = [f"iteration {i}: {type(e).__name__}: {e}"]
        t1 = time.perf_counter()
        if errs is None:
            errs = wl.check(inp, out)
        attempted += 1
        if errs:
            failed += 1
            errors += errs
        iters.append((i, t0, t1, t1 - t0, rec.traced))
        log(f"iteration {i}: {t1 - t0:.3f}s{' (traced)' if rec.traced else ''}{', FAILED' if errs else ''}")
        if args.trace and i == 0:
            codegen_cold = rec.probe.codegen()
        if i == 0:
            warm_t0 = time.perf_counter()
        elif i >= wl.min_warm and time.perf_counter() - warm_t0 + (t1 - t0) > args.seconds:
            # stop once another iteration as long as this one would end
            # past the window, so a run's length stays close to --seconds
            break
        i += 1
    rec.traced = False

    warm_s = [x[3] for x in iters[1:]]
    counts = {
        "warm_iterations": len(warm_s),
        "iterations_attempted": attempted,
        "items_per_iteration": wl.items(),
        "item": wl.item,
    }
    if args.trace:
        metrics = layer_metrics(wl, rec, iters, setup_parts, codegen0, codegen_cold, spark, tracing)
        metrics.update(plan_counts(wl, rec, iters, last_out))
        # too unsteady between runs for end-to-end bounds: diagnostics here
        metrics["cold.iter_s"] = iters[0][3]
        metrics["mem.peak_rss_mb"] = rss.peak_bytes / 2**20
        spans_path = args.spans or os.path.join(
            ROOT, ".perfbench_out", f"spans-{wl.name}-seed{args.seed}.jsonl"
        )
        os.makedirs(os.path.dirname(os.path.abspath(spans_path)), exist_ok=True)
        rec.dump(spans_path)
        log(f"spans written to {spans_path}")
        report_self_times(metrics)
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": sum(setup_parts.values()),
            "iter_p50_s": statistics.median(warm_s),
            "items_per_s": wl.items() * len(warm_s) / sum(warm_s),
        }
        units = END_TO_END
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    info = {
        "workload": wl.name,
        "environment": environment(spark, args.seed, work_root),
        "inputs": inputs,
        "samples": counts,
        "setup_parts_s": setup_parts,
        "run_wall_s": time.perf_counter() - T_START,
    }
    print(json.dumps({"info": info}))
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def report_self_times(m: dict[str, float]) -> None:
    """Stderr table: per-layer self time + remainder = iteration wall."""
    rows = [(k[5:-2], v) for k, v in m.items() if k.startswith("self.") and v]
    total = sum(v for _, v in rows)
    for name, v in rows:
        print(f"  self {name:<14} {v:8.3f}s", file=sys.stderr)
    print(
        f"  sum            {total:8.3f}s = traced iteration mean {m['trace.iter_mean_s']:.3f}s; "
        f"tracing overhead {m['trace.overhead_s']:+.3f}s "
        f"(traced p50 {m['trace.iter_p50_s']:.3f}s, untraced {m['trace.untraced_iter_p50_s']:.3f}s)",
        file=sys.stderr,
    )


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------


def _wrap_layers(rec, tracing) -> None:
    from books2scrape_etl_spark import io
    from books2scrape_etl_spark.operators import scale
    from books2scrape_etl_spark.plans import star

    tracing.wrap_functions(
        rec,
        {
            "io.read_table": io.read_table,
            "star.build_star": star.build_star,
            "star.build_dim": star.build_dim,
            "star.join_dim": star.join_dim,
            "scale.stage_persist": scale.stage_persist,
        },
        PACKAGE,
    )


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("yield"):
        return "ratio"
    return "count"


def layer_metrics(wl, rec, iters, setup_parts, codegen0, codegen_cold, spark, tracing) -> dict:
    import workloads

    traced_warm = [x for x in iters[1:] if x[4]]
    untraced_warm = [x for x in iters[1:] if not x[4]]
    n = len(traced_warm)

    def per_iter(pred, key: str = "") -> float:
        """Mean over traced warm iterations, over the outermost spans
        matching ``pred``, of their duration (``key`` empty) or of the
        count ``key`` summed over their subtree."""
        total = 0.0
        for it, *_ in traced_warm:
            for s in rec.spans_of(it):
                if pred(s) and not _nested_in(rec, s, pred):
                    total += rec.inclusive(s, key) if key else s.end - s.start
        return total / n

    def named(name):
        return lambda s: s.name == name

    def layer(name):
        return lambda s: s.layer == name

    m: dict[str, float] = {f"setup.{k}": v for k, v in setup_parts.items()}

    # per-layer self times; they and the remainder sum to the iteration wall
    layer_self: dict[str, float] = {}
    remainder = wall = 0.0
    for it, t0, t1, secs, _ in traced_warm:
        layers, rest = tracing.self_times(rec.spans_of(it), t0, t1)
        for k, v in layers.items():
            layer_self[k] = layer_self.get(k, 0.0) + v / n
        remainder += rest / n
        wall += secs / n
    unknown = set(layer_self) - set(SELF_LAYERS)
    if unknown:
        raise ValueError(f"spans of undeclared layers: {sorted(unknown)}")
    for name in SELF_LAYERS:
        m[f"self.{name}_s"] = layer_self.get(name, 0.0)
    m["self.unattributed_s"] = remainder
    m["trace.iter_mean_s"] = wall
    m["trace.iter_p50_s"] = statistics.median(x[3] for x in traced_warm)
    m["trace.untraced_iter_p50_s"] = statistics.median(x[3] for x in untraced_warm)
    m["trace.overhead_s"] = m["trace.iter_p50_s"] - m["trace.untraced_iter_p50_s"]
    m["trace.warm_iterations"] = float(n)

    # sources
    m["sources.call_s"] = per_iter(layer("sources"))
    # books / star / report
    m["books.build_s"] = per_iter(named("books.transform_books"))
    m["books.build_jobs"] = per_iter(named("books.transform_books"), "jobs")
    m["star.build_s"] = per_iter(layer("star"))
    m["star.build_jobs"] = per_iter(layer("star"), "jobs")
    m["report.run_s"] = per_iter(named("report.run_report"))
    m["report.jobs"] = per_iter(named("report.run_report"), "jobs")
    # io
    m["io.write_s"] = per_iter(named("io.write_parquet"))
    m["io.write_jobs"] = per_iter(named("io.write_parquet"), "jobs")
    m["io.scan_bytes"] = per_iter(lambda s: s.parent is None, "scan_bytes")
    # registry qnames
    for q in workloads.STAR_QNAMES:
        m[f"q.{q}.build_s"] = per_iter(named(f"q.{q}.build"))
        m[f"q.{q}.build_jobs"] = per_iter(named(f"q.{q}.build"), "jobs")
        m[f"q.{q}.exec_s"] = per_iter(named(f"q.{q}.exec"))
    q_lat = []
    for it, *_ in traced_warm + untraced_warm:
        by_q: dict[str, float] = {}
        for i2, name, secs in rec.call_times:
            if i2 == it and name.startswith("q.") and name.count(".") == 2:
                q = name.split(".")[1]
                by_q[q] = by_q.get(q, 0.0) + secs
        q_lat += list(by_q.values())
    m["q.latency_p50_s"] = statistics.median(q_lat) if q_lat else 0.0
    m["q.latency_max_s"] = max(q_lat, default=0.0)
    # LLM operators
    m["text.exec_s"] = per_iter(named("text.exec"))
    m["dedupe.exact_s"] = per_iter(lambda s: s.name.startswith("dedupe.exact"))
    m["dedupe.minhash_build_s"] = per_iter(named("dedupe.minhash_build"))
    m["dedupe.minhash_exec_s"] = per_iter(named("dedupe.minhash_exec"))
    m["similarity.exec_s"] = per_iter(named("similarity.exec"))
    # engine, summed over every span of the iteration
    for key in ("task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                "jobs", "stages", "tasks", "failed_tasks"):
        m[f"engine.{key}"] = per_iter(lambda s: s.parent is None, key)
    m["engine.outside_jobs_s"] = sum(
        rec.outside_jobs(s) for it, *_ in traced_warm for s in rec.spans_of(it) if s.parent is None
    ) / n
    m["engine.codegen_cold_s"] = codegen_cold[1] - codegen0[1]
    m["engine.codegen_cold_classes"] = float(codegen_cold[0] - codegen0[0])
    cg_end = rec.probe.codegen()
    m["engine.codegen_warm_s"] = (cg_end[1] - codegen_cold[1]) / max(len(iters) - 1, 1)
    # staging caches after the last iteration (never cleared between)
    m["scale.persisted_rdds"] = float(spark.sparkContext._jsc.getPersistentRDDs().size())
    m["scale.cached_bytes"] = _cached_bytes(spark)
    return m


SELF_LAYERS = ("sources", "books", "star", "io", "report", "q", "text", "dedupe", "similarity", "scale")


def _nested_in(rec, s, pred) -> bool:
    """Whether an ancestor of span ``s`` also matches ``pred``."""
    p = s.parent
    while p is not None:
        if pred(rec.spans[p]):
            return True
        p = rec.spans[p].parent
    return False


def _cached_bytes(spark) -> float:
    rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    total, it = 0.0, rdds.iterator()
    while it.hasNext():
        r = it.next()
        total += r.memoryUsed() + r.diskUsed()
    return total


def plan_counts(wl, rec, iters, last_out) -> dict[str, float]:
    """Counts read from the executed SQL plans of the last traced
    iteration, and from the outputs it wrote or returned."""
    it = [x for x in iters if x[4]][-1][0]
    spans = {s.name: s for s in rec.spans_of(it)}
    out = {
        k: 0.0
        for k in ("sources.execs", "sources.python_rows", "sources.yield", "io.written_bytes",
                  "io.written_files", "dedupe.candidate_pairs", "dedupe.verified_pairs",
                  "dedupe.candidate_yield", "dedupe.survivors", "similarity.pairs_scored")
    }
    if wl.name == "books_etl":
        nodes = []
        for s in rec.spans_of(it):
            nodes += rec.probe.sql_nodes(s.group)
        parse = [r for name, desc, r in nodes if name == "MapInPandas" and "Title" in desc]
        out["sources.execs"] = float(len(parse))
        out["sources.python_rows"] = float(sum(parse))
        # books delivered per detail page parsed: every sink re-runs the parse
        out["sources.yield"] = wl.sizes.books / sum(parse) if parse else 0.0
        out["io.written_bytes"], out["io.written_files"] = map(float, wl.written())
    else:
        nodes = rec.probe.sql_nodes(spans["dedupe.minhash_exec"].group)
        cand = sum(r for name, desc, r in nodes if "Join" in name and "band_sig" in desc)
        # the Jaccard check runs as a join condition or as a filter
        ver = sum(
            r
            for name, desc, r in nodes
            if ("Join" in name or name == "Filter") and "array_intersect" in desc
        )
        out["dedupe.candidate_pairs"] = float(cand)
        out["dedupe.verified_pairs"] = float(ver)
        out["dedupe.candidate_yield"] = ver / cand if cand else 0.0
        out["dedupe.survivors"] = float(last_out["minhash_dedup"])
        nodes = rec.probe.sql_nodes(spans["similarity.exec"].group)
        out["similarity.pairs_scored"] = sum(r for name, _, r in nodes if "NestedLoopJoin" in name)
    return out


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Workloads: ``olap``, ``curation``, ``cdc_lakehouse`` (see README.md).
The run generates its inputs from ``--seed`` under a per-run directory
in ``.perfbench/`` at the repository root, starts a local Spark session
on every available core, sets the workload up, measures it for
``--seconds``, checks every output outside the timed region and removes
the per-run directory.  The last line of stdout is::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run records spans and a Spark event log and reports
the per-layer metrics instead, prints the span tree with self times and
writes the spans to ``.perfbench/trace-<workload>-s<seed>.json``.  The
exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, eventlog_conf, fold_eventlog, idle_seconds  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap", "curation", "cdc_lakehouse")
QUERY_WORKLOADS = ("olap", "curation")
#: scale factor of the generated tables (lineitem 60k rows).  Query time
#: is fixed per-job overhead at these sizes: the 24 olap-class rows take
#: about 27 s at sf0.01 and at sf0.1 on a 4-core host
SF = 0.01


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cdc-files-per-s", type=float, default=1.0,
                   help="open-loop publish rate of change files")
    return p.parse_args(argv)


# -- run hygiene ----------------------------------------------------------------


def prepare_environment(run_dir: str) -> dict[str, str]:
    """Keep every file the run writes inside ``run_dir`` and let Python
    workers import the package; returns the Spark confs that go with it."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def commit_id() -> str | None:
    """The checked-out commit; None outside a git checkout."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stop_spark(spark) -> None:
    """Stop the session (if one started) and wait until the JVM has
    exited; closing its stdin is the gateway process's signal to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_check_oracle():
    """The correctness gate's own canonicalizer (``tools/check_oracle.py``);
    the import path it adds for its own use is taken back out."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


# -- statistics -----------------------------------------------------------------


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# -- query workloads ---------------------------------------------------------------


def setup_queries(spark, workload: str, data_dir: str, phases: dict) -> None:
    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.plans import REGISTRY

    t0 = time.perf_counter()
    # fault the shuffle, scan, planning and codegen paths in, as bench.py
    # does, so whichever query a seed puts first is not billed for them:
    # a shuffle, then a multi-table registry query that no pass runs
    spark.range(0, 1_000_000, 1, 8).groupBy(F.col("id") % 32).count().collect()
    REGISTRY[workloads.WARMUP_QUERY].fn(spark, data_dir).collect()
    phases["warmup_s"] = time.perf_counter() - t0
    if workload == "curation":
        from lakehouse_cdc_spark.plans.artifacts import prepare_artifacts

        t0 = time.perf_counter()
        prepare_artifacts(spark, data_dir)
        phases["artifacts_s"] = time.perf_counter() - t0


def check_queries(execs, data_dir: str, co) -> list[str]:
    """Every execution against its DuckDB oracle; returns failures."""
    import duckdb

    from lakehouse_cdc_spark.plans import REGISTRY
    from lakehouse_cdc_spark.session import TABLES

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    failures = []
    expected = {}
    for e in execs:
        if e.error is not None:
            failures.append(f"{e.trace}: {e.error}")
            continue
        if e.name not in expected:
            res = con.execute(REGISTRY[e.name].oracle)
            cols = [d[0] for d in res.description]
            expected[e.name] = (sorted(cols), co.rows_to_multiset(res.fetchall(), cols))
        cols, multiset = expected[e.name]
        if sorted(e.columns) != cols or co.rows_to_multiset(e.rows, e.columns) != multiset:
            failures.append(f"{e.trace}: result differs from the DuckDB oracle")
    con.close()
    return failures


def measured_passes(execs, names) -> list[list]:
    """The measured passes, after the warm ones: the warm passes run each
    query's own code paths in (JIT, codegen), and later ones (run while
    ``--seconds`` has not elapsed) come in a number that depends on the
    host's speed.  Every pass's results are checked."""
    n = len(names)
    first = workloads.WARM_PASSES
    return [execs[(first + k) * n:(first + k + 1) * n]
            for k in range(workloads.MEASURED_PASSES)]


def query_metrics(execs, names) -> tuple[dict, dict]:
    """Gated: CPU seconds of one measured pass (the median, with more
    than one).  Info: its wall time and the per-query latencies."""
    passes = measured_passes(execs, names)
    failed = [e.name for p in passes for e in p if e.error is not None]
    if failed:
        raise RuntimeError(f"a measured pass failed on {failed}")
    cpu = statistics.median(sum(e.cpu_s for e in p) for p in passes)
    wall = statistics.median(sum(e.latency for e in p) for p in passes)
    lat = [e.latency for p in passes for e in p]
    metrics = {"cpu_s": cpu, "read_cpu_s": cpu}
    info = {"mix_s": round(wall, 4), "query_p50_s": round(statistics.median(lat), 4),
            "query_max_s": round(max(lat), 4), "queries_per_s": round(len(lat) / sum(lat), 4),
            "op_n": len(lat), "passes": round(len(execs) / len(names), 2),
            "pass_s": [{e.name: round(e.latency, 4) for e in p} for p in passes],
            "pass_cpu_s": [{e.name: round(e.cpu_s, 4) for e in p} for p in passes]}
    return metrics, info


def query_layers(tracer, passes, groups) -> dict:
    """Per-layer metrics of one measured pass: summed over its
    executions, averaged over the measured passes."""
    execs = [e for p in passes for e in p]
    traces = {e.trace for e in execs}
    kids = tracer.children()
    out = dict.fromkeys(LAYER_KEYS_QUERY, 0.0)
    for i, s in enumerate(tracer.spans):
        if s.trace not in traces or s.end is None:
            continue
        if s.name == "registry.table":
            out["registry.table_calls"] += 1
            out["registry.table_s"] += s.dur
        elif s.name == "plans.checkpoint":
            out["plans.checkpoint_calls"] += 1
            out["plans.checkpoint_s"] += s.dur
        elif s.name == "plans.build":
            out["plans.build_self_s"] += tracer.self_time(i, kids)
        elif s.name == "engine.collect":
            out["engine.collect_s"] += s.dur
            windows = groups[s.trace].task_windows if s.trace in groups else []
            off = tracer.epoch_offset
            out["engine.idle_s"] += idle_seconds(s.start + off, s.end + off, windows)
    for e in execs:
        if e.trace in groups:
            for key, v in groups[e.trace].metrics().items():
                out[key] += v
    return {k: v / len(passes) for k, v in out.items()}


LAYER_KEYS_QUERY = (
    "registry.table_calls", "registry.table_s", "plans.build_self_s",
    "plans.checkpoint_calls", "plans.checkpoint_s", "engine.collect_s",
    "engine.jobs", "engine.tasks", "engine.idle_s", "engine.executor_run_s",
    "engine.executor_cpu_s", "engine.gc_s", "engine.shuffle_write_bytes",
    "engine.fetch_wait_s",
)
LAYER_KEYS_CDC = (
    "sink.batches", "sink.batch_s", "sink.probe_s", "sink.write_s",
    "sink.commit_s", "sink.buckets_touched", "sink.retries", "stream.wait_s",
    "stream.files_per_batch", "stream.backlog_end", "sink.scan_s",
    "sink.lookup_s", "sink.cdf_s", "gen.late_s",
)


# -- cdc_lakehouse -------------------------------------------------------------------


def cdc_metrics(rec, fb) -> tuple[dict, dict]:
    """Gated: CPU seconds of the fixed work, the catch-up drain plus the
    read-mix rounds after it, and of the rounds alone.  Info: the same
    work's wall time; of the open loop, lag and read latencies."""
    first_open = workloads.BACKLOG_FILES
    lags = []
    for bid, files in fb.items():
        b = rec.batches.get(bid)
        for f in files:
            if f >= first_open and b is not None and b.end is not None:
                lags.append(b.end - rec.scheduled[f])
    if not lags or not rec.rounds or not rec.catchup_batch_cpu:
        raise RuntimeError("the run committed no change file or read round")
    metrics = {"cpu_s": rec.catchup_cpu_s + rec.rounds_cpu_s,
               "read_cpu_s": rec.rounds_cpu_s}
    reads = [r[2] - r[1] for r in rec.reads if r[3] is None]
    info = {"catchup_cpu_s": round(rec.catchup_cpu_s, 4), "rounds_s": round(rec.rounds_s, 4),
            "lag_p50_s": round(statistics.median(lags), 4), "lag_max_s": round(max(lags), 4),
            "op_n": len(lags), "catchup_rows_per_s": round(statistics.median(rec.catchup_rates), 2),
            "read_round_s": round(statistics.mean(rec.rounds), 4), "reads": len(reads),
            "read_p50_s": round(median(reads), 4), "read_max_s": round(max(reads), 4),
            "files_published": rec.files_published, "catchup_rows": rec.catchup_rows,
            "catchup_s": round(rec.catchup_s, 4), "load_s": round(rec.load_s, 4),
            "catchup_batch_cpu_s": [round(x, 3) for x in rec.catchup_batch_cpu]}
    return metrics, info


def cdc_layers(rec, fb) -> dict:
    first_open = workloads.BACKLOG_FILES
    done = [b for b in rec.batches.values() if b.end is not None]
    timing = [b.timings for b in done if b.timings]
    waits, per_batch = [], []
    for bid, files in fb.items():
        opened = [f for f in files if f >= first_open]
        if opened and bid in rec.batches:
            per_batch.append(len(opened))
            waits += [rec.batches[bid].start - rec.published[f] for f in opened]

    def read_s(op):
        return median(r[2] - r[1] for r in rec.reads if r[0] == op and r[3] is None)

    return {
        "sink.batches": len(done),
        "sink.batch_s": median(b.end - b.start for b in done),
        "sink.probe_s": median(t["probe_s"] for t in timing),
        "sink.write_s": median(t["write_s"] for t in timing),
        "sink.commit_s": median(t["commit_s"] for t in timing),
        "sink.buckets_touched": median(t["n_touched"] for t in timing),
        "sink.retries": sum(b.attempts - 1 for b in rec.batches.values()),
        "stream.wait_s": median(waits),
        "stream.files_per_batch": sum(per_batch) / len(per_batch) if per_batch else 0.0,
        "stream.backlog_end": rec.backlog_end,
        "sink.scan_s": read_s("scan"),
        "sink.lookup_s": read_s("lookup"),
        "sink.cdf_s": read_s("cdf"),
        "gen.late_s": max(rec.late, default=0.0),
    }


def check_cdc(run, fb, co) -> list[str]:
    """Final table against an independent last-write-wins over the
    generated log; the change feed read in the open loop and each
    replay of the catch-up's feed against the log."""
    rec, log = run.rec, run.log
    failures = [f"read {op}: {err}" for op, _, _, err in rec.reads if err]
    failures += rec.errors
    if not rec.drained:
        failures.append("the stream did not commit every published file")
    n_files = workloads.BACKLOG_FILES + rec.files_published
    files = [log.file(i) for i in range(n_files)]
    want = datagen.last_write_wins([log.snapshot] + files)
    cols = [c for c in log.snapshot if c not in ("operation", "seq")]
    got = run.sink.current_table(run.spark).select(*cols).collect()
    if co.rows_to_multiset(got, cols) != co.rows_to_multiset(want.values(), cols):
        failures.append(f"final table ({len(got)} rows) differs from last-write-wins "
                        f"over the log ({len(want)} rows)")
    # change feed: every row is a logged change, no row repeats, and
    # each commit emits exactly one row per distinct key its files changed
    logged = {}
    for cols_ in files:
        for k, s, op in zip(cols_["o_orderkey"].tolist(), cols_["seq"].tolist(),
                            cols_["operation"].tolist()):
            logged[(k, s)] = op

    def check_feed(what, rows, lo, hi):
        stray = [r for r in rows if logged.get((r[0], r[1])) != r[2]]
        if stray:
            failures.append(f"{what}: {len(stray)} rows are not in the log")
        if len(set(rows)) != len(rows):
            failures.append(f"{what}: rows repeat")
        expect = sum(len({k for f in fs for k in files[f]["o_orderkey"].tolist()})
                     for b, fs in fb.items()
                     if b in rec.batches and rec.batches[b].snapshot is not None
                     and lo < rec.batches[b].snapshot <= hi)
        if len(rows) != expect:
            failures.append(f"{what}: {len(rows)} rows, the log implies {expect}")

    check_feed("change feed", rec.cdf_rows, rec.cdf_from, float("inf"))
    if len(rec.replays) != workloads.READ_ROUNDS:
        failures.append(f"{len(rec.replays)} catch-up feed replays, "
                        f"expected {workloads.READ_ROUNDS}")
    for rows in rec.replays:
        check_feed("catch-up feed replay", rows, rec.loaded, rec.cdf_from)
    return failures


# -- main -----------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        return _main(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _main(args, run_dir: str) -> int:
    conf = prepare_environment(run_dir)
    # engine imports first: without the package the run stops here,
    # non-zero and before any result line
    from lakehouse_cdc_spark.plans import REGISTRY  # noqa: F401 - registers queries
    from lakehouse_cdc_spark.session import get_spark

    co = load_check_oracle()
    tracer = Tracer() if args.trace else None
    elog = os.path.join(run_dir, "eventlog")
    if tracer is not None:
        conf.update(eventlog_conf(elog))

    phases: dict[str, float] = {}
    data_dir = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    if args.workload in QUERY_WORKLOADS:
        datagen.write_tables(data_dir, SF, args.seed)
    sizes = datagen.table_sizes(SF)
    log = datagen.ChangeLog(args.seed, sizes["orders"], sizes["customer"],
                            workloads.ROWS_PER_FILE)
    phases["datagen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = None
    try:
        spark = get_spark(f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)),
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session_s"] = time.perf_counter() - t0
        if args.workload in QUERY_WORKLOADS:
            names = workloads.PASSES[args.workload]
            setup_queries(spark, args.workload, data_dir, phases)
            setup_s = time.perf_counter() - T_PROCESS - phases["datagen_s"]
            if tracer is not None:
                tracer.instrument_plans(spark)
            execs = workloads.run_queries(spark, data_dir, names, args.seconds,
                                          args.seed, tracer)
            if tracer is not None:
                tracer.restore()
            t0 = time.perf_counter()
            failures = check_queries(execs, data_dir, co)
            check_s = time.perf_counter() - t0
            metrics, info = query_metrics(execs, names)
            attempted = len(execs)
        else:
            run = workloads.CdcRun(spark, os.path.join(run_dir, "cdc"), log,
                                   args.cdc_files_per_s, args.seed, tracer)
            run.load()
            phases["sink_load_s"] = run.rec.load_s
            setup_s = time.perf_counter() - T_PROCESS - phases["datagen_s"]
            run.catch_up()
            run.read_rounds()
            run.open_loop(args.seconds)
            run.cdf_tail()
            fb = run.file_batches()
            t0 = time.perf_counter()
            failures = check_cdc(run, fb, co)
            check_s = time.perf_counter() - t0
            metrics, info = cdc_metrics(run.rec, fb)
            attempted = len(run.rec.reads) + workloads.BACKLOG_FILES + run.rec.files_published
        master = spark.sparkContext.master
        parallelism = spark.sparkContext.defaultParallelism
    finally:
        stop_spark(spark)

    metrics["setup_s"] = setup_s
    if tracer is not None:
        groups = fold_eventlog(elog)
        layers = dict.fromkeys(LAYER_KEYS_QUERY + LAYER_KEYS_CDC, 0.0)
        layers["session.start_s"] = phases["session_s"]
        layers["artifacts.setup_s"] = phases.get("artifacts_s", 0.0)
        if args.workload in QUERY_WORKLOADS:
            layers.update(query_layers(tracer, measured_passes(execs, names), groups))
        else:
            layers.update(cdc_layers(run.rec, fb))
            # engine work of the reads, per read-mix round
            rounds = workloads.READ_ROUNDS + len(run.rec.rounds)
            for k, g in groups.items():
                if k.startswith("read-"):
                    for key, v in g.metrics().items():
                        layers[key] += v / rounds
        layers["traced.cpu_s"] = metrics["cpu_s"]
        out_metrics = layers
        tree = tracer.tree()
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench",
                                 f"trace-{args.workload}-s{args.seed}.json"),
                    {"layers": layers})
        print("span tree (count, total s, self s):")
        for row in tree:
            print(f"  {row['path']:<60} {row['count']:>6} {row['total_s']:>10.3f} "
                  f"{row['self_s']:>10.3f}")
        if args.workload in QUERY_WORKLOADS:
            # the client is one thread: self times of the query trees
            # must add up to the timed wall, less the loop's bookkeeping
            info["trace_reconcile"] = {
                "self_sum_s": round(sum(row["self_s"] for row in tree
                                        if row["path"].startswith("query")), 4),
                "timed_wall_s": round(execs[-1].end - execs[0].start, 4)}
    else:
        out_metrics = metrics

    failed = len(failures)
    info.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "master": master,
        "parallelism": parallelism, "commit": commit_id(),
        "setup_phases_s": {k: round(v, 4) for k, v in phases.items()},
        "check_s": round(check_s, 4), "run_s": round(time.perf_counter() - T_PROCESS, 4),
        "failed_ratio": failed / max(1, attempted), "failures": failures[:20],
    })
    print(json.dumps({"info": info}))
    for name, value in out_metrics.items():
        print(f"{name:<28} {value:.6g} {unit(name)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in out_metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_s"):
        return "s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

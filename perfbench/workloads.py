"""The benchmark's three workloads.

``olap`` and ``curation`` are closed loops with one client: passes over
a list of registry queries, each pass in a seeded shuffled order, each
query built and collected in full.  ``cdc_lakehouse`` drives the
streaming path: a seeded change log drained through ``cdc_pipeline``
into a ``SnapshotUpsertSink``, first as a closed-loop catch-up followed
by a fixed number of read-mix rounds, then as an open loop (a generator
thread publishing change files on a fixed schedule) beside one
closed-loop reader thread issuing the Locust read mix against the same
sink.

The functions here only run work and record what happened; metrics and
output checks are computed by ``run.py`` outside the timed region.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from spans import tree_cpu_s

#: Every ``bench=True`` registry row belongs to exactly one query class.
#: ``olap``: scans, joins and shuffles over multi-table plans.
OLAP_ROWS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q8_market_share", "q10_returned_items", "q18_large_orders",
    "join_inner_orders_nation", "join_skewed_aqe", "join_skewed_salted",
    "join_asof_prior_view", "window_rank_orders_per_customer",
    "window_session_islands", "checksum_stats_lineitem",
    "flagship_cdc_compaction", "cdc_apply_changes",
    "source_python_cdclog_latest", "ledger_exactly_once_replay",
    "ts_anomaly_zscore", "ts_downsample_ohlc",
    "events_rolling_active_users", "events_sessionize_batch",
    "events_feature_snapshot_pit", "sketch_histogram_quantiles",
    "stats_ks_two_sample",
)
#: ``curation``: LLM-curation, graph, entity-resolution and text rows,
#: whose plan build is dominated by eager materialization.
CURATION_ROWS = (
    "dedup_containment_pairs", "dedup_ngram_jaccard",
    "dedup_lsh_parameter_sweep", "dedup_incremental_new_shard",
    "dedup_winnowing_spans", "dedup_exact_substring_spans",
    "emb_late_interaction_maxsim", "emb_neardup_bucketed",
    "emb_ivf_recall_probe", "emb_topk_batch", "emb_semantic_dedup",
    "emb_pq_rerank", "contamination_embedding_overlap",
    "contamination_ngram_overlap", "multimodal_ahash_signatures",
    "llm_curation_pipeline", "graph_pagerank_purchases",
    "graph_triangle_count", "graph_kcore_membership",
    "er_blocked_fuzzy_match", "er_golden_record", "er_snm_multipass",
    "sketch_kmv_jaccard", "text_bigram_lm_score", "text_kneser_ney_bigram",
    "text_repetition_profile",
)

#: The rows one timed pass runs.  A full class pass takes 27 s
#: (``olap``) and 48 s (``curation``) on a 4-core host, more than one
#: run may spend, so each pass runs a fixed sample of its class, chosen
#: to keep the class's character: multi-table scans and joins for
#: ``olap``; eager checkpoints, graph iteration and per-process
#: artifacts for ``curation``.  A run makes ``WARM_PASSES`` passes that
#: warm each query's own code paths (JIT, codegen), then
#: ``MEASURED_PASSES`` measured ones.
PASSES = {
    "olap": (
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "join_inner_orders_nation", "join_asof_prior_view", "cdc_apply_changes",
    ),
    "curation": (
        "graph_pagerank_purchases", "dedup_incremental_new_shard",
        "er_blocked_fuzzy_match",
    ),
}


WARM_PASSES = 1
MEASURED_PASSES = 1

#: run once in set-up (a four-table join no pass runs), to warm the
#: planning and codegen paths every pass query shares
WARMUP_QUERY = "q10_returned_items"


# -- query workloads ----------------------------------------------------------


@dataclass
class Execution:
    name: str
    trace: str
    start: float
    end: float
    cpu_s: float = 0.0
    columns: list[str] | None = None
    rows: list | None = None
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


def run_queries(spark, sf_dir: str, names, seconds: float, seed: int, tracer=None,
                passes: int = WARM_PASSES + MEASURED_PASSES) -> list[Execution]:
    """Closed loop: whole passes over ``names``, each in a seeded
    shuffled order, until ``seconds`` have elapsed and at least
    ``passes`` passes ran."""
    from lakehouse_cdc_spark.plans import REGISTRY

    rng = random.Random(seed)
    sc = spark.sparkContext
    execs: list[Execution] = []
    t0 = time.perf_counter()
    n = 0
    while len(execs) < passes * len(names) or time.perf_counter() - t0 < seconds:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            trace = f"q{n:04d}-{name}"
            n += 1
            if tracer is not None:
                sc.setJobGroup(trace, name)
            execs.append(_execute(REGISTRY[name].fn, spark, sf_dir, name, trace, tracer))
    return execs


def _execute(fn, spark, sf_dir, name, trace, tracer) -> Execution:
    def span(label, **kw):
        return tracer.span(label, **kw) if tracer is not None else nullcontext()

    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        with span("query", trace=trace, query=name):
            with span("plans.build"):
                df = fn(spark, sf_dir)
            with span("engine.collect"):
                rows = df.collect()
        t1 = time.perf_counter()
        return Execution(name, trace, t0, t1, tree_cpu_s() - c0, df.columns, rows)
    except Exception as e:  # noqa: BLE001 - a failed query is a counted outcome
        t1 = time.perf_counter()
        return Execution(name, trace, t0, t1, tree_cpu_s() - c0,
                         error=f"{type(e).__name__}: {e}"[:500])


# -- cdc_lakehouse ---------------------------------------------------------------


#: The Locust read mix per round: get-all x3, get-one x4, plus one
#: change-feed read as the downstream consumer.
READ_MIX = {"scan": 3, "lookup": 4, "cdf": 1}


#: change rows per file; files in the catch-up backlog; read-mix
#: rounds after the catch-up; files per micro-batch at most; the open
#: loop's trigger interval
ROWS_PER_FILE = 50
BACKLOG_FILES = 24
READ_ROUNDS = 2
MAX_FILES_PER_TRIGGER = 8
TRIGGER = "200 milliseconds"
#: bound on every wait for the stream (load, catch-up, final drain)
DRAIN_TIMEOUT_S = 60.0


@dataclass
class Batch:
    """One micro-batch as the sink saw it."""

    start: float
    end: float | None = None
    timings: dict | None = None  # the sink's last_batch_timings
    attempts: int = 0
    snapshot: int | None = None  # committed by this batch
    cpu: float | None = None  # process-tree CPU seconds at commit


@dataclass
class CdcRecord:
    """Everything the cdc run observed; ``run.py`` turns it into metrics."""

    load_s: float = 0.0
    #: snapshot committed by the initial load
    loaded: int | None = None
    catchup_s: float = 0.0
    catchup_cpu_s: float = 0.0
    catchup_rows: int = 0
    #: wall and process-tree CPU seconds of the ``READ_ROUNDS`` rounds
    #: after the catch-up, and the change-feed rows each round read
    rounds_s: float = 0.0
    rounds_cpu_s: float = 0.0
    replays: list[list[tuple]] = field(default_factory=list)

    #: change rows per second of each catch-up batch, from the previous
    #: commit (or the consumer's start) to its own commit
    catchup_rates: list[float] = field(default_factory=list)
    #: process-tree CPU seconds of each catch-up batch, commit to commit
    catchup_batch_cpu: list[float] = field(default_factory=list)
    #: per file index: scheduled and actual publish time (open loop only)
    scheduled: dict[int, float] = field(default_factory=dict)
    published: dict[int, float] = field(default_factory=dict)
    files_published: int = 0
    batches: dict[int, Batch] = field(default_factory=dict)
    #: snapshot the change-feed consumer starts after (open-loop start)
    cdf_from: int | None = None
    #: (op, start, end, error)
    reads: list[tuple[str, float, float, str | None]] = field(default_factory=list)
    #: wall seconds of each whole open-loop read-mix round
    rounds: list[float] = field(default_factory=list)
    #: generator lateness per published file (actual - scheduled start)
    late: list[float] = field(default_factory=list)
    cdf_rows: list[tuple] = field(default_factory=list)
    drained: bool = False
    backlog_end: int = 0
    errors: list[str] = field(default_factory=list)


class CdcRun:
    def __init__(self, spark, work: str, log, files_per_s: float, seed: int, tracer=None):
        from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

        self.spark = spark
        self.work = work
        self.log = log
        self.files_per_s = files_per_s
        self.seed = seed
        self.tracer = tracer
        self.src = os.path.join(work, "changes")
        self.ckpt = os.path.join(work, "ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.rec = CdcRecord()
        self.sink = SnapshotUpsertSink(
            os.path.join(work, "sink"), keys=["o_orderkey"], order_by=["seq"])
        self._wrap_sink()
        self._last_mtime_ns = 0
        self.read_keys: list[int] = []  # get-one draws from these
        self.cdf_cursor: int | None = None

    # -- sink instrumentation (cheap: clock reads only, no Spark jobs) ----
    def _wrap_sink(self) -> None:
        orig = self.sink.process_batch
        rec = self.rec

        def process_batch(df, batch_id):
            start = time.perf_counter()
            entry = rec.batches.setdefault(batch_id, Batch(start))
            entry.attempts += 1
            if self.tracer is not None:
                with self.tracer.span("sink.process_batch", trace=f"batch-{batch_id}"):
                    orig(df, batch_id)
            else:
                orig(df, batch_id)
            entry.timings = dict(self.sink.last_batch_timings)
            entry.snapshot = self.sink.committed_snapshot()
            entry.cpu = tree_cpu_s()
            entry.end = time.perf_counter()

        self.sink.process_batch = process_batch

    # -- change files -------------------------------------------------------
    def publish(self, i: int) -> float:
        """Publish change file ``i`` (``-1``: the initial snapshot)."""
        if i < 0:
            return self._publish("snapshot.parquet", self.log.snapshot)
        return self._publish(f"{i:06d}.parquet", self.log.file(i))

    def _publish(self, name: str, cols: dict) -> float:
        """Write under a hidden name, then rename into the source
        directory, so the file source never lists a partial file.
        Modification times strictly increase with each file (the file
        source consumes files in that order)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = os.path.join(self.src, f".{name}.tmp")
        pq.write_table(pa.table(cols), tmp)
        now = time.time_ns() // 1_000_000 * 1_000_000
        mt = max(now, self._last_mtime_ns + 1_000_000)
        self._last_mtime_ns = mt
        os.utime(tmp, ns=(mt, mt))
        os.rename(tmp, os.path.join(self.src, name))
        return time.perf_counter()

    def schema(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pa.table(self.log.file(0)).schema)

    # -- phases --------------------------------------------------------------
    def load(self) -> None:
        """Initial snapshot, streamed like any change file: every order
        as a create, in the pipeline's first batch.  As with a
        snapshot-then-stream CDC connector, the consumer's first start
        is part of set-up."""
        self.publish(-1)
        t0 = time.perf_counter()
        q = self._pipeline({"availableNow": True})
        ok = q.awaitTermination(DRAIN_TIMEOUT_S)
        if not ok or q.exception() is not None or self.sink.committed_snapshot() is None:
            q.stop()
            raise RuntimeError(f"initial snapshot load failed: {q.exception()}")
        self.rec.load_s = time.perf_counter() - t0
        self.rec.loaded = self.sink.committed_snapshot()
        self.rec.batches.clear()

    def _pipeline(self, trigger: dict):
        from lakehouse_cdc_spark.streaming import cdc_pipeline, file_cdc_source

        stream = file_cdc_source(self.spark, self.src, self.schema(),
                                 max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        return cdc_pipeline(stream, self.sink, self.ckpt, trigger=trigger)

    def file_batches(self) -> dict[int, list[int]]:
        """batch id -> indexes of the change files it read, from the file
        source's own metadata log in the checkpoint."""
        log_dir = os.path.join(self.ckpt, "sources", "0")
        out: dict[int, set] = {}
        for name in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
            if name.startswith("."):
                continue  # a log file still being written
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        stem = os.path.basename(e["path"]).split(".")[0]
                        if stem.isdigit():  # not the initial snapshot
                            out.setdefault(int(e["batchId"]), set()).add(int(stem))
        return {b: sorted(v) for b, v in sorted(out.items())}

    def files_committed(self) -> int:
        done = {b for b, x in self.rec.batches.items() if x.end is not None}
        return sum(len(fs) for b, fs in self.file_batches().items() if b in done)

    def catch_up(self) -> None:
        """Closed loop: drain a backlog of already-published files, as a
        consumer restarting behind the log would."""
        for i in range(BACKLOG_FILES):
            self.publish(i)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        q = self._pipeline({"availableNow": True})
        ok = q.awaitTermination(DRAIN_TIMEOUT_S)
        self.rec.catchup_s = time.perf_counter() - t0
        self.rec.catchup_cpu_s = tree_cpu_s() - c0
        if not ok:
            q.stop()
            self.rec.errors.append("catch-up did not drain in time")
        if q.exception() is not None:
            self.rec.errors.append(f"catch-up failed: {q.exception()}")
        self.rec.catchup_rows = self.files_committed() * ROWS_PER_FILE
        prev, prev_cpu = t0, c0
        fb = self.file_batches()
        for b in sorted(self.rec.batches):
            x = self.rec.batches[b]
            if x.end is not None:
                self.rec.catchup_rates.append(len(fb.get(b, ())) * ROWS_PER_FILE / (x.end - prev))
                self.rec.catchup_batch_cpu.append(x.cpu - prev_cpu)
                prev, prev_cpu = x.end, x.cpu

    def read_rounds(self) -> None:
        """Closed loop on the caught-up sink, no writer running:
        ``READ_ROUNDS`` whole read-mix rounds, whose change-feed read
        replays the catch-up's commits (a downstream consumer that
        restarted with the writer), so every round does the same work."""
        rec = self.rec
        self.read_keys = self.log.live_keys(BACKLOG_FILES)
        lo, hi = rec.loaded, self.sink.committed_snapshot()
        rng = random.Random(self.seed)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        for _ in range(READ_ROUNDS):
            self._round(rng, lambda: rec.replays.append(self._feed_rows(lo, hi)))
        rec.rounds_s = time.perf_counter() - t0
        rec.rounds_cpu_s = tree_cpu_s() - c0

    def open_loop(self, seconds: float) -> None:
        rec = self.rec
        first = BACKLOG_FILES
        rec.cdf_from = self.cdf_cursor = self.sink.committed_snapshot()
        q = self._pipeline({"processingTime": TRIGGER})
        stop = threading.Event()
        t0 = time.perf_counter()

        def generator():
            i = 0
            while not stop.is_set():
                due = t0 + i / self.files_per_s
                if due - t0 >= seconds:
                    break
                delay = due - time.perf_counter()
                if delay > 0 and stop.wait(delay):
                    break
                # a stalled generator publishes late files at once and
                # keeps the schedule: lateness is reported, not absorbed
                rec.scheduled[first + i] = due
                rec.late.append(max(0.0, time.perf_counter() - due))
                rec.published[first + i] = self.publish(first + i)
                rec.files_published = i + 1
                i += 1

        def follow():
            # the change-feed consumer: every commit since its last read
            cur = self.sink.committed_snapshot()
            if cur != self.cdf_cursor:
                rec.cdf_rows.extend(self._feed_rows(self.cdf_cursor, cur))
                self.cdf_cursor = cur

        def reader():
            rng = random.Random(self.seed + 1)
            # whole rounds, like the query workloads' whole passes: the
            # round in flight when the schedule ends still completes
            while not stop.is_set():
                rec.rounds.append(self._round(rng, follow))

        threads = [threading.Thread(target=generator, name="generator"),
                   threading.Thread(target=reader, name="reader")]
        for t in threads:
            t.start()
        threads[0].join(seconds + 60)
        n_total = BACKLOG_FILES + rec.files_published
        rec.backlog_end = n_total - self.files_committed()
        stop.set()
        threads[1].join(120)
        # open loop over: wait for every published file to commit
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline and self.files_committed() < n_total:
            if q.exception() is not None:
                break
            time.sleep(0.05)
        rec.drained = self.files_committed() >= n_total
        q.stop()
        if q.exception() is not None:
            rec.errors.append(f"stream failed: {q.exception()}")

    def _round(self, rng, cdf) -> float:
        """One whole read-mix round in a seeded order; ``cdf`` is the
        change-feed read.  Returns the round's wall seconds."""
        ops = [op for op, w in READ_MIX.items() for _ in range(w)]
        rng.shuffle(ops)
        t0 = time.perf_counter()
        for op in ops:
            self._read(op, rng, cdf)
        return time.perf_counter() - t0

    def _read(self, op: str, rng, cdf) -> None:
        from pyspark.sql import functions as F

        trace = f"read-{len(self.rec.reads):05d}"
        t0 = time.perf_counter()
        err = None
        try:
            if self.tracer is not None:
                self.spark.sparkContext.setJobGroup(trace, op)
            ctx = (self.tracer.span(f"read.{op}", trace=trace)
                   if self.tracer is not None else nullcontext())
            with ctx:
                if op == "scan":
                    self.sink.current_table(self.spark).agg(
                        F.count("*"), F.sum("o_totalprice")).collect()
                elif op == "lookup":
                    key = self.read_keys[rng.randrange(len(self.read_keys))]
                    self.sink.lookup(self.spark, "o_orderkey", key).collect()
                else:
                    cdf()
        except Exception as e:  # noqa: BLE001 - a failed read is a counted outcome
            err = f"{type(e).__name__}: {e}"[:300]
        self.rec.reads.append((op, t0, time.perf_counter(), err))

    def cdf_tail(self) -> None:
        """Untimed: consume the feed up to the final snapshot, so the
        consumer's rows cover every committed change."""
        last = self.cdf_cursor
        cur = self.sink.committed_snapshot()
        while last < cur:
            hi = min(cur, last + self.sink.MAX_COW_DIFFS)
            self.rec.cdf_rows.extend(self._feed_rows(last, hi))
            last = hi

    def _feed_rows(self, lo: int, hi: int) -> list[tuple]:
        df = self.sink.changes_between(self.spark, lo, hi)
        if df is None:
            return []
        return [tuple(r) for r in df.select("o_orderkey", "seq", "operation").collect()]

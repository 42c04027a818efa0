"""Tests for the custom Python Data Source (sources/cdclog.py):
pushdown pruning at the reader-object level, generation laziness
bounds, and batch ≡ stream envelope equality."""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    LessThan,
    StringContains,
)

from lakehouse_cdc_spark.sources.cdclog import (
    CdcLogBatchReader,
    CdcLogStreamReader,
    register_cdclog,
)


def test_pushdown_consumes_part_and_offset_filters():
    r = CdcLogBatchReader({"n": "1000", "parts": "4", "keys": "50"})
    leftover = list(
        r.pushFilters(
            [
                EqualTo(("part",), 2),
                GreaterThanOrEqual(("offset",), 100),
                LessThan(("offset",), 500),
                StringContains(("value",), "item_7"),  # unsupported
            ]
        )
    )
    # only the unsupported filter is handed back to Spark
    assert [type(f) for f in leftover] == [StringContains]
    parts = r.partitions()
    assert [p.value for p in parts] == [2]  # 3 of 4 partitions pruned
    offs = [row[0] for row in r.read(parts[0])]
    assert offs == list(range(102, 500, 4))  # ≡2 (mod 4), within bounds
    # row arity and partition column match the pruned partition
    row = next(iter(r.read(parts[0])))
    assert len(row) == 3 and row[1] == 2


def test_pushdown_can_prune_everything():
    r = CdcLogBatchReader({"n": "1000", "parts": "4", "keys": "50"})
    list(r.pushFilters([GreaterThanOrEqual(("offset",), 5000)]))
    assert r.partitions() == []


def test_batch_filter_results_match_unfiltered_subset(spark):
    register_cdclog(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    opts = {"n": "800", "parts": "4", "keys": "60"}
    full = (
        spark.read.format("cdclog").options(**opts).load().collect()
    )
    pushed = (
        spark.read.format("cdclog")
        .options(**opts)
        .load()
        .filter((F.col("part") == 1) & (F.col("offset") < 300))
        .collect()
    )
    manual = [r for r in full if r.part == 1 and r.offset < 300]
    assert sorted(pushed) == sorted(manual) and len(pushed) == 75


def test_stream_replays_identical_envelopes(spark, tmp_path):
    register_cdclog(spark)
    opts = {"n": "500", "parts": "4", "keys": "50"}
    batch_rows = {
        (r.offset, r.part, r.value)
        for r in spark.read.format("cdclog").options(**opts).load().collect()
    }
    # NOTE availableNow + SimpleDataSourceStreamReader drains only the
    # one prefetched micro-batch, so run the continuous trigger and
    # poll the sink for the full log instead (same drain strategy as
    # the stateful-TTL test after round 2's hang fix)
    q = (
        spark.readStream.format("cdclog")
        .options(**opts)
        .option("batch", "137")  # deliberately ≠ n so batches straddle
        .load()
        .writeStream.format("memory")
        .queryName("cdclog_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT * FROM cdclog_stream").count() >= 500:
                break
            time.sleep(0.5)
        got = {
            (r.offset, r.part, r.value)
            for r in spark.sql("SELECT * FROM cdclog_stream").collect()
        }
    finally:
        q.stop()
    assert got == batch_rows  # exactly-once, byte-identical envelopes


def test_stream_reader_offset_contract():
    r = CdcLogStreamReader({"n": "10", "batch": "4", "parts": "2", "keys": "5"})
    assert r.initialOffset() == {"offset": 0}
    rows, nxt = r.read({"offset": 0})
    assert [t[0] for t in rows] == [0, 1, 2, 3] and nxt == {"offset": 4}
    rows, nxt = r.read({"offset": 8})
    assert [t[0] for t in rows] == [8, 9] and nxt == {"offset": 10}
    rows, nxt = r.read({"offset": 10})  # drained: empty batch, no advance
    assert list(rows) == [] and nxt == {"offset": 10}
    # crash-recovery replay is bit-identical generation
    replay = list(r.readBetweenOffsets({"offset": 2}, {"offset": 6}))
    assert [t[0] for t in replay] == [2, 3, 4, 5]


def test_cdclog_source_through_snapshot_sink(spark, tmp_path):
    """Full CDC path over the Python source: stream → flat-envelope
    decode → classify → bucketed snapshot-sink upsert (tombstones
    delete), resumed across multiple availableNow rounds from one
    checkpoint (the simple stream reader drains one prefetched batch
    per round — each restart IS a checkpoint-recovery exercise).
    Final state must equal the batch latest-state minus deletions."""
    from lakehouse_cdc_spark.cdc import classify_operation
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink, cdc_pipeline

    register_cdclog(spark)
    opts = {"n": "2000", "parts": "4", "keys": "200"}
    env = "id BIGINT, name STRING, __deleted STRING, ts_ms BIGINT"

    sink = SnapshotUpsertSink(
        str(tmp_path / "target"), keys=["id"], order_by=["ts_ms"]
    )
    for _ in range(8):  # 2000 rows / 500-per-batch + idle rounds
        raw = (
            spark.readStream.format("cdclog")
            .options(**opts)
            .option("batch", "500")
            .load()
        )
        changes = classify_operation(
            raw.select(F.from_json("value", env).alias("p")).select("p.*")
        )
        q = cdc_pipeline(changes, sink, str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)

    got = {
        r.id: (r.name, r.ts_ms) for r in sink.current_table(spark).collect()
    }
    latest = (
        spark.read.format("cdclog")
        .options(**opts)
        .load()
        .select(F.from_json("value", env).alias("p"))
        .select("p.*")
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("id")
                .orderBy(F.desc("ts_ms"))
            ),
        )
        .filter("rn = 1")
    )
    want = {
        r.id: (r.name, r.ts_ms)
        for r in latest.filter(F.col("__deleted") != "true").collect()
    }
    assert got == want
    # tombstoned keys must be absent
    gone = {r.id for r in latest.filter(F.col("__deleted") == "true").collect()}
    assert not (gone & set(got))


def test_pushdown_equals_manual_filter_property():
    """Property: for ANY offset bounds + optional part equality, the
    pruned reader generates exactly the rows a manual filter of the
    full log keeps — pruning is an optimization, never a semantics
    change."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    full = {
        (r[0], r[1])
        for p in CdcLogBatchReader({"n": "600", "parts": "5", "keys": "40"}).partitions()
        for r in CdcLogBatchReader({"n": "600", "parts": "5", "keys": "40"}).read(p)
    }

    @settings(max_examples=60, deadline=None)
    @given(
        lo=st.integers(-50, 700),
        hi=st.integers(-50, 700),
        part=st.one_of(st.none(), st.integers(-1, 6)),
    )
    def check(lo, hi, part):
        r = CdcLogBatchReader({"n": "600", "parts": "5", "keys": "40"})
        filters = [GreaterThanOrEqual(("offset",), lo), LessThan(("offset",), hi)]
        if part is not None:
            filters.append(EqualTo(("part",), part))
        leftover = list(r.pushFilters(filters))
        assert leftover == []  # all three shapes are fully consumed
        got = {(row[0], row[1]) for p in r.partitions() for row in r.read(p)}
        want = {
            (o, pp)
            for (o, pp) in full
            if lo <= o < hi and (part is None or pp == part)
        }
        assert got == want

    check()


def test_fully_pruned_scan_returns_zero_rows_through_spark(spark):
    """Regression (review finding): PySpark substitutes [None] when
    partitions() prunes to empty and STILL calls read — the real query
    path must return 0 rows, not crash in the executor."""
    register_cdclog(spark)
    got = (
        spark.read.format("cdclog")
        .option("n", "100")
        .load()
        .filter(F.col("offset") >= 5000)
        .count()
    )
    assert got == 0


def test_stream_reader_rejects_nonpositive_batch():
    """Regression (review finding): batch <= 0 would livelock (empty
    micro-batches at the same offset forever) — must fail fast."""
    import pytest

    for bad in ("0", "-5"):
        with pytest.raises(ValueError, match="batch > 0"):
            CdcLogStreamReader({"n": "10", "batch": bad})


# -- Python Data Source WRITER (Spark 4 DataSourceArrowWriter) --------------


def _env_df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS offset", "CAST(id % 4 AS INT) AS part",
        "CAST(id AS STRING) AS value",
    )


def test_writer_round_trip_append_overwrite(spark, tmp_path):
    """Batch write publishes a manifest; committed-only reads see
    exactly the written rows; append extends the manifest; overwrite
    swaps it and unlinks the superseded files."""
    from lakehouse_cdc_spark.sources.cdclog import (
        read_committed_log,
        register_cdclog,
    )
    import os

    register_cdclog(spark)
    d = str(tmp_path / "log")
    df = _env_df(spark, 0, 100)
    df.write.format("cdclog").mode("overwrite").save(d)
    back = read_committed_log(spark, d)
    assert back.count() == 100
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0

    _env_df(spark, 100, 150).write.format("cdclog").mode("append").save(d)
    assert read_committed_log(spark, d).count() == 150

    _env_df(spark, 0, 10).write.format("cdclog").mode("overwrite").save(d)
    assert read_committed_log(spark, d).count() == 10
    live = {f for f in os.listdir(d) if f.endswith(".parquet")}
    import json

    with open(os.path.join(d, "_COMMIT.json")) as f:
        manifested = set(json.load(f)["files"])
    assert live == manifested  # overwrite left no orphan data files


def test_writer_crash_before_commit_is_invisible(spark, tmp_path):
    """A tmp file from a crashed task (no manifest entry) must never
    surface through the committed-only reader, and a subsequent
    successful write is unaffected."""
    from lakehouse_cdc_spark.sources.cdclog import (
        read_committed_log,
        register_cdclog,
    )
    import os

    register_cdclog(spark)
    d = str(tmp_path / "log")
    _env_df(spark, 0, 20).write.format("cdclog").mode("overwrite").save(d)
    # simulate a crashed writer's debris
    stray = os.path.join(d, "_tmp-deadbeef.parquet")
    with open(stray, "wb") as f:
        f.write(b"not a parquet file")
    assert read_committed_log(spark, d).count() == 20  # debris invisible
    _env_df(spark, 20, 30).write.format("cdclog").mode("append").save(d)
    assert read_committed_log(spark, d).count() == 30


def test_writer_abort_removes_tmp_files(tmp_path):
    """abort() unlinks every tmp file its commit messages name."""
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        CdcLogBatchWriter,
        _FileCommit,
    )

    d = str(tmp_path / "log")
    os.makedirs(d)
    for n in ("_tmp-a.parquet", "_tmp-b.parquet"):
        open(os.path.join(d, n), "wb").close()
    w = CdcLogBatchWriter({"path": d}, overwrite=True)
    w.abort([_FileCommit("_tmp-a.parquet", 5), None, _FileCommit(None, 0),
             _FileCommit("_tmp-b.parquet", 3)])
    assert not any(f.startswith("_tmp-") for f in os.listdir(d))


def test_zone_map_stats_land_in_manifest(spark, tmp_path):
    """Every committed file carries per-column [min, max, null_count]
    in the manifest — computed batch-by-batch during the Arrow write,
    no second pass over the data."""
    import json
    import os

    from lakehouse_cdc_spark.sources.cdclog import register_cdclog

    register_cdclog(spark)
    d = str(tmp_path / "log")
    _env_df(spark, 100, 200).coalesce(1).write.format("cdclog").mode(
        "overwrite"
    ).save(d)
    with open(os.path.join(d, "_COMMIT.json")) as f:
        doc = json.load(f)
    assert doc["files"] and "stats" in doc
    (fstats,) = [doc["stats"][f] for f in doc["files"]]
    assert fstats["offset"] == [100, 199, 0]
    assert fstats["part"] == [0, 3, 0]
    # string column: lexicographic min/max
    assert fstats["value"] == ["100", "199", 0]


def test_zone_map_string_stats_are_bounded_and_safe(spark, tmp_path):
    """Long string columns must not bloat the manifest (Parquet-style
    truncation): lower bounds truncate, upper bounds truncate+increment
    so pruning stays conservative — a range INSIDE the long values'
    span must still read the file."""
    import json
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        _STAT_STR_MAX,
        prune_manifest_files,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    long_lo = "m" + "a" * 200
    long_hi = "m" + "z" * 200
    spark.createDataFrame(
        [(1, long_lo), (2, long_hi)], "offset long, value string"
    ).coalesce(1).write.format("cdclog").mode("overwrite").save(d)
    with open(os.path.join(d, "_COMMIT.json")) as f:
        doc = json.load(f)
    (fstats,) = doc["stats"].values()
    lo, hi, _ = fstats["value"]
    assert len(lo) <= _STAT_STR_MAX and len(hi) <= _STAT_STR_MAX
    assert lo <= long_lo and hi >= long_hi  # bounds still dominate
    # a probe between the real values must keep the file
    kept, total = prune_manifest_files(d, [("value", "mmm", "mmm")])
    assert kept and total == 1
    # probes provably outside still prune
    assert prune_manifest_files(d, [("value", "zzz", None)])[0] == []
    assert prune_manifest_files(d, [("value", None, "a")])[0] == []


def test_zone_map_pruning_skips_files_and_loses_nothing(spark, tmp_path):
    """Range pruning must read strictly fewer files on a range query
    while returning EXACTLY the rows a full scan + filter returns —
    skipping is an optimization, never a filter."""
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        prune_manifest_files,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    # three appends with DISJOINT offset ranges = three zone-mapped
    # generations (coalesce(1): one file each)
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        _env_df(spark, lo, hi).coalesce(1).write.format("cdclog").mode(
            "append" if lo else "overwrite"
        ).save(d)

    kept, total = prune_manifest_files(d, [("offset", 120, 180)])
    assert total == 3 and len(kept) == 1  # only the middle generation

    pruned = read_committed_log(
        spark, d, prune=[("offset", 120, 180)]
    ).filter("offset BETWEEN 120 AND 180")
    full = read_committed_log(spark, d).filter(
        "offset BETWEEN 120 AND 180"
    )
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0
    assert pruned.count() == 61

    # fully-pruned range: empty frame, correct schema, table not None
    nothing = read_committed_log(spark, d, prune=[("offset", 900, 950)])
    assert nothing.count() == 0
    assert nothing.schema == full.schema

    # a file with no stats is NEVER skipped (pre-zone-map manifests)
    import json

    mpath = os.path.join(d, "_COMMIT.json")
    with open(mpath) as f:
        doc = json.load(f)
    doc.pop("stats")
    with open(mpath, "w") as f:
        json.dump(doc, f)
    kept, total = prune_manifest_files(d, [("offset", 120, 180)])
    assert len(kept) == total == 3


def test_zone_map_nan_poisons_upper_bound(spark, tmp_path):
    """Spark SQL orders NaN ABOVE every number, but pyarrow's min_max
    skips NaN — so a file holding [1.0, 5.0, NaN] must NOT store
    max=5.0 (a real predicate ``m >= 100`` matches the NaN row; max-
    pruning on 5.0 would silently drop it).  Any NaN poisons the upper
    bound (stored None = never max-prune); the min over non-NaN values
    is still a valid lower bound, so min-side pruning survives."""
    import json
    import math
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        prune_manifest_files,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    spark.createDataFrame(
        [(1, 1.0), (2, 5.0), (3, float("nan"))], "offset long, m double"
    ).coalesce(1).write.format("cdclog").mode("overwrite").save(d)
    with open(os.path.join(d, "_COMMIT.json")) as f:
        doc = json.load(f)
    (fstats,) = doc["stats"].values()
    assert fstats["m"][0] == 1.0  # non-NaN min is a safe lower bound
    assert fstats["m"][1] is None  # NaN: unbounded above, never max-prune
    # the predicate that bit: m >= 100 must KEEP the file (NaN row)
    kept, total = prune_manifest_files(d, [("m", 100.0, None)])
    assert kept and total == 1
    got = read_committed_log(spark, d, prune=[("m", 100.0, None)]).filter(
        "m >= 100"
    )
    assert got.count() == 1 and math.isnan(got.collect()[0]["m"])
    # min-side pruning still works: m <= 0.5 provably matches nothing
    assert prune_manifest_files(d, [("m", None, 0.5)])[0] == []


def test_zone_map_all_nan_batch_never_prunes(spark, tmp_path):
    """An all-NaN file used to store pyarrow's [inf, -inf] garbage and
    prune against ANY bound.  It must store no finite bounds at all
    (like the all-NULL case) and survive every range probe — and the
    NaN marker must survive a later batch with real values so the max
    stays poisoned across the fold."""
    import json
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        _merge_col_stats,
        prune_manifest_files,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    nan = float("nan")
    spark.createDataFrame(
        [(1, nan), (2, nan)], "offset long, m double"
    ).coalesce(1).write.format("cdclog").mode("overwrite").save(d)
    with open(os.path.join(d, "_COMMIT.json")) as f:
        doc = json.load(f)
    (fstats,) = doc["stats"].values()
    assert fstats["m"][0] is None and fstats["m"][1] is None
    for probe in ([("m", 100.0, None)], [("m", None, -100.0)]):
        kept, total = prune_manifest_files(d, probe)
        assert kept and total == 1, probe

    # fold order: all-NaN batch FIRST, real values second — the "nan"
    # marker must keep the upper bound poisoned (a bare [None,None,n]
    # would be mistaken for all-NULL and resurrect a finite max)
    import pyarrow as pa

    acc = {}
    _merge_col_stats(acc, pa.record_batch({"m": pa.array([nan, nan])}))
    _merge_col_stats(acc, pa.record_batch({"m": pa.array([1.0, 5.0])}))
    assert acc["m"][0] == 1.0 and acc["m"][1] is None

    # all-NULL first batch is NO-INFORMATION, not poison: a later
    # batch with real values must restore BOTH bounds (the round-6
    # review caught cur[0] being assigned before the poison check,
    # which silently disabled max-pruning after any all-NULL batch)
    for arr in (pa.array([None, None], type=pa.float64()),
                pa.array([None, None], type=pa.int64())):
        acc = {}
        _merge_col_stats(acc, pa.record_batch({"m": arr}))
        _merge_col_stats(
            acc,
            pa.record_batch({"m": pa.array([1, 5], type=arr.type)}),
        )
        assert acc["m"][:2] == [1, 5] and acc["m"][2] == 2, acc


def test_writer_generation_claim_fences_concurrent_commit(spark, tmp_path):
    """Two writers that both planned the same generation must not both
    publish: the claim file gates the rename phase, so the loser fails
    having published NOTHING (previously os.replace silently overwrote
    the winner's part files and its rows vanished)."""
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        ConcurrentWriteError,
        CdcLogBatchWriter,
        _FileCommit,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    _env_df(spark, 0, 20).write.format("cdclog").mode("overwrite").save(d)

    # a rival holds the next generation's claim (mid-commit)
    open(os.path.join(d, "_gen-0001.claim"), "w").close()
    open(os.path.join(d, "_tmp-loser.parquet"), "wb").close()
    w = CdcLogBatchWriter({"path": d}, overwrite=False)
    try:
        w.commit([_FileCommit("_tmp-loser.parquet", 1)])
        raise AssertionError("commit must fail while the claim is held")
    except ConcurrentWriteError:
        pass
    # loser's debris was cleaned up, winner's state untouched
    assert not any(f.startswith("_tmp-") for f in os.listdir(d))
    assert read_committed_log(spark, d).count() == 20

    # claim released (rival crashed / finished): writes proceed again
    os.unlink(os.path.join(d, "_gen-0001.claim"))
    _env_df(spark, 20, 30).write.format("cdclog").mode("append").save(d)
    assert read_committed_log(spark, d).count() == 30
    # the successful commit released its own claim
    assert not any(f.endswith(".claim") for f in os.listdir(d))


def test_stale_claim_from_dead_writer_is_reclaimed(spark, tmp_path):
    """A writer that crashed between creating its claim and releasing
    it must not wedge the path forever: a claim that is BOTH old and
    held by a dead pid is auto-reclaimed by the next commit; a fresh
    claim and a live holder's claim still block (the liveness check is
    valid because cdclog is a local-FS source).  clear_stale_claims()
    is the manual override."""
    import json
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        ConcurrentWriteError,
        clear_stale_claims,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    _env_df(spark, 0, 20).write.format("cdclog").mode("overwrite").save(d)

    claim = os.path.join(d, "_gen-0001.claim")

    def plant(pid, age_secs):
        with open(claim, "w") as f:
            json.dump({"pid": pid, "ts": 0}, f)
        old = os.stat(claim).st_mtime - age_secs
        os.utime(claim, (old, old))

    # dead pid + old claim: the next write reclaims and succeeds
    plant(2**22 + 12345, 3600)  # pid far above any live one here
    _env_df(spark, 20, 30).write.format("cdclog").mode("append").save(d)
    assert read_committed_log(spark, d).count() == 30
    assert not any(f.endswith(".claim") for f in os.listdir(d))

    # LIVE pid: blocks even when ancient (never steal a live fence)
    claim = os.path.join(d, "_gen-0002.claim")
    plant(os.getpid(), 3600)
    try:
        _env_df(spark, 30, 40).write.format("cdclog").mode("append").save(d)
        raise AssertionError("live holder's claim must block")
    except Exception as e:  # Spark wraps ConcurrentWriteError
        assert "claimed" in str(e)
    # manual helper refuses the live claim too...
    assert clear_stale_claims(d, max_age=0) == []
    # ...but removes it once the holder is dead
    plant(2**22 + 54321, 0)
    assert clear_stale_claims(d, max_age=0) == ["_gen-0002.claim"]
    _env_df(spark, 30, 40).write.format("cdclog").mode("append").save(d)
    assert read_committed_log(spark, d).count() == 40


def test_stream_writer_end_to_end_and_replay_idempotent(spark, tmp_path):
    """source → writeStream.format('cdclog'): per-batch manifests land
    the full stream exactly once, and a re-committed batchId (crash
    between sink commit and checkpoint commit) is a no-op."""
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        CdcLogStreamWriter,
        _FileCommit,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "sink")
    stream = (
        spark.readStream.format("cdclog")
        .option("n", 300)
        .option("batch", 100)
        .load()
    )
    # availableNow + SimpleDataSourceStreamReader drains only the one
    # prefetched micro-batch (see test_stream_replays_identical_
    # envelopes) — run the continuous trigger and poll the sink
    q = (
        stream.writeStream.format("cdclog")
        .option("path", d)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = read_committed_log(spark, d)
            if got is not None and got.count() >= 300:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = read_committed_log(spark, d)
    assert got.count() == 300
    manifests = sorted(
        f for f in os.listdir(d) if f.startswith("_COMMIT-")
    )
    assert len(manifests) >= 3  # one per micro-batch

    # replayed batch id: commit() must drop the duplicate tmp files
    # and leave the published state untouched
    stray = os.path.join(d, "_tmp-replay.parquet")
    open(stray, "wb").close()
    w = CdcLogStreamWriter({"path": d}, overwrite=False)
    w.commit([_FileCommit("_tmp-replay.parquet", 7)], batchId=0)
    assert not os.path.exists(stray)
    assert read_committed_log(spark, d).count() == 300


def test_writer_overwrite_never_mutates_published_files(spark, tmp_path):
    """Atomicity of the overwrite commit: a crash at ANY point before
    the manifest swap must leave the previous commit fully readable.
    Simulated by replaying the pre-swap half of commit() (new-gen
    renames only): the old manifest still references only intact
    files, and the committed read returns exactly the old rows."""
    import os

    from lakehouse_cdc_spark.sources.cdclog import (
        CdcLogBatchWriter,
        _FileCommit,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    _env_df(spark, 0, 50).write.format("cdclog").mode("overwrite").save(d)
    before = {r.offset for r in read_committed_log(spark, d).collect()}
    assert before == set(range(50))

    # crash-before-swap: write a task file and rename it to its
    # new-generation name WITHOUT publishing a manifest
    w = CdcLogBatchWriter({"path": d}, overwrite=True)
    import pyarrow as pa

    msg = w.write(iter([pa.record_batch({"offset": pa.array([999])})]))
    os.replace(
        os.path.join(d, msg.tmp_name),
        os.path.join(d, "part-g0099-00000.parquet"),
    )
    after = {r.offset for r in read_committed_log(spark, d).collect()}
    assert after == before  # old commit untouched, new data invisible

    # a subsequent real overwrite still lands cleanly
    _env_df(spark, 100, 110).write.format("cdclog").mode("overwrite").save(d)
    assert {r.offset for r in read_committed_log(spark, d).collect()} == set(
        range(100, 110)
    )


def test_commit_failure_releases_the_claim(spark, tmp_path, monkeypatch):
    """An IO error mid-commit from a LIVE long-running driver must
    release the generation claim — a live holder's claim is never
    reclaimable by design, so leaking it would wedge the path until
    the process exits (round-6 review finding)."""
    import os as _os

    from lakehouse_cdc_spark.sources import cdclog as mod
    from lakehouse_cdc_spark.sources.cdclog import (
        CdcLogBatchWriter,
        _FileCommit,
        read_committed_log,
        register_cdclog,
    )

    register_cdclog(spark)
    d = str(tmp_path / "log")
    _env_df(spark, 0, 20).write.format("cdclog").mode("overwrite").save(d)
    open(_os.path.join(d, "_tmp-x.parquet"), "wb").close()

    real_replace = _os.replace

    def exploding(src, dst):
        if "part-g" in dst:
            raise OSError("disk full")
        return real_replace(src, dst)

    monkeypatch.setattr(mod.os, "replace", exploding)
    w = CdcLogBatchWriter({"path": d}, overwrite=False)
    try:
        w.commit([_FileCommit("_tmp-x.parquet", 1)])
        raise AssertionError("commit must fail")
    except OSError:
        pass
    monkeypatch.undo()
    # the fence was released, so the NEXT commit proceeds immediately
    assert not any(f.endswith(".claim") for f in _os.listdir(d))
    _env_df(spark, 20, 30).write.format("cdclog").mode("append").save(d)
    assert read_committed_log(spark, d).count() == 30

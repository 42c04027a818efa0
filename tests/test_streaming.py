"""Streaming-layer tests: the CDC pipeline end-to-end over a file
stream, watermark dedup, event-time windows, and exactly-once replay
semantics.  The events table is replayed as a multi-micro-batch stream
and the final sink state must equal the batch-computed compaction —
the same differential shape the reference's PG-vs-Iceberg validation
uses (SURVEY §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_cdc_spark.operators.dedup import latest_per_key
from lakehouse_cdc_spark.plans.registry import table
from lakehouse_cdc_spark.streaming import (
    SnapshotUpsertSink,
    cdc_pipeline,
    file_cdc_source,
    session_window_agg,
    tumbling_window_agg,
    watermark_dedup,
    with_retry,
)

def test_kafka_source_options_contract():
    """The full option surface of the Kafka source, minus only the
    broker handshake: keyword offsets, per-partition JSON offsets,
    throttling, isolation, data-loss policy."""
    import json

    from lakehouse_cdc_spark.streaming import kafka_source_options

    opts = kafka_source_options("b1:9092,b2:9092", "cdc.public.users")
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "cdc.public.users",
        "startingOffsets": "earliest",
        "kafka.isolation.level": "read_committed",
        "failOnDataLoss": "false",
    }

    # per-partition offsets serialize to Spark's JSON contract
    # (string partition keys; -2 = earliest, -1 = latest)
    opts = kafka_source_options(
        "b:9092",
        "t",
        starting_offsets={"t": {0: 42, 1: -2, 2: -1}},
        max_offsets_per_trigger=100,
    )
    assert json.loads(opts["startingOffsets"]) == {
        "t": {"0": 42, "1": -2, "2": -1}
    }
    assert opts["maxOffsetsPerTrigger"] == "100"

    opts = kafka_source_options("b:9092", "t", starting_offsets="latest",
                                fail_on_data_loss=True)
    assert opts["startingOffsets"] == "latest"
    assert opts["failOnDataLoss"] == "true"

    # pre-serialized JSON offsets (Spark's own accepted form) pass through
    raw = '{"t": {"0": 42}}'
    assert kafka_source_options("b:9092", "t", starting_offsets=raw)[
        "startingOffsets"
    ] == raw

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kafka_source_options("b:9092", "t", starting_offsets="yesterday")
    with _pytest.raises(ValueError):
        kafka_source_options("b:9092", "t", max_offsets_per_trigger=0)


def _bucket_files(sink: SnapshotUpsertSink) -> dict[str, tuple]:
    """{relative parquet path: (size, sha256)} over every bucket dir."""
    import hashlib

    out = {}
    for root, _dirs, files in os.walk(sink.target_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                with open(p, "rb") as f:
                    digest = hashlib.sha256(f.read()).hexdigest()
                out[os.path.relpath(p, sink.target_dir)] = (
                    os.path.getsize(p),
                    digest,
                )
    return out


def test_bucketed_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """A micro-batch must leave every bucket it doesn't touch as
    byte-identical files at their original paths — only touched
    buckets get new files under the new snapshot dir."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=8
    )
    # batch 0: many keys spread over (almost) all buckets
    b0 = spark.createDataFrame(
        [(i, f"v{i}", "u", 0) for i in range(64)],
        "id int, v string, operation string, seq int",
    )
    sink.process_batch(b0, 0)
    files_before = _bucket_files(sink)
    manifest0 = sink._read_manifest(0)
    assert len(manifest0["buckets"]) >= 6  # keys really spread out

    # batch 1: update a single key → exactly one bucket touched
    b1 = spark.createDataFrame(
        [(7, "v7-new", "u", 1)], "id int, v string, operation string, seq int"
    )
    sink.process_batch(b1, 1)
    manifest1 = sink._read_manifest(1)
    moved = [b for b, s in manifest1["buckets"].items() if s == 1]
    assert len(moved) == 1  # only key 7's bucket was rewritten

    # untouched buckets: same paths, same bytes
    files_after = _bucket_files(sink)
    untouched_before = {
        p: h for p, h in files_before.items() if not p.startswith("v=1/")
    }
    for p, h in untouched_before.items():
        assert files_after[p] == h, f"untouched bucket file changed: {p}"

    # and the merged state is still correct
    state = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert state[7] == "v7-new" and state[0] == "v0" and len(state) == 64


def test_bucketed_sink_n_buckets_fixed_at_first_commit(spark, tmp_path):
    """A sink reopened with a different n_buckets must keep the
    manifest's original bucket count — the key→bucket map is part of
    the persisted state."""
    d = str(tmp_path / "t")
    s1 = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, f"v{i}", "u", 0) for i in range(16)],
        "id int, v string, operation string, seq int",
    )
    s1.process_batch(b0, 0)
    s2 = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], n_buckets=32)
    b1 = spark.createDataFrame(
        [(3, "v3-new", "u", 1)], "id int, v string, operation string, seq int"
    )
    s2.process_batch(b1, 1)
    assert s2._read_manifest(1)["n_buckets"] == 4
    state = {r.id: r.v for r in s2.current_table(spark).collect()}
    assert state[3] == "v3-new" and len(state) == 16


def test_metadata_tables_snapshots_and_files(spark, tmp_path):
    """S7: the sink exposes Iceberg-style .snapshots/.files metadata
    DataFrames — committed flag, per-snapshot rewrite counts, and the
    live file set with only manifest-referenced files."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    schema = "id int, v string, operation string, seq int"
    sink.process_batch(
        spark.createDataFrame([(i, f"v{i}", "u", 0) for i in range(8)], schema), 0
    )
    sink.process_batch(
        spark.createDataFrame([(0, "v0b", "u", 1)], schema), 1
    )
    snaps = {r.snapshot: r for r in sink.snapshots_table(spark).collect()}
    assert set(snaps) == {0, 1}
    assert snaps[1].is_committed and not snaps[0].is_committed
    assert snaps[1].batch_id == 1
    assert snaps[1].buckets_rewritten == 1  # only key 0's bucket moved
    assert snaps[0].buckets_rewritten >= 2

    files = sink.files_table(spark).collect()
    assert all(os.path.exists(r.path) and r.size_bytes > 0 for r in files)
    # live set spans both snapshots (untouched buckets still at v=0)
    assert {r.snapshot for r in files} == {0, 1}
    # every live bucket resolves to exactly one snapshot dir
    bucket_snaps: dict[int, set] = {}
    for r in files:
        bucket_snaps.setdefault(r.bucket, set()).add(r.snapshot)
    assert all(len(s) == 1 for s in bucket_snaps.values())


def test_compact_buckets_preserves_state(spark, tmp_path):
    """M1 on the bucketed sink: many-file buckets collapse to one file
    per bucket under a fresh committed snapshot; state is identical,
    already-compact buckets keep their old files, and expiry later
    reclaims the superseded snapshot dirs."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    schema = "id int, v string, operation string, seq int"
    big = spark.createDataFrame(
        [(i, f"v{i}", "u", 0) for i in range(64)], schema
    )
    sink.process_batch(big, 0)
    # the bucket-aligned write produces ONE file per bucket per
    # snapshot, so fragmentation must be simulated: rewrite bucket 0's
    # dir as 4 part files, the layout a pre-alignment writer (or an
    # external backfill tool) leaves behind
    snap = sink.committed_snapshot()
    manifest = sink._read_manifest(snap)
    b0 = sink._bucket_path(int(manifest["buckets"]["0"]), 0)
    frag_rows = spark.read.parquet(b0).collect()
    frag_schema = spark.read.parquet(b0).schema
    import shutil

    shutil.rmtree(b0)
    spark.createDataFrame(frag_rows, frag_schema).repartition(4).write.parquet(
        b0
    )
    before = {r.id: r.v for r in sink.current_table(spark).collect()}
    files0 = sink.files_table(spark).groupBy("bucket").count().collect()
    assert any(r["count"] > 2 for r in files0)

    rewritten = sink.compact_buckets(spark, files_per_bucket=1)
    assert rewritten  # something was compacted
    after = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert after == before
    files1 = {r.bucket: r["count"] for r in
              sink.files_table(spark).groupBy("bucket").count().collect()}
    assert all(files1[b] == 1 for b in rewritten)
    # idempotent: nothing left to compact
    assert sink.compact_buckets(spark, files_per_bucket=1) == []


def test_sink_schema_evolution_adds_column(spark, tmp_path):
    """A batch carrying a NEW column merges cleanly: old rows read
    NULL in it, new rows carry it, and the key/ordering semantics are
    untouched — per-bucket schema evolution without a rewrite of
    untouched buckets."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    sink.process_batch(
        spark.createDataFrame(
            [(1, "a", "u", 0), (2, "b", "u", 0)],
            "id int, v string, operation string, seq int",
        ),
        0,
    )
    # batch 1 adds a `region` column and updates key 1 only
    sink.process_batch(
        spark.createDataFrame(
            [(1, "a2", "u", 1, "eu")],
            "id int, v string, operation string, seq int, region string",
        ),
        1,
    )
    rows = {r.id: r for r in sink.current_table(spark).collect()}
    assert rows[1].v == "a2" and rows[1].region == "eu"
    assert rows[2].v == "b"
    # key 2's bucket was untouched → its file has no region column;
    # the multi-path read surfaces it as NULL
    assert rows[2].region is None


def test_time_travel_and_rollback(spark, tmp_path):
    """state_at reads any retained snapshot's state (manifest-resolved
    across snapshot dirs); rollback_to moves the pointer back and the
    replay guard + subsequent batches keep working."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    schema = "id int, v string, operation string, seq int"
    sink.process_batch(
        spark.createDataFrame([(i, f"a{i}", "u", 0) for i in range(8)], schema), 0
    )
    sink.process_batch(spark.createDataFrame([(3, "b3", "u", 1)], schema), 1)
    sink.process_batch(spark.createDataFrame([(5, "c5", "u", 2)], schema), 2)

    # time travel: snapshot 1 sees b3 but not c5; snapshot 0 sees neither
    s1 = {r.id: r.v for r in sink.state_at(spark, 1).collect()}
    assert s1[3] == "b3" and s1[5] == "a5"
    s0 = {r.id: r.v for r in sink.state_at(spark, 0).collect()}
    assert s0[3] == "a3"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink.state_at(spark, 99)

    # rollback to snapshot 1: c5 is gone, batch numbering preserved
    sink.rollback_to(1)
    now = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert now[5] == "a5" and now[3] == "b3"
    assert sink.committed_version() == 2  # replay guard intact
    sink.process_batch(spark.createDataFrame([(6, "d6", "u", 3)], schema), 3)
    after = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert after[6] == "d6" and after[5] == "a5"


def test_legacy_flat_layout_migrates_without_data_loss(spark, tmp_path):
    """A sink committed under the round-1 flat layout (v=<snap> dir,
    no manifest) must carry ALL its state into the bucketed layout on
    the next batch — not silently start from empty."""
    d = str(tmp_path / "t")
    sink = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], n_buckets=4)
    # hand-build the legacy layout: flat snapshot dir + pointer
    legacy = spark.createDataFrame(
        [(i, f"v{i}", "u", 0) for i in range(10)],
        "id int, v string, operation string, seq int",
    )
    legacy.write.parquet(os.path.join(d, "v=0"))
    with open(os.path.join(d, "_VERSION"), "w") as f:
        f.write(":0:0")
    assert sink.current_table(spark).count() == 10  # legacy read works

    sink.process_batch(
        spark.createDataFrame(
            [(3, "v3-new", "u", 1)], "id int, v string, operation string, seq int"
        ),
        1,
    )
    state = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert len(state) == 10 and state[3] == "v3-new" and state[0] == "v0"
    # and the new commit is manifest-backed (fully migrated)
    assert sink._read_manifest(sink.committed_snapshot()) is not None


def test_gc_watermark_only_commit_and_noop(spark, tmp_path):
    """GC with nothing to expire: same watermark → no-op (no snapshot
    churn); a HIGHER watermark still commits (the late-data floor must
    advance) and stays visible in snapshots_table."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    sink.process_batch(
        spark.createDataFrame(
            [(1, "a", "u", 100)], "id int, v string, operation string, seq int"
        ),
        0,
    )
    assert sink.gc_tombstones(spark, watermark=50) == 0
    snap_after_first = sink.committed_snapshot()
    # same watermark again → pure no-op
    assert sink.gc_tombstones(spark, watermark=50) == 0
    assert sink.committed_snapshot() == snap_after_first
    # higher watermark → commits even with nothing to expire
    assert sink.gc_tombstones(spark, watermark=60) == 0
    assert sink.committed_snapshot() == snap_after_first + 1
    snaps = {r.snapshot: r for r in sink.snapshots_table(spark).collect()}
    committed = [r for r in snaps.values() if r.is_committed]
    assert len(committed) == 1 and committed[0].gc_watermark == "60"
    # the floor is live: a change older than 60 is dropped
    sink.process_batch(
        spark.createDataFrame(
            [(2, "late", "u", 55)], "id int, v string, operation string, seq int"
        ),
        1,
    )
    assert {r.id for r in sink.current_table(spark).collect()} == {1}


def test_tombstone_gc_and_no_resurrection(spark, tmp_path):
    """GC expires old delete tombstones (rewriting only their buckets)
    and installs a late-data floor: an update OLDER than the retention
    watermark can never resurrect a GC'd key, while newer traffic
    flows normally."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=8
    )
    schema = "id int, v string, operation string, seq int"
    # seq doubles as event time.  Keys 0..15 created at seq=0; key 3
    # deleted at seq=10; key 5 deleted at seq=500 (recent).
    sink.process_batch(
        spark.createDataFrame([(i, f"v{i}", "c", 0) for i in range(16)], schema), 0
    )
    sink.process_batch(
        spark.createDataFrame([(3, None, "d", 10), (5, None, "d", 500)], schema), 1
    )
    assert {r.id for r in sink.current_table(spark).collect()} == set(range(16)) - {3, 5}

    # GC everything deleted before seq=100: key 3's tombstone goes,
    # key 5's stays
    expired = sink.gc_tombstones(spark, watermark=100)
    assert expired == 1
    state_ops = {
        r.id: r.operation for r in sink.current_state(spark).collect()
    }
    assert 3 not in state_ops  # tombstone gone
    assert state_ops[5] == "d"  # recent tombstone retained

    # a straggler update for key 3 OLDER than the watermark must be
    # dropped — no resurrection
    sink.process_batch(
        spark.createDataFrame([(3, "zombie", "u", 50)], schema), 2
    )
    assert 3 not in {r.id for r in sink.current_table(spark).collect()}

    # but current traffic for the same key is a legitimate re-create
    sink.process_batch(
        spark.createDataFrame([(3, "reborn", "c", 600)], schema), 3
    )
    state = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert state[3] == "reborn"

    # watermark must be monotone
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink.gc_tombstones(spark, watermark=50)


def OP():
    return (
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_type") == "signup", F.lit("c"))
        .otherwise(F.lit("u"))
    )


@pytest.fixture(scope="module")
def change_stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 chronological parquet files (micro-batches)."""
    d = tmp_path_factory.mktemp("changes")
    e = (
        table(spark, sf_dir, "events")
        .withColumn("operation", OP())
        .withColumn("bucket", F.ntile(4).over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .orderBy("ts", "event_id")
        ))
    )
    for b in range(1, 5):
        e.filter(F.col("bucket") == b).drop("bucket").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"chunk={b}"))
    # flatten: the file source wants a directory of files
    flat = tmp_path_factory.mktemp("changes_flat")
    i = 0
    for root, _, files in sorted(os.walk(d)):
        for f_ in sorted(files):
            if f_.endswith(".parquet"):
                os.link(os.path.join(root, f_), str(flat / f"{i:04d}.parquet"))
                i += 1
    return str(flat)


def test_cdc_pipeline_stream_equals_batch(spark, sf_dir, change_stream_dir, tmp_path):
    """Replaying the change log as N micro-batches through the sink
    must produce exactly the batch-computed last-write-wins state."""
    schema = (
        table(spark, sf_dir, "events").withColumn("operation", OP()).schema
    )
    stream = file_cdc_source(spark, change_stream_dir, schema, max_files_per_trigger=1)
    sink = SnapshotUpsertSink(
        str(tmp_path / "target"), keys=["user_id"], order_by=["ts", "event_id"]
    )
    q = cdc_pipeline(stream, sink, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300), "stream did not finish in 300s"

    got = {
        (r.user_id, r.event_id)
        for r in sink.current_table(spark).select("user_id", "event_id").collect()
    }
    expected_df = latest_per_key(
        table(spark, sf_dir, "events").withColumn("operation", OP()),
        ["user_id"],
        ["ts", "event_id"],
    ).filter(F.col("operation") != "d")
    expected = {(r.user_id, r.event_id) for r in expected_df.collect()}
    assert got == expected
    assert sink.committed_version() is not None


def test_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    e = table(spark, sf_dir, "events").withColumn("operation", OP()).limit(200)
    sink = SnapshotUpsertSink(
        str(tmp_path / "t2"), keys=["user_id"], order_by=["ts", "event_id"]
    )
    sink.process_batch(e, batch_id=0)
    state1 = sorted(
        (r.user_id, r.event_id) for r in sink.current_state(spark).collect()
    )
    sink.process_batch(e, batch_id=0)  # replay same batch
    state2 = sorted(
        (r.user_id, r.event_id) for r in sink.current_state(spark).collect()
    )
    assert state1 == state2
    assert sink.committed_version() == 0


def test_sink_tombstone_blocks_late_update(spark, tmp_path):
    """An update older than a delete must not resurrect the key —
    the tombstone property the reference's join-MERGE lacks."""
    import datetime

    ts = datetime.datetime.fromisoformat
    sink = SnapshotUpsertSink(
        str(tmp_path / "t3"), keys=["id"], order_by=["t", "seq"]
    )
    b0 = spark.createDataFrame(
        [(1, "v1", "u", ts("2024-01-01T10:00:00"), 10)],
        "id int, v string, operation string, t timestamp, seq int",
    )
    b1 = spark.createDataFrame(
        [(1, None, "d", ts("2024-01-01T12:00:00"), 20)],
        "id int, v string, operation string, t timestamp, seq int",
    )
    b2_late = spark.createDataFrame(
        [(1, "stale", "u", ts("2024-01-01T11:00:00"), 15)],  # older than delete
        "id int, v string, operation string, t timestamp, seq int",
    )
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    sink.process_batch(b2_late, 2)
    assert sink.current_table(spark).count() == 0  # still deleted


def test_watermark_dedup_streaming(spark, tmp_path):
    """Duplicate keys across micro-batches are dropped by the
    watermarked dedup (streaming W1)."""
    import datetime

    ts = datetime.datetime.fromisoformat
    rows = [
        (1, ts("2024-01-01T10:00:00"), "a"),
        (1, ts("2024-01-01T10:00:01"), "dup-of-1"),
        (2, ts("2024-01-01T10:00:02"), "b"),
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "k int, ts timestamp, v string")
    df.coalesce(1).write.parquet(src)
    stream = file_cdc_source(spark, src, df.schema)
    out = watermark_dedup(stream, ["k"], "ts", "1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {r.k for r in spark.sql("SELECT k FROM wm_dedup_out").collect()}
    assert got == {1, 2}
    assert spark.sql("SELECT COUNT(*) c FROM wm_dedup_out").collect()[0].c == 2


def test_tumbling_window_stream_equals_batch(spark, sf_dir, change_stream_dir, tmp_path):
    """The same window() expression must agree between batch and
    streaming execution (complete output mode)."""
    e = table(spark, sf_dir, "events")
    batch = {
        (r.day, r.cnt)
        for r in tumbling_window_agg(
            e, "1 day", [], [F.count(F.lit(1)).alias("cnt")]
        )
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "cnt")
        .collect()
    }
    stream = file_cdc_source(
        spark, change_stream_dir, e.withColumn("operation", OP()).schema
    )
    agg = tumbling_window_agg(
        stream, "1 day", [], [F.count(F.lit(1)).alias("cnt")], delay="1 minute"
    ).select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "cnt")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckw"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {(r.day, r.cnt) for r in spark.sql("SELECT * FROM win_out").collect()}
    assert got == batch


def test_session_window_batch(spark, sf_dir):
    """Session windows (gap 1h) over one user's events — count of
    sessions matches a hand-computed gap scan."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") == 3)
    sessions = session_window_agg(
        e, "1 hour", ["user_id"], [F.count(F.lit(1)).alias("n")]
    ).collect()
    rows = sorted((r.ts for r in e.select("ts").collect()))
    expected_sessions = 1 + sum(
        1 for a, b in zip(rows, rows[1:]) if (b - a).total_seconds() > 3600
    )
    assert len(sessions) == expected_sessions
    assert sum(r.n for r in sessions) == len(rows)


def test_with_retry_backoff():
    calls = []
    sleeps = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, attempts=3, sleep=sleeps.append)() == "ok"
    assert len(calls) == 3
    assert sleeps == [1.0, 2.0]  # 2^0, 2^1

    with pytest.raises(RuntimeError):
        with_retry(lambda: (_ for _ in ()).throw(RuntimeError("perm")),
                   attempts=2, sleep=sleeps.append)()


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (purchases ⋈ prior views within 1h
    per user) must produce exactly the batch join's pairs once both
    streams drain — the state-bounding watermark must not change the
    answer for in-window data."""
    import datetime

    from lakehouse_cdc_spark.streaming import stream_interval_join

    ts = datetime.datetime.fromisoformat
    views = [
        (1, ts("2024-01-01T10:00:00"), 100),
        (1, ts("2024-01-01T10:30:00"), 101),
        (1, ts("2024-01-01T08:00:00"), 102),  # > 1h before every purchase
        (2, ts("2024-01-01T10:05:00"), 103),
    ]
    purchases = [
        (1, ts("2024-01-01T10:45:00"), 200),  # matches views 100, 101
        (2, ts("2024-01-01T10:10:00"), 201),  # matches view 103
        (3, ts("2024-01-01T11:00:00"), 202),  # no views → dropped (inner)
    ]
    v_df = spark.createDataFrame(views, "user_id int, ts timestamp, event_id int")
    p_df = spark.createDataFrame(purchases, "user_id int, ts timestamp, event_id int")
    v_src, p_src = str(tmp_path / "v"), str(tmp_path / "p")
    v_df.coalesce(1).write.parquet(v_src)
    p_df.coalesce(1).write.parquet(p_src)

    batch = {
        (r["event_id"], r["r_event_id"])
        for r in stream_interval_join(
            p_df, v_df, on="user_id", left_ts="ts", right_ts="r_ts",
            lookback="INTERVAL 1 HOUR",
        ).collect()
    }
    assert batch == {(200, 100), (200, 101), (201, 103)}

    p_stream = file_cdc_source(spark, p_src, p_df.schema)
    v_stream = file_cdc_source(spark, v_src, v_df.schema)
    joined = stream_interval_join(
        p_stream, v_stream, on="user_id", left_ts="ts", right_ts="r_ts",
        lookback="INTERVAL 1 HOUR",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {
        (r["event_id"], r["r_event_id"])
        for r in spark.sql("SELECT event_id, r_event_id FROM ssj_out").collect()
    }
    assert got == batch


def test_stream_static_dimension_enrichment(spark, tmp_path):
    """Stream-static join: a change stream enriched against a static
    dimension table plans the dim as a broadcast against EVERY
    micro-batch — per-batch results equal the batch join, and rows
    with no dim match pass through (left join) for dead-lettering.
    This is the streaming half of flagship_cdc_compaction's join."""
    import datetime

    ts = datetime.datetime.fromisoformat
    dim = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "user_id int, name string"
    )
    changes = spark.createDataFrame(
        [
            (1, ts("2024-01-01T10:00:00"), 10.0),
            (2, ts("2024-01-01T10:01:00"), 20.0),
            (9, ts("2024-01-01T10:02:00"), 90.0),  # no dim row
        ],
        "user_id int, ts timestamp, value double",
    )
    src = str(tmp_path / "src")
    changes.coalesce(1).write.parquet(src)

    stream = file_cdc_source(spark, src, changes.schema)
    from pyspark.sql import functions as F

    enriched = stream.join(F.broadcast(dim), "user_id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("ssd_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {
        (r.user_id, r.name, r.value)
        for r in spark.sql("SELECT user_id, name, value FROM ssd_out").collect()
    }
    assert got == {(1, "alice", 10.0), (2, "bob", 20.0), (9, None, 90.0)}


# ---------------------------------------------------------------- CAS fence


def test_concurrent_writer_loser_fails_cleanly(spark, tmp_path):
    """Two writers racing the same target: the loser must fail at the
    claim fence having written NOTHING, leaving the winner's manifest
    chain byte-intact (round-2 next item #7)."""
    from lakehouse_cdc_spark.streaming.pipeline import ConcurrentCommitError

    d = str(tmp_path / "t")
    a = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], lineage="writer-a")
    b = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], lineage="writer-b")
    schema = "id int, v string, operation string, seq int"
    a.process_batch(spark.createDataFrame([(1, "x", "u", 0), (2, "y", "u", 0)], schema), 0)
    before = a.committed()
    manifest_before = a._read_manifest(a.committed_snapshot())

    # writer-a stalls mid-commit of its NEXT snapshot (fence held)
    a._claim(a.committed_snapshot() + 1, 1)
    with pytest.raises(ConcurrentCommitError, match="claimed by"):
        b.process_batch(spark.createDataFrame([(3, "z", "u", 1)], schema), 0)
    # chain untouched, loser wrote no snapshot dir
    assert a.committed() == before
    assert a._read_manifest(a.committed_snapshot()) == manifest_before
    assert not os.path.isdir(a._snapshot_path(a.committed_snapshot() + 1))

    # the SAME lineage may retake its own fence (crash-replay) …
    a.process_batch(spark.createDataFrame([(3, "z", "u", 1)], schema), 1)
    assert {r.id for r in a.current_state(spark).collect()} == {1, 2, 3}
    # … and the loser succeeds on the new base
    b.process_batch(spark.createDataFrame([(4, "w", "u", 2)], schema), 0)
    assert {r.id for r in b.current_state(spark).collect()} == {1, 2, 3, 4}


def test_recover_interrupted_commit_both_directions(spark, tmp_path):
    """A dead writer's claim is rolled BACK when its data never
    finished (no manifest), rolled FORWARD when manifest+data are
    complete and only the pointer was lost."""
    d = str(tmp_path / "t")
    sink = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], lineage="w")
    schema = "id int, v string, operation string, seq int"
    sink.process_batch(spark.createDataFrame([(1, "x", "u", 0)], schema), 0)

    # case 1: claim + partial data dir, no manifest -> rolled back
    dead = SnapshotUpsertSink(d, keys=["id"], order_by=["seq"], lineage="dead")
    nxt = sink.committed_snapshot() + 1
    dead._claim(nxt, 9)
    os.makedirs(os.path.join(sink._snapshot_path(nxt), "__bucket=0"), exist_ok=True)
    assert sink.recover_interrupted_commit() == "rolled_back"
    assert not os.path.exists(sink._claim_path(nxt))
    assert not os.path.isdir(sink._snapshot_path(nxt))
    assert sink.recover_interrupted_commit() is None

    # case 2: full commit, then simulate crash between manifest and
    # pointer: rewind pointer, restore the claim
    sink.process_batch(spark.createDataFrame([(2, "y", "u", 1)], schema), 1)
    snap = sink.committed_snapshot()
    lineage, batch, _ = sink.committed()
    sink._publish_pointer(lineage, 0, snap - 1)
    with open(sink._claim_path(snap), "w") as f:
        f.write(f"{lineage}:{batch}")
    assert sink.recover_interrupted_commit() == "rolled_forward"
    assert sink.committed() == (lineage, batch, snap)
    assert {r.id for r in sink.current_state(spark).collect()} == {1, 2}


def test_ohlc_candles_stream_equals_batch(
    spark, sf_dir, change_stream_dir, tmp_path
):
    """Streaming OHLC: candles computed as struct-argmin/argmax inside
    a watermarked tumbling window must equal the batch
    ts_downsample_ohlc result — open/close ride min/max of
    (ts, event_id, v) structs, which streaming aggregation supports
    where first()/last() would be nondeterministic."""
    from lakehouse_cdc_spark.plans import REGISTRY

    batch = {
        tuple(r)
        for r in REGISTRY["ts_downsample_ohlc"].fn(spark, sf_dir).collect()
    }

    e = table(spark, sf_dir, "events")
    stream = file_cdc_source(
        spark, change_stream_dir, e.withColumn("operation", F.lit("c")).schema
    )
    v = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", v.alias("v"))).alias("o"),
            F.max(F.struct("ts", "event_id", v.alias("v"))).alias("c"),
            F.max(v).alias("high_c"),
            F.min(v).alias("low_c"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            F.col("o.v").alias("open_c"),
            "high_c",
            "low_c",
            F.col("c.v").alias("close_c"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ohlc_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cko"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {
        (r.event_type, r.day, r.open_c, r.high_c, r.low_c, r.close_c, r.n_events)
        for r in spark.sql("SELECT * FROM ohlc_out").collect()
    }
    assert got == batch


def test_stream_stream_left_outer_join_emits_null_padded_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: unmatched purchases
    must eventually emit null-padded — but only after the right-side
    watermark PROVES no matching view can still arrive.  A far-future
    sentinel event in a second micro-batch advances the watermark past
    the first batch's rows, releasing their outer results; the
    sentinel's own outer row stays buffered (watermark never passes
    it) — asserting both sides of the eviction contract."""
    import datetime

    from lakehouse_cdc_spark.streaming import stream_interval_join

    ts = datetime.datetime.fromisoformat
    sentinel = ts("2024-06-01T00:00:00")
    views = [
        (1, ts("2024-01-01T10:00:00"), 100),
        (9, sentinel, 199),  # watermark pusher on the right stream
    ]
    purchases = [
        (1, ts("2024-01-01T10:45:00"), 200),  # matched (view 100 in 1h)
        (3, ts("2024-01-01T11:00:00"), 202),  # never matched → null row
        (9, sentinel, 299),  # watermark pusher; outer row still buffered
    ]
    v_df = spark.createDataFrame(views, "user_id int, ts timestamp, event_id int")
    p_df = spark.createDataFrame(purchases, "user_id int, ts timestamp, event_id int")
    v_src, p_src = str(tmp_path / "v"), str(tmp_path / "p")
    v_df.coalesce(1).write.parquet(v_src)
    p_df.coalesce(1).write.parquet(p_src)

    joined = stream_interval_join(
        file_cdc_source(spark, p_src, p_df.schema),
        file_cdc_source(spark, v_src, v_df.schema),
        on="user_id",
        left_ts="ts",
        right_ts="r_ts",
        lookback="INTERVAL 1 HOUR",
        watermark="10 minutes",
        how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {
        (r["event_id"], r["r_event_id"])
        for r in spark.sql("SELECT event_id, r_event_id FROM ssj_outer").collect()
    }
    # matched pair + watermark-released null row; the sentinel pair
    # matches itself (same user, same instant within the interval)
    assert (200, 100) in got
    assert (202, None) in got
    assert (299, 199) in got
    # no spurious nulls for matched rows
    assert (200, None) not in got


def test_progress_listener_sees_every_batch(spark, tmp_path):
    """Push-based T8: a StreamingQueryListener must observe query
    start, one progress event per data micro-batch (with exact input
    row counts), and termination — the monitoring surface the
    reference polled Debezium REST for."""
    import time as _time

    from lakehouse_cdc_spark.sources.cdclog import register_cdclog
    from lakehouse_cdc_spark.streaming.monitor import (
        ProgressHistoryListener,
        attach_progress_listener,
    )

    register_cdclog(spark)
    hist = ProgressHistoryListener(max_batch_ms=60_000)
    handle = attach_progress_listener(spark, hist)
    try:
        q = (
            spark.readStream.format("cdclog")
            .option("n", "400").option("batch", "150")
            .option("parts", "2").option("keys", "40")
            .load()
            .writeStream.format("memory")
            .queryName("listener_probe")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline and hist.total_input_rows() < 400:
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        # listener events are delivered async; allow them to drain
        deadline = _time.time() + 30
        while _time.time() < deadline and not hist.terminated:
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(handle)

    assert str(q.id) in hist.started
    assert hist.total_input_rows() == 400  # every row seen exactly once
    data_batches = [p for p in hist.progresses if p["input_rows"]]
    assert [p["input_rows"] for p in data_batches] == [150, 150, 100]
    assert str(q.id) in hist.terminated
    assert hist.alerts == []  # no batch breached the 60 s lag gate


def test_rocksdb_state_store_provider_end_to_end(spark, tmp_path):
    """State-backend portability: the same watermarked stateful dedup
    runs under the RocksDB state store provider (the provider
    production clusters run for large state — spillable, incremental
    checkpoints) — proving the engine's stateful operators don't
    depend on the default HDFS-backed in-memory provider."""
    import time as _time

    from lakehouse_cdc_spark.sources.cdclog import register_cdclog

    register_cdclog(spark)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.format("cdclog")
            .option("n", "200").option("batch", "80")
            .option("parts", "4").option("keys", "50")
            .load()
            .withColumn(
                "ts", F.timestamp_millis(F.col("offset") + 1700000000000)
            )
            .withWatermark("ts", "10 minutes")
            .dropDuplicates(["part"])
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rocksdb_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM rocksdb_probe").collect()[0].c >= 4:
                break
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = sorted(
        (r.part, r.c)
        for r in spark.sql(
            "SELECT part, count(*) c FROM rocksdb_probe GROUP BY part"
        ).collect()
    )
    assert got == [(0, 1), (1, 1), (2, 1), (3, 1)]  # exactly one per key


def test_stale_base_writer_rejected_after_claim_recycle(spark, tmp_path):
    """Regression (review finding): writer A claims N, commits, and
    RELEASES the claim; a slow writer B still holding base N-1 could
    then re-create the recycled claim file and overwrite A's committed
    snapshot.  The fence must re-verify the base after taking the
    claim and reject B before any data is written."""
    import pytest

    from lakehouse_cdc_spark.streaming.pipeline import (
        ConcurrentCommitError,
        SnapshotUpsertSink,
    )

    target = str(tmp_path / "target")
    a = SnapshotUpsertSink(target, keys=["id"], order_by=["seq"], lineage="A")
    mk = lambda seq: spark.createDataFrame(
        [(1, "x", seq, "u")], "id int, name string, seq int, operation string"
    )
    a.process_batch(mk(1), 0)  # commits v=0, releases claim
    a.process_batch(mk(2), 1)  # commits v=1, releases claim

    b = SnapshotUpsertSink(target, keys=["id"], order_by=["seq"], lineage="B")
    # B planned against base v=0 (stale): claiming v=1 must fail even
    # though A released the v=1 claim file
    with pytest.raises(ConcurrentCommitError, match="stale base"):
        b._claim(1, batch_id=99)
    # and no claim residue is left behind to wedge future writers
    import os

    assert not os.path.exists(b._claim_path(1))
    # the current-base claim still works
    b._claim(2, batch_id=99)
    os.unlink(b._claim_path(2))


def test_state_data_source_reads_checkpointed_aggregation(spark, tmp_path):
    """Spark 4 State Data Source: the checkpointed state of a running
    aggregation is readable as a BATCH DataFrame — the operational
    introspection path for debugging stateful streams (what keys is
    the store carrying? how big is each?) without touching the query.
    The state must equal the sink's final answer exactly."""
    import time as _time

    from lakehouse_cdc_spark.sources.cdclog import register_cdclog

    register_cdclog(spark)
    ck = str(tmp_path / "ck")
    stream = (
        spark.readStream.format("cdclog")
        .option("n", "300").option("batch", "100")
        .option("parts", "4").option("keys", "40")
        .load()
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("state_src_probe")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        rows = spark.sql("SELECT * FROM state_src_probe").collect()
        if rows and sum(r.cnt for r in rows) >= 300:
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    sink = {r.part: r.cnt for r in spark.sql("SELECT * FROM state_src_probe").collect()}
    state = {
        r["key"]["part"]: r["value"]["count"]
        for r in spark.read.format("statestore").load(ck).collect()
    }
    assert state == sink == {0: 75, 1: 75, 2: 75, 3: 75}
    # the companion state-metadata source catalogs the operator/store
    md = spark.read.format("state-metadata").load(ck).collect()
    assert len(md) == 1 and md[0]["operatorName"] == "stateStoreSave"
    assert md[0]["maxBatchId"] >= md[0]["minBatchId"] >= 0


def test_sink_check_constraints_quarantine_and_fail(spark, tmp_path):
    """Write-time CHECK enforcement: violating rows divert to the
    queryable quarantine lane tagged with the failing rule (clean rows
    commit), NULL check results count as violations, deletes bypass
    checks, and fail mode raises a per-check census committing
    nothing."""
    import pytest

    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    def b(rows, seq):
        return spark.createDataFrame(
            rows, "id int, v long, operation string, seq int"
        ).withColumn("seq", F.lit(seq))

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        checks={"v_positive": "v > 0", "v_bounded": "v <= 1000"},
    )
    sink.process_batch(
        b([(1, 10, "c", 0), (2, -5, "c", 0), (3, None, "c", 0),
           (4, 5000, "c", 0)], 0),
        0,
    )
    state = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert state == {1: 10}  # only the clean row committed
    q = sink.quarantine_table(spark)
    reasons = {r.id: r["__check"] for r in q.collect()}
    # first declared failing rule tags the row; NULL fails v_positive
    assert reasons == {2: "v_positive", 3: "v_positive", 4: "v_bounded"}
    assert {r["__batch"] for r in q.collect()} == {0}

    # a delete carrying NULL payload passes checks and tombstones
    sink.process_batch(b([(1, None, "d", 1)], 1), 1)
    assert sink.current_table(spark).count() == 0
    assert sink.quarantine_table(spark).count() == 3  # unchanged

    # fail mode: census raised, nothing committed
    strict = SnapshotUpsertSink(
        str(tmp_path / "t2"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        checks={"v_positive": "v > 0"},
        check_mode="fail",
    )
    with pytest.raises(ValueError, match="v_positive=2"):
        strict.process_batch(
            b([(1, 1, "c", 0), (2, -1, "c", 0), (3, 0, "c", 0)], 0), 0
        )
    assert strict.committed_snapshot() is None

    # checks compose with merge-on-read ingest
    mor = SnapshotUpsertSink(
        str(tmp_path / "t3"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        merge_on_read=True,
        checks={"v_positive": "v > 0"},
    )
    mor.process_batch(b([(1, 7, "c", 0), (2, -7, "c", 0)], 0), 0)
    assert {r.id: r.v for r in mor.current_table(spark).collect()} == {1: 7}
    assert mor.quarantine_table(spark).count() == 1


def test_sink_schema_widening_int_to_bigint(spark, tmp_path):
    """A later batch whose column widened (int -> bigint) must merge:
    Spark's set-operation type coercion widens the union, and the
    committed state carries the wider type without corrupting old
    rows.  Every read path must then span int32 and int64 bucket files
    of the one column: lookup, time travel to before the widening, the
    change feed across it, and tombstone GC over one int32 and one
    int64 bucket (Spark's mergeSchema refuses that pair outright)."""
    from pyspark.sql import types as T

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    ids = spark.range(40).select(
        F.col("id").cast("int").alias("id"),
        F.pmod(F.hash(F.col("id").cast("int")), F.lit(4)).alias("b"),
    )
    by_bucket: dict[int, list[int]] = {}
    for r in ids.collect():
        by_bucket.setdefault(r.b, []).append(r.id)
    narrow_b, wide_b = sorted(b for b in by_bucket if len(by_bucket[b]) >= 2)[:2]
    gone32 = by_bucket[narrow_b][0]  # tombstone in the int32 bucket
    gone64, grown = by_bucket[wide_b][:2]  # tombstone + widened value

    def batch(rows, v_type):
        return spark.createDataFrame(
            rows, f"id int, v {v_type}, operation string, seq int"
        )

    sink.process_batch(batch([(i, 10 * i, "c", 0) for i in range(40)], "int"), 0)
    sink.process_batch(batch([(gone32, None, "d", 1)], "int"), 1)
    pre_widening = sink.committed_snapshot()
    big = 5_000_000_000  # does not fit int32
    sink.process_batch(
        batch([(grown, big, "u", 2), (gone64, None, "d", 2)], "long"), 2
    )
    buckets = sink._read_manifest(sink.committed_snapshot())["buckets"]
    widths = {
        b: spark.read.parquet(sink._bucket_path(buckets[str(b)], b))
        .schema["v"]
        .dataType
        for b in (narrow_b, wide_b)
    }
    assert widths == {narrow_b: T.IntegerType(), wide_b: T.LongType()}

    want = {i: 10 * i for i in range(40) if i not in (gone32, gone64)}
    want[grown] = big
    state = {r.id: r.v for r in sink.current_table(spark).collect()}
    assert state == want
    assert dict(sink.current_table(spark).dtypes)["v"] == "bigint"
    # lookup reads every bucket (no blooms): int32 and int64 files at once
    assert [r.v for r in sink.lookup(spark, "id", grown).collect()] == [big]
    assert sink.lookup(spark, "id", gone32).collect() == []
    assert {r.id: r.v for r in sink.lookup_range(spark, "id", 0, 39).collect()} == want
    # time travel to before the widening reads the int-typed state
    old = sink.state_at(spark, pre_widening)
    assert dict(old.dtypes)["v"] == "int"
    assert {(r.id, r.v, r.operation) for r in old.collect()} == {
        (i, None, "d") if i == gone32 else (i, 10 * i, "c") for i in range(40)
    }
    # the change feed across the widening: each commit's own changes
    feed = sink.changes_between(spark, 0, sink.committed_snapshot())
    assert sorted(
        (r._change_snapshot, r.id, r.v, r.operation) for r in feed.collect()
    ) == [(1, gone32, None, "d")] + sorted(
        [(2, grown, big, "u"), (2, gone64, None, "d")]
    )
    # GC expires both tombstones, one per bucket width
    assert sink.gc_tombstones(spark, 10) == 2
    assert {r.id: r.v for r in sink.current_state(spark).collect()} == want


def test_sink_zone_maps_prune_range_lookups(spark, tmp_path):
    """Per-bucket [min,max] zones folded from the written parquet
    footers must (a) prune range lookups to overlapping buckets only,
    (b) never lose a matching row (lossless invariant), (c) go stale-
    safe through rewrites, and (d) fall back to the full scan while
    MOR deltas are outstanding."""
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    def b(rows, seq):
        return spark.createDataFrame(
            rows, "id int, d long, operation string, seq int"
        ).withColumn("seq", F.lit(seq))

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=4,
        zone_cols=["d"],
    )
    # ids spread over 4 hash buckets; d correlates with id so zones
    # are narrow per bucket only by luck — use disjoint d ranges per
    # insert wave to get real pruning
    sink.process_batch(b([(i, 100 + i, "c", 0) for i in range(20)], 0), 0)
    man = sink._read_manifest(sink.committed_snapshot())
    zones = man.get("zones", {}).get("d", {})
    assert zones  # footers produced bounds
    # lossless: zone-pruned range result == full-scan filter
    lo, hi = 105, 110
    got = sorted(
        (r.id, r.d) for r in sink.lookup_range(spark, "d", lo, hi).collect()
    )
    want = sorted(
        (r.id, r.d)
        for r in sink.current_table(spark)
        .filter((F.col("d") >= lo) & (F.col("d") <= hi))
        .collect()
    )
    assert got == want and got
    # a range outside every zone is provably empty without reading data
    assert sink.zone_probe_buckets("d", 10_000, 20_000) == []
    assert sink.lookup_range(spark, "d", 10_000, 20_000).count() == 0

    # rewrite one bucket with a far-away d: its zone must refresh
    sink.process_batch(b([(0, 99_999, "u", 1)], 1), 1)
    man2 = sink._read_manifest(sink.committed_snapshot())
    z2 = man2["zones"]["d"]
    assert any(v[1] >= 99_999 for v in z2.values())
    hit = sink.lookup_range(spark, "d", 99_000, 100_000).collect()
    assert [(r.id, r.d) for r in hit] == [(0, 99_999)]

    # MOR deltas outstanding -> full-scan fallback still correct
    mor = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=4,
        zone_cols=["d"],
        merge_on_read=True,
        fold_deltas_every=None,
    )
    mor.process_batch(b([(50, 555, "c", 2)], 2), 2)
    got = sorted(r.id for r in mor.lookup_range(spark, "d", 550, 560).collect())
    assert got == [50]


def test_sink_sort_within_bucket_tightens_row_groups(spark, tmp_path):
    """sort_within_bucket must leave the committed STATE identical to
    the unsorted sink while making each file's rows monotone in the
    sort column — the property row-group stats pruning and run-length
    compression feed on."""
    import pyarrow.parquet as pq

    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    rows = [(i, (i * 7919) % 1000, "c", 0) for i in range(400)]
    batch = spark.createDataFrame(rows, "id int, d long, operation string, seq int")

    plain = SnapshotUpsertSink(
        str(tmp_path / "plain"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    srt = SnapshotUpsertSink(
        str(tmp_path / "sorted"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        sort_within_bucket=["d"],
    )
    plain.process_batch(batch, 0)
    srt.process_batch(batch, 0)
    # identical committed state
    a = sorted((r.id, r.d) for r in plain.current_table(spark).collect())
    b = sorted((r.id, r.d) for r in srt.current_table(spark).collect())
    assert a == b
    # every sorted-sink file is monotone in d
    snap = srt._snapshot_path(srt.committed_snapshot())
    import os as _os

    checked = 0
    for bdir in _os.listdir(snap):
        if not bdir.startswith("__bucket="):
            continue
        for fn in _os.listdir(_os.path.join(snap, bdir)):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(_os.path.join(snap, bdir, fn), columns=["d"])
            vals = t.column("d").to_pylist()
            assert vals == sorted(vals)
            checked += 1
    assert checked >= 2


def test_sink_zone_map_losslessness_random_ranges(spark, tmp_path):
    """Zone-pruned range lookups must equal the full-scan filter for
    ANY range — including ranges straddling bucket zone boundaries,
    empty ranges, and point ranges — and must survive a rebucket
    (zones dropped -> always-scan, never a wrong prune).  Mirrors the
    cdclog writer's 25-random-predicate losslessness test."""
    import random

    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    rng = random.Random(8)  # deterministic: seeded, round-8
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=4,
        zone_cols=["d"],
    )
    rows = [(i, rng.randrange(0, 5000), "c", 0) for i in range(300)]
    sink.process_batch(
        spark.createDataFrame(
            rows, "id int, d long, operation string, seq int"
        ),
        0,
    )
    # second wave rewrites some buckets (carried + refreshed zones)
    rows2 = [(i, rng.randrange(0, 5000), "u", 1) for i in range(0, 300, 7)]
    sink.process_batch(
        spark.createDataFrame(
            rows2, "id int, d long, operation string, seq int"
        ),
        1,
    )
    full = sink.current_table(spark).select("id", "d").cache()
    try:
        for _ in range(15):
            lo = rng.randrange(-100, 5100)
            hi = lo + rng.randrange(0, 1500)
            got = sorted(
                (r.id, r.d)
                for r in sink.lookup_range(spark, "d", lo, hi).collect()
            )
            want = sorted(
                (r.id, r.d)
                for r in full.filter(
                    (F.col("d") >= lo) & (F.col("d") <= hi)
                ).collect()
            )
            assert got == want, (lo, hi)
    finally:
        full.unpersist()
    # rebucket drops zones: probe returns every bucket, lookups stay
    # correct through the always-scan path
    sink.rebucket(spark, 8)
    man = sink._read_manifest(sink.committed_snapshot())
    assert "zones" not in man
    assert len(sink.zone_probe_buckets("d", 0, 1)) == len(man["buckets"])
    got = sorted(
        (r.id, r.d)
        for r in sink.lookup_range(spark, "d", 1000, 2000).collect()
    )
    want = sorted(
        (r.id, r.d)
        for r in sink.current_table(spark)
        .filter((F.col("d") >= 1000) & (F.col("d") <= 2000))
        .collect()
    )
    assert got == want


def test_sink_stats_table_reflects_pruning_metadata(spark, tmp_path):
    """stats_table must census the committed manifest's pruning state:
    every bucket row, zone rows with stringified bounds, and bloom
    rows per tracked column — and show drops after a rebucket."""
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        zone_cols=["d"],
        bloom_cols=["tag"],
    )
    sink.process_batch(
        spark.createDataFrame(
            [(1, 10, "a", "c", 0), (2, 20, "b", "c", 0)],
            "id int, d long, tag string, operation string, seq int",
        ),
        0,
    )
    st = sink.stats_table(spark)
    kinds = {r.stat for r in st.collect()}
    assert kinds == {"bucket", "zone", "bloom"}
    zrows = [r for r in st.collect() if r.stat == "zone"]
    assert all(r.col == "d" and int(r.zone_min) <= int(r.zone_max) for r in zrows)
    # rebucket drops blooms + zones: only bucket rows remain
    sink.rebucket(spark, 4)
    kinds = {r.stat for r in sink.stats_table(spark).collect()}
    assert kinds == {"bucket"}

"""Streaming smoke tests (SURVEY.md §5.4): file-source CDC stream through
the same route pipeline, watermarked windows, streaming dedup, foreachBatch
compaction, checkpoint restart, restart supervisor.
"""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_cdc_msk_spark.config import TableRouting
from flink_cdc_msk_spark.sources.cdc_sim import synthesize_mysql_events
from flink_cdc_msk_spark.streaming import (
    RestartSupervisor,
    route_stream_from_directory,
    snapshot_then_stream_paths,
    sessionized,
    streaming_dedup,
    tumbling_counts,
)
from flink_cdc_msk_spark.streaming.compaction import (
    ParquetUpsertSink,
    start_compaction_stream,
)
from tests.conftest import SF_SMALL

ROUTING = TableRouting.parse(
    '[{"db":"test_db","table":"orders","primary_key":"o_orderkey"}]'
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="cdc_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_available_now(stream_df, tmpdir, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_route_matches_batch(spark, tmpdir):
    """File-stream route == batch route on identical input (exactly the
    same operator expressions run in both modes)."""
    events = synthesize_mysql_events(spark, SF_SMALL, with_updates=False)
    src = f"{tmpdir}/src"
    snapshot_then_stream_paths(events, src)

    routed = route_stream_from_directory(
        spark, src, ROUTING, topic_prefix="cdc_", num_partitions=12
    )
    _run_available_now(routed, tmpdir, "routed_stream")
    got = spark.sql(
        "SELECT partition_key, partition FROM routed_stream ORDER BY partition_key"
    ).collect()

    from flink_cdc_msk_spark.operators.route import route_mysql_cdc

    want = (
        route_mysql_cdc(events, ROUTING, topic_prefix="cdc_", num_partitions=12)
        .select("partition_key", "partition")
        .orderBy("partition_key")
        .collect()
    )
    assert got == want
    assert len(got) == 1500


def test_streaming_tumbling_window_drops_late_data(spark, tmpdir):
    lines = [
        # window 10:00, on time
        ("e1", "2024-01-01 10:05:00"),
        ("e2", "2024-01-01 10:55:00"),
        # advances watermark far past 10:00+2h
        ("e3", "2024-01-01 15:00:00"),
        # late beyond watermark → dropped
        ("e4", "2024-01-01 10:10:00"),
    ]
    src = f"{tmpdir}/ev"
    import os

    os.makedirs(src)
    # two files → two micro-batches: watermark advances between them
    with open(f"{src}/a.json", "w") as f:
        for i, (eid, ts) in enumerate(lines[:3]):
            f.write(json.dumps({"event_id": i, "ts": ts, "event_type": "click",
                                "value": 1.0}) + "\n")
    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    agg = tumbling_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling")
        .option("checkpointLocation", f"{tmpdir}/ckpt_tw")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only finalized windows (watermark passed) — the
    # 10:00 window (2 events) is final once the 15:00 event advanced the
    # watermark to 13:00.
    rows = spark.sql("SELECT * FROM tumbling").collect()
    finals = {str(r.window_start): r.n for r in rows}
    assert finals.get("2024-01-01 10:00:00") == 2


def test_streaming_dedup(spark, tmpdir):
    import os

    src = f"{tmpdir}/dups"
    os.makedirs(src)
    with open(f"{src}/a.json", "w") as f:
        for eid, ts in [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:01"),
                        (2, "2024-01-01 10:00:02"), (1, "2024-01-01 10:00:03")]:
            f.write(json.dumps({"event_id": eid, "ts": ts}) + "\n")
    stream = spark.readStream.schema("event_id long, ts timestamp").json(src)
    deduped = streaming_dedup(stream, ["event_id"], watermark="1 hour")
    _run_available_now(deduped, tmpdir, "deduped")
    rows = spark.sql("SELECT event_id FROM deduped").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_streaming_dedup_rocksdb_state(spark, tmpdir):
    """Same dedup on the RocksDB state store provider (parity with the
    reference's RocksDB backend, emr/MySQLCDC2AWSMSK.scala:59 — spill-aware
    state for 100 TB keyed dedup). providerClass is a runtime SQLConf."""
    import os

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = f"{tmpdir}/dups_rocks"
        os.makedirs(src)
        with open(f"{src}/a.json", "w") as f:
            for eid, ts in [(1, "2024-01-01 10:00:00"),
                            (1, "2024-01-01 10:00:01"),
                            (2, "2024-01-01 10:00:02")]:
                f.write(json.dumps({"event_id": eid, "ts": ts}) + "\n")
        stream = spark.readStream.schema("event_id long, ts timestamp").json(src)
        deduped = streaming_dedup(stream, ["event_id"], watermark="1 hour")
        _run_available_now(deduped, tmpdir, "deduped_rocks")
        rows = spark.sql("SELECT event_id FROM deduped_rocks").collect()
        assert sorted(r.event_id for r in rows) == [1, 2]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_session_window_stream(spark, tmpdir):
    import os

    src = f"{tmpdir}/sess"
    os.makedirs(src)
    with open(f"{src}/a.json", "w") as f:
        # user 1: two sessions separated by > 30 min; closer watermark-advancer
        for eid, ts, uid in [
            (1, "2024-01-01 10:00:00", 1),
            (2, "2024-01-01 10:10:00", 1),
            (3, "2024-01-01 12:00:00", 1),
            (4, "2024-01-01 23:00:00", 2),  # far future: finalizes sessions
        ]:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid,
                                "value": 2.0}) + "\n")
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, value double"
    ).json(src)
    sess = sessionized(stream, gap="30 minutes", watermark="1 hour")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .option("checkpointLocation", f"{tmpdir}/ckpt_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, n_events FROM sessions WHERE user_id = 1"
    ).collect()
    # both user-1 sessions finalized: (2 events) + (1 event)
    assert sorted(r.n_events for r in rows) == [1, 2]


def test_stateful_running_totals_across_batches(spark, tmpdir):
    """applyInPandasWithState: per-key state must accumulate ACROSS
    micro-batches (two files, one per trigger) — the second batch's emitted
    running count includes the first batch's rows."""
    import os

    from flink_cdc_msk_spark.streaming import running_totals

    src = f"{tmpdir}/stateful"
    os.makedirs(src)
    with open(f"{src}/batch_a.json", "w") as f:
        f.write(json.dumps({"event_type": "click", "value": 1.0}) + "\n")
        f.write(json.dumps({"event_type": "click", "value": 2.0}) + "\n")
        f.write(json.dumps({"event_type": "view", "value": 5.0}) + "\n")
    with open(f"{src}/batch_b.json", "w") as f:
        f.write(json.dumps({"event_type": "click", "value": 4.0}) + "\n")

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    out = running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running")
        .option("checkpointLocation", f"{tmpdir}/ckpt_running")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT key, n, total FROM running").collect()
    # update mode emits one row per active key per batch; the LAST click
    # row must carry cumulative state (file order across triggers isn't
    # guaranteed, so check the cumulative row exists with both orderings
    # collapsing to n=3/total=7)
    clicks = sorted((r.n, r.total) for r in rows if r.key == "click")
    assert clicks[-1] == (3, 7.0)
    views = [(r.n, r.total) for r in rows if r.key == "view"]
    assert (1, 5.0) in views


def test_foreach_batch_compaction(spark, tmpdir):
    """Streamed c/u/d envelopes compact to the same latest-state table the
    batch query produces."""
    events = synthesize_mysql_events(spark, SF_SMALL, with_updates=True)
    src = f"{tmpdir}/cdc"
    snapshot_then_stream_paths(events, src)
    stream = (
        spark.readStream.format("text").load(src)
    )
    sink = ParquetUpsertSink(f"{tmpdir}/state", ["o_orderkey"])
    q = start_compaction_stream(
        stream, sink, f"{tmpdir}/ckpt_compact", available_now=True
    )
    q.awaitTermination(180)

    state = spark.read.parquet(f"{tmpdir}/state")
    # orders: 1500 keys, every 20th deleted → 1425 live keys
    assert state.count() == 1500 - 75
    # updated keys carry the op=u image
    ups = state.filter(F.col("op") == "u").count()
    assert ups == 150 - 75  # %10==0 updated, half of those (%20==0) deleted


def test_bucketed_compaction_matches_full(spark, tmpdir):
    """Partition-aware upsert (rewrite only touched pk-hash buckets) must
    produce exactly the same live state as one bucket holding the whole
    table, fed the same events as a single batch."""
    events = synthesize_mysql_events(spark, SF_SMALL, with_updates=True)
    src = f"{tmpdir}/cdc_b"
    snapshot_then_stream_paths(events, src)
    stream = spark.readStream.format("text").load(src)
    sink = ParquetUpsertSink(f"{tmpdir}/state_b", ["o_orderkey"], num_buckets=8)
    q = start_compaction_stream(
        stream, sink, f"{tmpdir}/ckpt_compact_b", available_now=True
    )
    q.awaitTermination(180)

    got = spark.read.parquet(f"{tmpdir}/state_b")
    assert got.count() == 1500 - 75
    assert got.filter(F.col("op") == "u").count() == 150 - 75
    # bucket layout exists and covers the keyspace
    import os

    assert any(d.startswith("bucket=") for d in os.listdir(f"{tmpdir}/state_b"))

    whole = ParquetUpsertSink(f"{tmpdir}/state_1", ["o_orderkey"], num_buckets=1)
    whole(events, 0)

    def rows(path):
        return sorted(
            spark.read.parquet(path)
            .select("o_orderkey", "op", "ts_ms", F.to_json("payload"))
            .collect()
        )

    assert rows(f"{tmpdir}/state_b") == rows(f"{tmpdir}/state_1")


def test_bucketed_compaction_empties_fully_deleted_bucket(spark, tmpdir):
    """A batch that deletes EVERY key of one bucket must empty that bucket
    dir (dynamic partition overwrite alone would skip it)."""
    import json as _json
    import os

    def env(op, key, ts):
        return _json.dumps(
            {
                "before": {"o_orderkey": key} if op == "d" else None,
                "after": {"o_orderkey": key} if op != "d" else None,
                "source": {"db": "test_db", "table": "orders"},
                "op": op,
                "ts_ms": ts,
            }
        )

    sink = ParquetUpsertSink(f"{tmpdir}/state_e", ["o_orderkey"], num_buckets=2)
    b1 = spark.createDataFrame(
        [(env("c", k, 1),) for k in range(20)], "value string"
    )
    sink(b1, 0)
    state1 = spark.read.parquet(f"{tmpdir}/state_e")
    buckets = {
        r.bucket: [x.o_orderkey for x in
                   state1.filter(F.col("bucket") == r.bucket).collect()]
        for r in state1.select("bucket").distinct().collect()
    }
    victim, keys = next(iter(buckets.items()))
    b2 = spark.createDataFrame(
        [(env("d", k, 2),) for k in keys], "value string"
    )
    assert sink.last_commit["batch_id"] == 0
    assert sum(sink.last_commit["buckets"].values()) == 20
    sink(b2, 1)
    # the merge reports the emptied bucket, and its dir is gone
    assert sink.last_commit == {"batch_id": 1, "buckets": {victim: 0}}
    assert not os.path.exists(f"{tmpdir}/state_e/bucket={victim}")
    state2 = spark.read.parquet(f"{tmpdir}/state_e")
    assert state2.filter(F.col("bucket") == victim).count() == 0
    assert state2.count() == 20 - len(keys)


def test_restart_supervisor_retries(spark, tmpdir):
    calls = {"n": 0}

    class FakeQuery:
        def __init__(self, fail):
            self.fail = fail

        def awaitTermination(self):
            if self.fail:
                raise RuntimeError("boom")

    def start():
        calls["n"] += 1
        return FakeQuery(fail=calls["n"] < 3)

    sup = RestartSupervisor(max_attempts=3, delay_s=0.01)
    sup.run(start)  # two failures then success
    assert calls["n"] == 3

    calls["n"] = 0

    def always_fail():
        calls["n"] += 1
        return FakeQuery(fail=True)

    sup2 = RestartSupervisor(max_attempts=2, delay_s=0.01)
    with pytest.raises(RuntimeError):
        sup2.run(always_fail)
    assert calls["n"] == 2


def test_streaming_near_dup_filter_across_batches(spark, tmpdir):
    """Cross-batch near-dup suppression: batch 2's near-copy of a batch-1
    doc must be rejected; its genuinely-new doc admitted; batch-1-internal
    near-dups keep only the lowest id. Unbounded lookback via the
    signature store — beyond dropDuplicatesWithinWatermark."""
    import os

    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingNearDupFilter,
        start_near_dup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm stone wall near the gate"
    )
    other = (
        "completely different content about spark structured streaming "
        "state stores and watermark semantics for large scale pipelines"
    )
    third = (
        "yet another unique document discussing minhash banding theory "
        "and the probability of candidate collisions at given thresholds"
    )
    src = f"{tmpdir}/neardup_src"
    os.makedirs(src)
    # batch A: doc 1, its near-dup 2 (suffix), unique 3
    with open(f"{src}/a.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": base + " zz yy"}) + "\n")
        f.write(json.dumps({"doc_id": 3, "text": other}) + "\n")
    # batch B: near-dup of doc 1 again, plus unique 5
    with open(f"{src}/b.json", "w") as f:
        f.write(json.dumps({"doc_id": 4, "text": base + " ww vv"}) + "\n")
        f.write(json.dumps({"doc_id": 5, "text": third}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    filt = StreamingNearDupFilter(
        f"{tmpdir}/nd_store", f"{tmpdir}/nd_out", threshold=0.7
    )
    q = start_near_dup_stream(
        stream, filt, f"{tmpdir}/ckpt_nd", available_now=True
    )
    q.awaitTermination(180)

    admitted = sorted(
        r.doc_id for r in spark.read.parquet(f"{tmpdir}/nd_out").collect()
    )
    assert admitted == [1, 3, 5]


def test_near_dup_filter_batch_retry_is_idempotent(spark, tmpdir):
    """foreachBatch is at-least-once: re-invoking the SAME batch_id (a
    retry) must not duplicate admitted docs or band rows — each batch
    owns an overwrite-mode batch_id= dir."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingNearDupFilter,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "totally different words about distributed query engines")],
        "doc_id long, text string",
    )
    filt = StreamingNearDupFilter(
        f"{tmpdir}/r_store", f"{tmpdir}/r_out", threshold=0.7
    )
    filt(docs, batch_id=0)
    filt(docs, batch_id=0)  # simulated retry of the same micro-batch
    out = spark.read.parquet(f"{tmpdir}/r_out")
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]
    state = spark.read.parquet(f"{tmpdir}/r_store")
    bands = state.filter(state.kind == "band")
    assert bands.count() == bands.dropDuplicates(["id", "band", "bucket"]).count()
    sets = state.filter(state.kind == "set")
    assert sorted(r.id for r in sets.select("id").collect()) == [1, 2]


def test_near_dup_verify_reads_persisted_sets_not_corpus(spark, tmpdir):
    """The round-4 audit's one scale-killer: cross-batch Jaccard verify
    must run against the PERSISTED unit-set sidecar, never by
    re-tokenizing the admitted corpus (O(corpus) per batch at 100 TB).
    Proof is behavioral: after batch 0, replace the admitted doc's TEXT
    in out_path with garbage while leaving the sidecar intact — a
    batch-1 near-dup of the original text must still be rejected, which
    is only possible if verify never touches out_path text."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingNearDupFilter,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm stone wall near the gate"
    )
    filt = StreamingNearDupFilter(
        f"{tmpdir}/v_store", f"{tmpdir}/v_out", threshold=0.7
    )
    filt(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        batch_id=0,
    )
    # corrupt the admitted TEXT on disk (ids unchanged)
    garbled = spark.createDataFrame(
        [(1, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii")],
        "doc_id long, text string",
    )
    garbled.write.mode("overwrite").parquet(f"{tmpdir}/v_out/batch_id=0")
    filt(
        spark.createDataFrame(
            [(2, base + " zz yy"), (3, "entirely new content about "
             "columnar shuffle formats and adaptive execution plans")],
            "doc_id long, text string",
        ),
        batch_id=1,
    )
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(f"{tmpdir}/v_out").collect()
    )
    # 2 rejected via the sidecar sets (garbled text would have admitted it)
    assert admitted == [1, 3]


def test_user_stats_tws_if_protobuf_available(spark, tmp_path):
    """transformWithStateInPandas end-to-end — skipped where the
    container's protobuf is broken (the state-server protocol needs it);
    the operator itself is import-clean everywhere."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable in this container")
    from pyspark.sql import functions as F

    from flink_cdc_msk_spark.streaming.stateful import user_stats_tws

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "src"
        spark.createDataFrame(
            [(1, 2.0), (1, 3.0), (2, 5.0)], "user_id long, value double"
        ).write.json(str(src))
        stream = spark.readStream.schema("user_id long, value double").json(
            str(src)
        )
        out = user_stats_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {
            r.user_id: r
            for r in spark.sql(
                "SELECT * FROM tws_test ORDER BY n"
            ).collect()
        }
        assert rows[1].n == 2 and abs(rows[1].total - 5.0) < 1e-9
        assert rows[2].v_min == 5.0 == rows[2].v_max
    finally:
        spark.conf.unset(prov_key)


def test_vector_near_dup_filter_across_batches(spark, tmpdir):
    """Vector twin of the cross-batch near-dup suppression: batch 2's
    near-copy (same direction, scaled) of a batch-1 vector must be
    rejected; an orthogonal vector admitted; the verify must read the
    VECTOR SIDECAR, not out_path (corrupted on disk between batches)."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingVectorNearDupFilter,
    )

    def vec(axis, scale=1.0):
        v = [0.0] * 64
        v[axis] = scale
        return v

    filt = StreamingVectorNearDupFilter(
        f"{tmpdir}/v_store", f"{tmpdir}/v_out", threshold=0.9, dims=64
    )
    filt(
        spark.createDataFrame(
            [(1, vec(0)), (2, vec(1))],
            "vec_id long, embedding array<double>",
        ),
        batch_id=0,
    )
    # corrupt admitted vectors in out_path (ids unchanged): if verify
    # read out_path, the batch-1 near-dup would sail through
    spark.createDataFrame(
        [(1, vec(5)), (2, vec(6))], "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{tmpdir}/v_out/batch_id=0")
    filt(
        spark.createDataFrame(
            # 3 ≈ vector 1 (cos 1.0); 4 orthogonal to everything
            [(3, vec(0, 2.5)), (4, vec(2))],
            "vec_id long, embedding array<double>",
        ),
        batch_id=1,
    )
    admitted = sorted(
        r.vec_id for r in spark.read.parquet(f"{tmpdir}/v_out").collect()
    )
    assert admitted == [1, 2, 4]
    # sidecar rows hold exactly the admitted ids
    side = spark.read.parquet(f"{tmpdir}/v_store").filter("kind = 'vec'")
    assert sorted(r.id for r in side.select("id").collect()) == [1, 2, 4]


def test_vector_near_dup_retry_is_idempotent(spark, tmpdir):
    """Re-invoking the SAME batch_id (foreachBatch retry) must not
    duplicate admitted vectors, bucket rows, or sidecar rows."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingVectorNearDupFilter,
    )

    v1 = [1.0] + [0.0] * 63
    v2 = [0.0] * 63 + [1.0]
    vecs = spark.createDataFrame(
        [(1, v1), (2, v2)], "vec_id long, embedding array<double>"
    )
    filt = StreamingVectorNearDupFilter(
        f"{tmpdir}/r_store", f"{tmpdir}/r_out", threshold=0.9
    )
    filt(vecs, batch_id=0)
    filt(vecs, batch_id=0)
    out = spark.read.parquet(f"{tmpdir}/r_out")
    assert sorted(r.vec_id for r in out.collect()) == [1, 2]
    store = spark.read.parquet(f"{tmpdir}/r_store").filter("kind = 'bucket'")
    assert store.count() == store.dropDuplicates(
        ["id", "table", "bucket"]
    ).count()


def test_vector_near_dup_admits_zero_vectors(spark, tmpdir):
    """Zero vectors share bucket 0 in every table, so the verify meets
    0/0 both inside a batch and against the store; they pair with
    nothing (as in the batch operator and the oracle), so every one is
    admitted and the batch must not fail."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingVectorNearDupFilter,
    )

    zero = [0.0] * 64
    filt = StreamingVectorNearDupFilter(
        f"{tmpdir}/z_store", f"{tmpdir}/z_out", threshold=0.9, dims=64
    )
    schema = "vec_id long, embedding array<double>"
    filt(
        spark.createDataFrame(
            [(1, zero), (2, zero), (3, [1.0] + [0.0] * 63)], schema
        ),
        batch_id=0,
    )
    filt(spark.createDataFrame([(4, zero)], schema), batch_id=1)
    admitted = sorted(
        r.vec_id for r in spark.read.parquet(f"{tmpdir}/z_out").collect()
    )
    assert admitted == [1, 2, 3, 4]


def test_backfill_migrates_presidecar_store(spark, tmpdir):
    """A round-4 PRE-SIDECAR store (band rows only, no unit-set state)
    must (a) fail fast under the new unified-layout code, and (b) resume
    after backfill_unified_state re-derives the unit-sets from out_path —
    with cross-batch near-dup suppression still working."""
    import pytest

    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingNearDupFilter,
        backfill_unified_state,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm stone wall near the gate"
    )
    # stage batch 0 with current code, then strip its store down to the
    # legacy band-only layout (the exact on-disk state a round-4
    # checkpoint leaves behind)
    filt = StreamingNearDupFilter(
        f"{tmpdir}/m_store", f"{tmpdir}/m_out", threshold=0.7
    )
    filt(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        batch_id=0,
    )
    legacy = f"{tmpdir}/legacy_store"
    spark.read.parquet(f"{tmpdir}/m_store").filter("kind = 'band'").select(
        "id", "band", "bucket"
    ).write.parquet(f"{legacy}/batch_id=0")

    filt2 = StreamingNearDupFilter(
        legacy, f"{tmpdir}/m_out", threshold=0.7
    )
    b1 = spark.createDataFrame(
        [(2, base + " zz yy"),
         (3, "entirely new content about columnar shuffle formats and "
             "adaptive execution plan strategies in modern engines")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="legacy near-dup state"):
        filt2(b1, batch_id=1)

    backfill_unified_state(spark, legacy, out_path=f"{tmpdir}/m_out")
    filt2(b1, batch_id=1)
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(f"{tmpdir}/m_out").collect()
    )
    assert admitted == [1, 3]  # 2 is a near-dup of stored doc 1


def test_backfill_migrates_vector_store(spark, tmpdir):
    """The VECTOR twin's legacy layouts must migrate too (round-6 advice:
    backfill only handled text).  Round-5 layout = bucket store +
    ``_vecs`` sidecar; round-4 layout = bucket store only, vectors
    re-derived from out_path.  Both must fail fast before the migration
    and suppress a cross-batch near-dup after it."""
    import pytest

    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingVectorNearDupFilter,
        backfill_unified_state,
    )

    def vec(axis, scale=1.0):
        v = [0.0] * 64
        v[axis] = scale
        return v

    # stage batch 0 with current code, then strip to each legacy layout
    filt = StreamingVectorNearDupFilter(
        f"{tmpdir}/u_store", f"{tmpdir}/u_out", threshold=0.9, dims=64
    )
    filt(
        spark.createDataFrame(
            [(1, vec(0)), (2, vec(1))],
            "vec_id long, embedding array<double>",
        ),
        batch_id=0,
    )
    unified = spark.read.parquet(f"{tmpdir}/u_store")
    b1 = spark.createDataFrame(
        # 3 ≈ stored vector 1 (cos 1.0) → reject; 4 orthogonal → admit
        [(3, vec(0, 2.5)), (4, vec(2))],
        "vec_id long, embedding array<double>",
    )
    for name, with_sidecar in [("r5", True), ("r4", False)]:
        legacy = f"{tmpdir}/legacy_{name}"
        unified.filter("kind = 'bucket'").select(
            "id", "table", "bucket"
        ).write.parquet(f"{legacy}/batch_id=0")
        if with_sidecar:
            unified.filter("kind = 'vec'").select(
                "id", "v", F.lit(0).alias("batch_id")
            ).write.parquet(f"{legacy}_vecs")
        out = f"{tmpdir}/out_{name}"
        spark.read.parquet(f"{tmpdir}/u_out").write.parquet(
            f"{out}/batch_id=0"
        )
        filt2 = StreamingVectorNearDupFilter(
            legacy, out, threshold=0.9, dims=64
        )
        with pytest.raises(ValueError, match="legacy near-dup state"):
            filt2(b1, batch_id=1)
        backfill_unified_state(spark, legacy, out_path=out)
        filt2(b1, batch_id=1)
        admitted = sorted(
            r.vec_id for r in spark.read.parquet(out).collect()
        )
        assert admitted == [1, 2, 4], name


def test_near_dup_explosion_gate_paths_agree(spark, tmpdir):
    """The adaptive explosion insurance (candidate-volume gate on the
    pre-verify repartition) must not change admissions: forcing the
    spread path (gate=0) and the skip path (gate=huge) over the same
    batches admits identical ids."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingNearDupFilter,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm stone wall near the gate"
    )
    b0 = spark.createDataFrame(
        [(1, base), (2, base + " zz yy"),
         (3, "totally different words about distributed query engines")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(4, base + " ww vv"),
         (5, "yet another unique document discussing minhash banding")],
        "doc_id long, text string",
    )
    results = {}
    for name, gate in [("spread", 0), ("skip", 1 << 60)]:
        filt = StreamingNearDupFilter(
            f"{tmpdir}/g{name}_store", f"{tmpdir}/g{name}_out",
            threshold=0.7, spread_min_candidates=gate,
        )
        filt(b0, batch_id=0)
        filt(b1, batch_id=1)
        results[name] = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmpdir}/g{name}_out").collect()
        )
    assert results["spread"] == results["skip"] == [1, 3, 5]


def test_near_dup_lagged_observation_feeds_gate(spark, tmpdir):
    """The insurance gate's input is the PREVIOUS batch's candidate
    count, observed via a zero-job CollectMetrics node: a first batch
    never insures (lagged by design), a batch with band collisions
    raises ``_last_candidates`` so the next batch insures at a low
    threshold, and a collision-free batch resets it to zero."""
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingNearDupFilter,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm stone wall near the gate"
    )
    filt = StreamingNearDupFilter(
        f"{tmpdir}/lag_store", f"{tmpdir}/lag_out",
        threshold=0.7, spread_min_candidates=1,
    )
    assert not filt._insure()  # lagged: batch 0 always skips
    filt(
        spark.createDataFrame(
            [(1, base), (2, base + " zz yy")],
            "doc_id long, text string",
        ),
        batch_id=0,
    )
    assert filt._last_candidates >= 1  # the intra near-dup pair collided
    assert filt._insure()
    filt(  # insured path; admissions must be unaffected
        spark.createDataFrame(
            [(3, "completely unrelated prose about catalyst plans")],
            "doc_id long, text string",
        ),
        batch_id=1,
    )
    assert filt._last_candidates == 0  # no collisions → gate re-arms off
    assert sorted(
        r.doc_id
        for r in spark.read.parquet(f"{tmpdir}/lag_out").collect()
    ) == [1, 3]


def _scd2_env(key, op, ts, val=""):
    import json

    payload = {"o_orderkey": str(key), "v": val}
    return json.dumps(
        {
            "before": payload if op == "d" else None,
            "after": None if op == "d" else payload,
            "op": op,
            "ts_ms": ts,
        }
    )


def test_scd2_sink_cross_batch_and_retry(spark, tmpdir):
    """A later batch's update must CLOSE the interval opened in an
    earlier batch; deletes close and are never current; re-invoking the
    same batch (foreachBatch retry) must not duplicate interval rows."""
    from flink_cdc_msk_spark.streaming.compaction import Scd2IntervalSink

    sink = Scd2IntervalSink(f"{tmpdir}/scd2", ["o_orderkey"], num_buckets=4)
    sink(
        spark.createDataFrame(
            [(_scd2_env(1, "c", 100, "a"),), (_scd2_env(2, "c", 110, "b"),)],
            "value string",
        ),
        0,
    )
    b1 = spark.createDataFrame(
        [(_scd2_env(1, "u", 200, "a2"),), (_scd2_env(2, "d", 210),)],
        "value string",
    )
    sink(b1, 1)
    sink(b1, 1)  # retry
    rows = {
        (r.o_orderkey, r.op): r
        for r in spark.read.parquet(f"{tmpdir}/scd2").collect()
    }
    assert len(rows) == 4
    assert rows[("1", "c")].valid_to == 200
    assert rows[("1", "c")].is_current == 0
    assert rows[("1", "u")].valid_to is None
    assert rows[("1", "u")].is_current == 1
    assert rows[("2", "c")].valid_to == 210
    assert rows[("2", "d")].is_current == 0


def test_scd2_sink_out_of_order_converges(spark, tmpdir):
    """A late-arriving EARLIER change (hostile slabbing) must slot into
    history correctly: the content-addressed log makes the maintained
    table order-independent."""
    from flink_cdc_msk_spark.streaming.compaction import Scd2IntervalSink

    sink = Scd2IntervalSink(f"{tmpdir}/scd2_o", ["o_orderkey"], num_buckets=4)
    sink(
        spark.createDataFrame(
            [(_scd2_env(1, "u", 200, "a2"),)], "value string"
        ),
        0,
    )
    sink(
        spark.createDataFrame(
            [(_scd2_env(1, "c", 100, "a"),)], "value string"
        ),
        1,
    )
    rows = {
        r.op: r for r in spark.read.parquet(f"{tmpdir}/scd2_o").collect()
    }
    assert rows["c"].valid_from == 100
    assert rows["c"].valid_to == 200
    assert rows["c"].is_current == 0
    assert rows["u"].valid_to is None
    assert rows["u"].is_current == 1


def test_file_stream_batch_runs_no_listing_job(spark, tmpdir):
    """A micro-batch of more than 32 files must not list them with a
    Spark job (InMemoryFileIndex's parallel listing, pure scheduling
    cost in local mode): with a no-op sink the query runs no job at
    all."""
    import os

    from flink_cdc_msk_spark.streaming.pipeline import (
        stream_lines_from_directory,
    )

    src = f"{tmpdir}/many"
    os.makedirs(src)
    for i in range(40):
        with open(f"{src}/part-{i:03d}.txt", "w") as fh:
            fh.write(f"line {i}\n")
    q = (
        stream_lines_from_directory(spark, src, max_files_per_trigger=None)
        .writeStream.foreachBatch(lambda batch, batch_id: None)
        .option("checkpointLocation", f"{tmpdir}/ckpt_listing")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # one batch took all 40 files (the no-op sink reads no rows, so the
    # source's own log is the witness)
    assert len(q.recentProgress) == 1
    with open(f"{tmpdir}/ckpt_listing/sources/0/0") as fh:
        assert len(fh.read().splitlines()) == 1 + 40  # version line + files
    tracker = spark.sparkContext.statusTracker()
    assert list(tracker.getJobIdsForGroup(str(q.runId))) == []


def test_checkpoint_restart_after_torn_log_write_is_exactly_once(
    spark, tmpdir
):
    """Local masters write the checkpoint logs through FileSystem.rename
    (no `readlink` forks). A crash mid-write leaves a temp file in
    offsets/; the restarted query ignores it, and the file sink still
    holds every row exactly once."""
    import os
    import uuid

    from flink_cdc_msk_spark.streaming.pipeline import (
        stream_lines_from_directory,
    )

    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass"
    ).endswith(".FileSystemBasedCheckpointFileManager")
    src, out, ckpt = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ckpt"
    os.makedirs(src)

    def add_files(first):
        for i in range(first, first + 2):
            with open(f"{src}/part-{i}.txt", "w") as fh:
                fh.writelines(f"file {i} row {j}\n" for j in range(5))

    def drain():
        q = (
            stream_lines_from_directory(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    add_files(0)
    drain()
    assert sorted(os.listdir(f"{ckpt}/offsets")) == [".0.crc", ".1.crc", "0", "1"]
    with open(f"{ckpt}/offsets/.2.{uuid.uuid4()}.tmp", "w") as fh:
        fh.write("v1\n{")  # torn: the rename into offsets/2 never ran
    add_files(2)
    drain()
    rows = [r.value for r in spark.read.parquet(out).collect()]
    assert len(rows) == 20
    assert sorted(set(rows)) == sorted(
        f"file {i} row {j}" for i in range(4) for j in range(5)
    )


# ---- ParquetUpsertSink: one fold per bucket over state ∪ batch ----


def _change(op, key, ts, v):
    image = {"o_orderkey": key, "v": v}
    return json.dumps(
        {
            "before": image if op == "d" else None,
            "after": None if op == "d" else image,
            "source": {"db": "test_db", "table": "orders"},
            "op": op,
            "ts_ms": ts,
        }
    )


# (op, key, ts_ms, v) per micro-batch, in arrival order within the batch
MERGE_BATCHES = [
    # seeds the state
    [("c", 1, 10, "a"), ("c", 4, 11, "x"), ("c", 5, 12, "p")],
    [
        ("c", 2, 21, "c0"), ("u", 2, 22, "c1"), ("u", 2, 23, "c2"),  # c→u→u
        ("u", 3, 31, "u0"), ("d", 3, 32, "u0"),  # u→d, key not in state
        ("d", 1, 41, "a"), ("c", 1, 42, "a2"),  # d→c, key in state
        ("u", 4, 50, "y"),  # key in state, updated
        ("d", 5, 60, "p"),  # key in state, deleted
        ("u", 6, 71, "n1"), ("c", 6, 70, "n0"),  # out of order in the batch
    ],
]
# a re-delivered micro-batch must leave the state unchanged
MERGE_BATCHES.append(MERGE_BATCHES[1])


def _replay(batches, retain_tombstones):
    """Pure-Python latest state: the newest change per key wins; deletes
    are dropped unless tombstones are retained."""
    latest = {}
    for batch in batches:
        for op, key, ts, v in batch:
            if key not in latest or ts > latest[key][1]:
                latest[key] = (op, ts, v)
    return sorted(
        (str(k), op, ts, v)
        for k, (op, ts, v) in latest.items()
        if retain_tombstones or op != "d"
    )


@pytest.mark.parametrize("retain_tombstones", [False, True])
@pytest.mark.parametrize("num_buckets", [1, 6, 8])
def test_upsert_merge_equals_replay(
    spark, tmpdir, num_buckets, retain_tombstones
):
    path = f"{tmpdir}/state"
    sink = ParquetUpsertSink(
        path,
        ["o_orderkey"],
        num_buckets=num_buckets,
        retain_tombstones=retain_tombstones,
    )
    for batch_id, batch in enumerate(MERGE_BATCHES):
        lines = [(_change(*c),) for c in batch]
        sink(spark.createDataFrame(lines, "value string"), batch_id)
        got = sorted(
            (r.o_orderkey, r.op, r.ts_ms, r.payload["v"])
            for r in spark.read.parquet(path).collect()
        )
        assert got == _replay(MERGE_BATCHES[: batch_id + 1], retain_tombstones)


def test_upsert_transform_sees_every_change(spark, tmpdir):
    """``transform`` runs row-wise on the parsed change rows before the
    merge; its columns land in the state table."""
    path = f"{tmpdir}/state_t"
    seen = []

    def tag(changes):
        seen.append(changes.count())
        return changes.withColumn("tag", F.upper(changes["payload"]["v"]))

    sink = ParquetUpsertSink(
        path, ["o_orderkey"], num_buckets=8, transform=tag,
        retain_tombstones=True,
    )
    for batch_id, batch in enumerate(MERGE_BATCHES[:2]):
        lines = [(_change(*c),) for c in batch]
        sink(spark.createDataFrame(lines, "value string"), batch_id)
    assert seen == [len(b) for b in MERGE_BATCHES[:2]]
    got = sorted(
        (r.o_orderkey, r.op, r.ts_ms, r.payload["v"], r.tag)
        for r in spark.read.parquet(path).collect()
    )
    want = _replay(MERGE_BATCHES[:2], True)
    assert got == [(*row, row[3].upper()) for row in want]


def test_upsert_transform_typed_columns_round_trip(spark, tmpdir):
    """Columns a transform adds keep their Spark types and values through
    the merge tasks' parquet files: timestamp, decimal and struct, over
    two merges (the second reads and rewrites the first's files)."""
    from flink_cdc_msk_spark.streaming.compaction import parse_change_events

    def typed(changes):
        return changes.withColumns(
            {
                "at": F.timestamp_millis("ts_ms"),
                "amount": (F.col("ts_ms") / 7).cast("decimal(12,2)"),
                "detail": F.struct(
                    changes["payload"]["v"].alias("v"),
                    F.col("ts_ms").alias("ts"),
                ),
            }
        )

    path = f"{tmpdir}/state_typed"
    sink = ParquetUpsertSink(
        path, ["o_orderkey"], num_buckets=4, transform=typed,
        retain_tombstones=True,
    )
    for batch_id, batch in enumerate(MERGE_BATCHES[:2]):
        lines = [(_change(*c),) for c in batch]
        sink(spark.createDataFrame(lines, "value string"), batch_id)
    state = spark.read.parquet(path)
    types = dict(state.dtypes)
    assert types["at"] == "timestamp"
    assert types["amount"] == "decimal(12,2)"
    assert types["detail"] == "struct<v:string,ts:bigint>"
    latest = [
        (_change(op, int(k), ts, v),)
        for k, op, ts, v in _replay(MERGE_BATCHES[:2], True)
    ]
    want = typed(
        parse_change_events(
            spark.createDataFrame(latest, "value string"), ["o_orderkey"]
        )
    )
    cols = ["o_orderkey", "op", "ts_ms", "at", "amount", "detail"]
    assert sorted(state.select(cols).collect()) == sorted(
        want.select(cols).collect()
    )


def test_upsert_merges_a_table_written_by_spark(spark, tmpdir):
    """State tables written before the merge tasks wrote their own files
    have Spark's writer layout: part files without page checksums, Hadoop
    ``.crc`` sidecars, a ``_SUCCESS`` marker. The next merge reads them."""
    import glob

    from flink_cdc_msk_spark.streaming.compaction import (
        BUCKETING_FILE,
        parse_change_events,
        pk_bucket,
    )

    path = f"{tmpdir}/spark_written"
    first = [(_change(*c),) for c in MERGE_BATCHES[0]]
    parse_change_events(
        spark.createDataFrame(first, "value string"), ["o_orderkey"]
    ).withColumn("bucket", pk_bucket(["o_orderkey"], 4)).write.partitionBy(
        "bucket"
    ).parquet(path)
    with open(f"{path}/{BUCKETING_FILE}", "w") as f:
        json.dump({"hash": "murmur3", "num_buckets": 4}, f)
    assert glob.glob(f"{path}/bucket=*/.*.crc")
    sink = ParquetUpsertSink(path, ["o_orderkey"], num_buckets=4)
    second = [(_change(*c),) for c in MERGE_BATCHES[1]]
    sink(spark.createDataFrame(second, "value string"), 1)
    got = sorted(
        (r.o_orderkey, r.op, r.ts_ms, r.payload["v"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == _replay(MERGE_BATCHES[:2], False)


# ---- bucket-aligned merge: pk_bucket is Spark's hash partition id ----


def _keyed_batch(spark, keys, ts):
    return spark.createDataFrame(
        [(_change("u", k, ts + k, f"v{ts}"),) for k in keys], "value string"
    )


def test_upsert_merge_plan_one_exchange_aligned_with_buckets(spark, tmpdir):
    """The merge is one action: the batch's changes hash-partitioned on
    the key into the largest divisor of the bucket count within the
    shuffle partitions (one exchange), then one MapInArrow that folds
    and writes each task's buckets. No window, no Spark file writer: it
    runs at most 2 jobs (AQE submits the shuffle stage as its own job),
    and its result stage runs that many tasks (AQE leaves an explicit
    count alone)."""
    import re

    from flink_cdc_msk_spark.streaming.compaction import merge_partitions

    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle == 4
    assert [merge_partitions(spark, b) for b in (1, 6, 8, 16)] == [1, 3, 4, 4]
    sink = ParquetUpsertSink(f"{tmpdir}/plan", ["o_orderkey"], num_buckets=16)
    sink(_keyed_batch(spark, range(200), 0), 0)
    merge = sink._merged(
        _keyed_batch(spark, range(0, 400, 2), 1000), f"{tmpdir}/plan__stage"
    )
    plan = merge._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert len(
        re.findall(r"Exchange hashpartitioning\(o_orderkey#\d+, 4\)", plan)
    ) == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Window" not in plan, plan
    assert "InsertIntoHadoopFsRelationCommand" not in plan, plan

    sc = spark.sparkContext
    group = f"merge-tasks-{id(sink)}"
    sc.setJobGroup(group, "merge")
    try:
        sink(_keyed_batch(spark, range(0, 400, 2), 1000), 1)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert 1 <= len(jobs) <= 2, jobs
    result_stage = tracker.getStageInfo(
        max(tracker.getJobInfo(max(jobs)).stageIds)
    )
    assert result_stage.numTasks == 4


@pytest.mark.parametrize("num_buckets", [8, 16])
def test_upsert_merge_writes_one_file_per_bucket(spark, tmpdir, num_buckets):
    """Each merge task holds whole buckets, so one batch leaves exactly
    one parquet file in every ``bucket=b`` dir, and every row sits in
    the bucket Spark's hash partitioning gives its key."""
    import glob
    import os

    path = f"{tmpdir}/files_{num_buckets}"
    sink = ParquetUpsertSink(path, ["o_orderkey"], num_buckets=num_buckets)
    sink(_keyed_batch(spark, range(300), 0), 0)
    dirs = sorted(glob.glob(f"{path}/bucket=*"))
    assert len(dirs) == num_buckets
    assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in dirs)
    state = spark.read.parquet(path)
    assert state.count() == 300
    assert state.filter(
        F.col("bucket")
        != F.pmod(F.hash(F.col("o_orderkey")), F.lit(num_buckets))
    ).count() == 0
    with open(os.path.join(path, "_bucketing.json")) as f:
        assert json.load(f) == {"hash": "murmur3", "num_buckets": num_buckets}


def test_state_table_refuses_other_bucketing(spark, tmpdir):
    """Reopening a state table with another bucket count would read a
    key's stored row from the wrong bucket and keep both rows; the sink
    refuses instead, naming both layouts. A table with ``bucket=`` dirs
    but no layout marker (the older xxhash64 layout) is refused too.
    Reopening with the same layout keeps merging."""
    import os

    from flink_cdc_msk_spark.streaming.compaction import Scd2IntervalSink

    path = f"{tmpdir}/live"
    ParquetUpsertSink(path, ["o_orderkey"], num_buckets=8)(
        _keyed_batch(spark, range(50), 0), 0
    )
    # a few keys: most land in a 16-bucket whose dir the 8-bucket table
    # never had, so an unguarded merge misses their stored rows
    with pytest.raises(ValueError, match="'num_buckets': 8.*'num_buckets': 16"):
        ParquetUpsertSink(path, ["o_orderkey"], num_buckets=16)(
            _keyed_batch(spark, range(5), 100), 1
        )
    with pytest.raises(ValueError, match="num_buckets"):
        Scd2IntervalSink(path, ["o_orderkey"], num_buckets=4)(
            _keyed_batch(spark, range(5), 100), 1
        )
    ParquetUpsertSink(path, ["o_orderkey"], num_buckets=8)(
        _keyed_batch(spark, range(5), 100), 1
    )
    ids = [r.o_orderkey for r in spark.read.parquet(path).collect()]
    assert sorted(ids) == sorted(str(k) for k in range(50))

    os.remove(f"{path}/_bucketing.json")
    with pytest.raises(ValueError, match="xxhash64"):
        ParquetUpsertSink(path, ["o_orderkey"], num_buckets=8)(
            _keyed_batch(spark, range(50), 200), 2
        )

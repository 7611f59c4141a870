"""CDC latest-state compaction as a streaming sink (SURVEY.md Part B
CDC-specific row: "latest-row materialization / foreachBatch merge").

Each micro-batch of routed change events is merged into a materialized
table: newest ``ts_ms`` per primary key wins, deletes remove the key —
the streaming twin of plans/cdc_queries.cdc_latest_state.

The local sink is a parquet directory partitioned by pk-hash bucket (the
batch is the unit of atomicity). Each batch runs one newest-per-key window
over the state's touched buckets plus the batch, so the merge shuffle is
proportional to those buckets and the batch, not the table. The bucket is
Spark's own hash-partition expression over the key, so the merge shuffles
into a divisor of the bucket count and each task writes whole buckets,
one file each (:func:`merge_partitions`). ``_bucketing.json`` in the
table directory records that layout; a sink whose layout differs refuses
the table instead of reading a key's rows from the wrong bucket. On a
production lake the merge becomes a MERGE INTO against
Delta/Iceberg/Hudi, which needs at most one source row per key: there
the batch is first reduced to its newest change per key, then upserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..envelope import MYSQL_ENVELOPE_COMPACT_SCHEMA


def parse_change_events(batch: DataFrame, pk_cols: list[str]) -> DataFrame:
    """Envelope JSON lines → (pk..., op, ts_ms, payload map) — delete-aware
    key extraction (before for d, after otherwise; scala:113-121)."""
    env = F.from_json("value", MYSQL_ENVELOPE_COMPACT_SCHEMA).alias("env")
    side = F.when(F.col("env.op") == "d", F.col("env.before")).otherwise(
        F.col("env.after")
    )
    cols = [
        F.try_element_at(side, F.lit(c)).alias(c) for c in pk_cols
    ]
    return batch.select(env).select(
        *cols,
        F.col("env.op").alias("op"),
        F.col("env.ts_ms").alias("ts_ms"),
        F.when(F.col("env.op") == "d", F.col("env.before"))
        .otherwise(F.col("env.after"))
        .alias("payload"),
    )


def latest_per_key(df: DataFrame, pk_cols: list[str]) -> DataFrame:
    """Newest change per key (ties broken toward deletes-last is not needed:
    ts_ms is strictly increasing per key in CDC order)."""
    w = Window.partitionBy(*pk_cols).orderBy(F.col("ts_ms").desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


def read_parquet_or_none(spark, path: str, schema=None) -> DataFrame | None:
    """Scan of a parquet state table, or None before its first write.
    Only a genuinely-missing path means 'first batch' — any other read
    failure (partial table after a crash, corrupt footer) re-raises
    instead of silently discarding the state.

    ``schema``: the table's schema (or a subset of its columns) when the
    caller knows it — a sink that writes the table does. Without it
    Spark infers the schema from the footers with one extra Spark job
    per read."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


BUCKETING_FILE = "_bucketing.json"


def _layout(num_buckets: int) -> dict:
    """The bucketing a state table records in ``BUCKETING_FILE``."""
    return {"hash": "murmur3", "num_buckets": num_buckets}


def pk_bucket(pk_cols: list[str], num_buckets: int) -> F.Column:
    """The state tables' partition column: ``pmod(hash(pk), N)``, the
    partition id Spark's ``HashPartitioning(pk, N)`` gives a row
    (Murmur3, seed 42). For every ``n`` dividing ``N``,
    ``pmod(hash(pk), n)`` is ``bucket mod n``, so a shuffle on the key
    into ``n`` partitions puts all rows of a bucket in one task."""
    return F.pmod(F.hash(*[F.col(c) for c in pk_cols]), F.lit(num_buckets))


def merge_partitions(spark, num_buckets: int) -> int:
    """The merge shuffle's partition count: the largest divisor of
    ``num_buckets`` not above ``spark.sql.shuffle.partitions``. AQE never
    coalesces an explicit count, so the merge write runs that many tasks,
    each holding ``num_buckets / n`` whole buckets and writing one file
    per bucket."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(
        d for d in range(1, min(cap, num_buckets) + 1) if num_buckets % d == 0
    )


def check_bucketing(path: str, num_buckets: int) -> None:
    """Refuse a state table laid out with another bucketing: the pruned
    read would look for a key in the wrong bucket and the merge would
    keep its old row next to the new one. The layout is recorded in
    ``<path>/_bucketing.json`` on the first commit (Spark and pyarrow
    skip ``_`` files); ``bucket=`` dirs without it were written with
    ``pmod(xxhash64(pk), B)``, before the marker existed."""
    import json
    import os

    want = _layout(num_buckets)
    try:
        with open(os.path.join(path, BUCKETING_FILE)) as f:
            have = json.load(f)
    except FileNotFoundError:
        if os.path.isdir(path) and any(
            d.startswith("bucket=") for d in os.listdir(path)
        ):
            have = {"hash": "xxhash64", "num_buckets": "unknown"}
        else:
            return
    if have != want:
        raise ValueError(
            f"state table {path} is bucketed as {have}, this sink as "
            f"{want}; rebuild the table (replay its changes into a new "
            "path) to change its bucketing"
        )


def stage_and_swap_buckets(
    path: str, live: DataFrame, touched, num_buckets: int
) -> None:
    """Stage ONLY the touched pk-hash buckets of a state table, then swap
    each bucket dir in: replaced buckets point at the staged write; a
    touched bucket whose keys all vanished has no staged dir → its dir is
    removed. I/O stays O(touched buckets), and the live table is never
    read-and-overwritten in the same job. The first commit records the
    table's bucketing (:func:`check_bucketing`) before any bucket dir
    appears."""
    import json
    import os
    import shutil

    stage = f"{path}__stage"
    shutil.rmtree(stage, ignore_errors=True)
    live.write.mode("overwrite").partitionBy("bucket").parquet(stage)
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, BUCKETING_FILE)
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            json.dump(_layout(num_buckets), f)
    for b in touched:
        src = f"{stage}/bucket={b}"
        dst = f"{path}/bucket={b}"
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(stage, ignore_errors=True)


class ParquetUpsertSink:
    """foreachBatch target: maintains a latest-state parquet table.

    The state table is partitioned by ``pmod(hash(pk), num_buckets)``
    and each batch rewrites ONLY the buckets containing changed keys
    (partition-pruned read of the current state, staged bucket swap).
    With B buckets and a batch touching k of them, merge I/O drops from
    O(table) to O(table·k/B) — the property that keeps continuous
    compaction affordable when the table is 1000× the batch."""

    def __init__(
        self,
        path: str,
        pk_cols: list[str],
        num_buckets: int = 8,
        transform=None,
        retain_tombstones: bool = False,
    ):
        """``transform`` (optional): a DataFrame→DataFrame applied to each
        batch's parsed change rows — every change, not only the newest
        per key — BEFORE the merge. This is the
        incremental-view-maintenance hook (e.g. broadcast-join a dimension
        so the materialized state is the ENRICHED view; work stays
        proportional to the batch, the view is never recomputed from
        scratch).  Must be row-wise (one output row per change row, the
        key, ``op`` and ``ts_ms`` carried through unchanged) and
        deterministic, so that applying it before the newest-per-key
        pick equals applying it after; deletes pass through it too, so
        enrichment joins must be left joins. Its output schema is the
        state table's schema.

        ``retain_tombstones=False`` (default) drops deleted keys at merge
        time — correct ONLY under the per-key in-order arrival a keyed
        Kafka topic guarantees (an out-of-order earlier image arriving
        after the delete would silently resurrect the key).
        ``retain_tombstones=True`` keeps op='d' rows as tombstones, making
        the final state ORDER-INDEPENDENT (global latest per key, however
        the batches were split); readers filter ``op != 'd'`` for the
        live view, and at scale a TTL compaction retires old tombstones."""
        self.path = path
        self.pk_cols = pk_cols
        self.num_buckets = num_buckets
        self.transform = transform
        self.retain_tombstones = retain_tombstones

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        check_bucketing(self.path, self.num_buckets)
        live, touched = self._merged(batch)
        stage_and_swap_buckets(self.path, live, touched, self.num_buckets)

    def _merged(self, batch: DataFrame) -> tuple[DataFrame, list[int]]:
        """One newest-per-key window over (touched state buckets ∪ the
        batch's parsed changes) ranks a key's changes in this batch and
        its stored row together. The state is read with the changes'
        schema, so no inference job runs. The window's input is
        hash-partitioned on the key into :func:`merge_partitions` tasks,
        which satisfies the window's distribution (one exchange)."""
        spark = batch.sparkSession
        changes = parse_change_events(batch, self.pk_cols)
        if self.transform is not None:
            changes = self.transform(changes)
        changes = changes.withColumn(
            "bucket", pk_bucket(self.pk_cols, self.num_buckets)
        )
        touched = [r.bucket for r in changes.select("bucket").distinct().collect()]
        current = read_parquet_or_none(spark, self.path, changes.schema)
        if current is not None:
            changes = current.filter(
                F.col("bucket").isin(touched)  # partition-pruned read
            ).unionByName(changes)
        changes = changes.repartition(
            merge_partitions(spark, self.num_buckets), *self.pk_cols
        )
        live = latest_per_key(changes, self.pk_cols)
        if not self.retain_tombstones:
            live = live.filter(F.col("op") != "d")
        return live, touched


class Scd2IntervalSink:
    """foreachBatch target maintaining an SCD Type-2 HISTORY table — the
    streaming twin of plans/cdc_queries.cdc_scd2_intervals, and the
    history-table counterpart of ParquetUpsertSink's latest-state merge
    (together they are the two standard continuously-maintained CDC
    products; reference MySQLCDC2AWSMSK.scala:95-168 feeds both shapes).

    The interval rows double as the per-key change log (``valid_from``
    IS the change's ts_ms), so each batch can rebuild intervals for
    exactly the keys it touches: read the touched pk-hash buckets
    (partition-pruned), union the batch's parsed changes, drop duplicate
    (pk, ts_ms, op) triples, and re-run the lead() window per key.
    Merge I/O is O(touched buckets); window work is O(touched keys'
    history + batch), never O(table). Because the log is
    content-addressed by (pk, ts_ms, op), the maintained table is both
    retry-IDEMPOTENT and ORDER-INDEPENDENT — any slabbing of the feed,
    including hostile round-robin interleavings, converges to the same
    history (same property the tombstone-retaining latest-state merge
    provides, here for free since history keeps every change)."""

    def __init__(self, path: str, pk_cols: list[str], num_buckets: int = 8):
        self.path = path
        self.pk_cols = pk_cols
        self.num_buckets = num_buckets
        self.batch_ids: list[int] = []

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        check_bucketing(self.path, self.num_buckets)
        self.batch_ids.append(batch_id)
        changes = (
            parse_change_events(batch, self.pk_cols)
            .withColumn("bucket", pk_bucket(self.pk_cols, self.num_buckets))
            .cache()
        )
        touched = [
            r.bucket for r in changes.select("bucket").distinct().collect()
        ]
        if not touched:
            changes.unpersist()
            return
        log = changes.select(
            *self.pk_cols, "op", "ts_ms", "payload", "bucket"
        )
        # the history's (pk, op, valid_from, payload, bucket) columns are
        # the log's own, renamed: read just those with a known schema
        current = read_parquet_or_none(
            spark,
            self.path,
            log.withColumnRenamed("ts_ms", "valid_from").schema,
        )
        if current is not None:
            # a key's whole history lives in its hash bucket, so the
            # pruned read below sees every prior change of every touched
            # key — the window recompute is exact, not incremental-lossy
            log = log.unionByName(
                current.filter(F.col("bucket").isin(touched))
                .withColumnRenamed("valid_from", "ts_ms")
            )
        # hash-partitioned on the key into whole buckets per task; the
        # partitioning satisfies both dropDuplicates and the window
        log = log.repartition(
            merge_partitions(spark, self.num_buckets), *self.pk_cols
        ).dropDuplicates([*self.pk_cols, "ts_ms", "op"])
        # ("ts_ms", "op") tie-break: two ops at the same ts_ms (real in
        # CDC feeds) would otherwise make lead() nondeterministic across
        # runs; mirrored in the cdc_scd2/streaming_scd2 oracles
        w = Window.partitionBy(*self.pk_cols).orderBy("ts_ms", "op")
        valid_to = F.lead("ts_ms").over(w)
        live = log.select(
            *self.pk_cols,
            "op",
            F.col("ts_ms").alias("valid_from"),
            valid_to.alias("valid_to"),
            F.when(valid_to.isNull() & (F.col("op") != "d"), 1)
            .otherwise(0)
            .alias("is_current"),
            "payload",
            "bucket",
        )
        try:
            stage_and_swap_buckets(self.path, live, touched, self.num_buckets)
        finally:
            changes.unpersist()


def start_compaction_stream(
    routed_stream: DataFrame,
    sink: ParquetUpsertSink,
    checkpoint: str,
    available_now: bool = False,
):
    writer = (
        routed_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

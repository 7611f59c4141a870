"""CDC latest-state compaction as a streaming sink (SURVEY.md Part B
CDC-specific row: "latest-row materialization / foreachBatch merge").

Each micro-batch of routed change events is merged into a materialized
table: newest ``ts_ms`` per primary key wins, deletes remove the key —
the streaming twin of plans/cdc_queries.cdc_latest_state.

The local sink is a parquet directory partitioned by pk-hash bucket (the
batch is the unit of atomicity). Each batch is one Spark action: the
batch's changes are parsed in the JVM and hash-partitioned on the key
into :func:`merge_partitions` tasks. The bucket is Spark's own
hash-partition expression over the key, so each task holds whole
buckets. A task folds each bucket it holds in pyarrow: it reads the
bucket's stored rows, merges them with the bucket's changes, and writes
the bucket's new file into a stage directory (:func:`merge_bucket`). The
driver then swaps exactly those buckets in. Work and I/O are
proportional to the touched buckets and the batch, not the table. The
merge tasks write the state files themselves, so the table path must be
visible to the executors as well as to the driver (it is, on a local
master).

``_bucketing.json`` in the table directory records the layout; a sink
whose layout differs refuses the table instead of reading a key's rows
from the wrong bucket. On a production lake the merge becomes a MERGE
INTO against Delta/Iceberg/Hudi, which needs at most one source row per
key: there the batch is first reduced to its newest change per key, then
upserted.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    coalesces an explicit count, so the merge runs that many tasks, each
    holding ``num_buckets / n`` whole buckets and writing one file per
    bucket."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(
        d for d in range(1, min(cap, num_buckets) + 1) if num_buckets % d == 0
    )


def check_bucketing(path: str, num_buckets: int) -> None:
    """Refuse a state table laid out with another bucketing: the merge
    would look for a key in the wrong bucket and keep its old row next to
    the new one. The layout is recorded in ``<path>/_bucketing.json``
    before the first bucket dir appears (Spark and pyarrow skip ``_``
    files); ``bucket=`` dirs without it were written with
    ``pmod(xxhash64(pk), B)``, before the marker existed."""
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


def stage_and_swap_buckets(path: str, num_buckets: int, write_stage) -> dict:
    """Stage the touched pk-hash buckets of a state table, then swap each
    bucket dir in. ``write_stage(stage)`` writes every bucket it rewrites
    to ``<stage>/bucket=<b>/`` and returns ``{b: rows}`` for every bucket
    it touched. A replaced bucket points at its staged dir; a touched
    bucket whose keys all vanished has no staged dir, so its dir is
    removed. The live table is never read and overwritten by the same
    write. The table's bucketing (:func:`check_bucketing`) is recorded
    before any bucket dir appears. Returns ``write_stage``'s counts."""
    stage = f"{path}__stage"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, BUCKETING_FILE)
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            json.dump(_layout(num_buckets), f)
    touched = write_stage(stage)
    for b in touched:
        src = f"{stage}/bucket={b}"
        dst = f"{path}/bucket={b}"
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(stage, ignore_errors=True)
    return touched


# ---- the fold: one bucket's stored rows with its changes, in pyarrow ----

# Stored rows of untouched keys are copied through in row groups of about
# this many rows, so a task never holds a whole bucket.
ROW_GROUP_ROWS = 1 << 17


def _sorted(rows, keys: list[str]):
    """``rows`` stably sorted on ``keys``, ascending, nulls first (Spark's
    ascending order); rows that tie keep their order in ``rows``."""
    import pyarrow.compute as pc

    return rows.take(
        pc.sort_indices(
            rows, [(k, "ascending") for k in keys], null_placement="at_start"
        )
    )


def _starts(rows, keys: list[str]):
    """For rows sorted on ``keys``: whether each row's ``keys`` differ
    from the previous row's (a null equals a null), as a numpy mask."""
    import numpy as np
    import pyarrow.compute as pc

    n = rows.num_rows
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in keys:
        col = rows[k].combine_chunks()
        a, b = col[:-1], col[1:]
        same = pc.or_(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        new[1:] |= ~same.to_numpy(zero_copy_only=False)
    return new


def _ends(starts):
    """Whether each row is the last of its run, given :func:`_starts`."""
    import numpy as np

    ends = np.ones_like(starts)
    ends[:-1] = starts[1:]
    return ends


class UpsertFold:
    """Latest state per key: the newest change of each key wins; deletes
    are dropped unless ``retain_tombstones``. Input and output rows have
    the change schema."""

    # the sort/tie rule: a key's rows sorted on these columns, the last
    # wins; rows that tie keep their order (stored rows, then the batch)
    order = ["ts_ms"]

    def __init__(self, pk_cols: list[str], retain_tombstones: bool = False):
        self.pk_cols = list(pk_cols)
        self.retain_tombstones = retain_tombstones

    def log(self, stored):
        """Stored rows as change rows."""
        return stored

    def __call__(self, rows):
        import pyarrow.compute as pc

        rows = _sorted(rows, [*self.pk_cols, *self.order])
        rows = rows.filter(_ends(_starts(rows, self.pk_cols)))
        if not self.retain_tombstones:
            rows = rows.filter(
                pc.fill_null(pc.not_equal(rows["op"], "d"), True)
            )
        return rows


class Scd2Fold:
    """SCD Type-2 intervals per key over the change log: duplicate
    (pk, ts_ms, op) changes collapse to one, and each change is valid
    until its key's next change. History rows are
    (pk..., op, valid_from, valid_to, is_current, payload)."""

    # the sort/tie rule: a key's changes sorted on these columns; the
    # first of duplicate changes is kept (stored rows, then the batch)
    order = ["ts_ms", "op"]

    def __init__(self, pk_cols: list[str]):
        self.pk_cols = list(pk_cols)

    def log(self, stored):
        """History rows as change rows (``valid_from`` is the ``ts_ms``)."""
        cols = [*self.pk_cols, "op", "valid_from", "payload"]
        return stored.select(cols).rename_columns(
            [*self.pk_cols, "op", "ts_ms", "payload"]
        )

    def __call__(self, rows):
        import pyarrow as pa
        import pyarrow.compute as pc

        rows = _sorted(rows, [*self.pk_cols, *self.order])
        rows = rows.filter(_starts(rows, [*self.pk_cols, *self.order]))
        ts = rows["ts_ms"].combine_chunks()
        next_same = ~_ends(_starts(rows, self.pk_cols))
        valid_to = pc.if_else(
            next_same,
            pa.concat_arrays([ts[1:], pa.nulls(min(len(ts), 1), ts.type)]),
            pa.scalar(None, ts.type),
        )
        is_current = pc.fill_null(
            pc.and_kleene(pc.is_null(valid_to), pc.not_equal(rows["op"], "d")),
            False,
        ).cast(pa.int32())
        return pa.table(
            {
                **{c: rows[c] for c in self.pk_cols},
                "op": rows["op"],
                "valid_from": rows["ts_ms"],
                "valid_to": valid_to,
                "is_current": is_current,
                "payload": rows["payload"],
            }
        )


def _nullable(schema):
    import pyarrow as pa

    return pa.schema([f.with_nullable(True) for f in schema])


def _conform(table, schema):
    """``table`` with ``schema``'s columns, by name and cast to its types;
    a column the table lacks reads as nulls."""
    import pyarrow as pa

    return pa.table(
        [
            table[f.name].cast(f.type)
            if f.name in table.column_names
            else pa.nulls(table.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def _has_key(rows, keys, pk_cols: list[str]):
    """Whether each row's key is one of ``keys``' (a null equals a null).
    Composite keys are coded column by column, each step re-indexed over
    ``keys``' distinct codes so a code never exceeds ``keys``' rows²."""
    import pyarrow as pa
    import pyarrow.compute as pc

    k_code = r_code = None
    for c in pk_cols:
        values = pc.unique(keys[c])
        k = pc.index_in(keys[c], values, skip_nulls=False).cast(pa.int64())
        r = pc.index_in(rows[c], values, skip_nulls=False).cast(pa.int64())
        if k_code is not None:
            k = pc.add(pc.multiply(k_code, len(values)), k)
            r = pc.add(pc.multiply(r_code, len(values)), r)
            codes = pc.unique(k)
            k, r = pc.index_in(k, codes), pc.index_in(r, codes)
        k_code, r_code = k, r
    return pc.is_valid(r_code)


def _data_files(bucket_dir: str) -> list[str]:
    """A bucket dir's data files; a missing dir holds none. Names that
    start with ``_`` or ``.`` (Hadoop ``.crc`` sidecars) are not data."""
    try:
        names = os.listdir(bucket_dir)
    except FileNotFoundError:
        return []
    return [
        os.path.join(bucket_dir, n)
        for n in sorted(names)
        if not n.startswith(("_", "."))
    ]


def merge_bucket(fold, live_dir: str, stage_dir: str, changes) -> int:
    """Fold one bucket: its stored rows in ``live_dir`` with its
    ``changes`` (a pyarrow table of change rows). Writes the bucket's new
    state as one parquet file in ``stage_dir`` and returns its row count;
    a bucket left empty writes nothing.

    Stored rows of keys the batch does not touch are copied through, one
    row group at a time; only the touched keys' stored rows are held, then
    folded with the changes. Pages are written with checksums and
    verified on read, so a corrupt state page fails the merge."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    changes = changes.cast(_nullable(changes.schema))
    schema = _nullable(fold(changes.schema.empty_table()).schema)
    shutil.rmtree(stage_dir, ignore_errors=True)  # a failed attempt's file
    writer, pending, written = None, [], 0

    def emit(part, last=False):
        nonlocal writer, written
        pending.append(part)
        held = sum(t.num_rows for t in pending)
        if held and (last or held >= ROW_GROUP_ROWS):
            if writer is None:
                os.makedirs(stage_dir)
                writer = pq.ParquetWriter(
                    f"{stage_dir}/part-{uuid.uuid4().hex}.parquet",
                    schema,
                    write_page_checksum=True,
                )
            writer.write_table(pa.concat_tables(pending), held)  # one row group
            written += held
            pending.clear()

    touched = []
    for path in _data_files(live_dir):
        stored = pq.ParquetFile(
            path,
            page_checksum_verification=True,
            coerce_int96_timestamp_unit="us",
        )
        for i in range(stored.num_row_groups):
            part = _conform(stored.read_row_group(i), schema)
            hit = _has_key(part, changes, fold.pk_cols)
            touched.append(fold.log(part.filter(hit)))
            emit(part.filter(pc.invert(hit)))
    emit(fold(pa.concat_tables([*touched, changes])), last=True)
    if writer is not None:
        writer.close()
    return written


def _fold_buckets(fold, path: str, stage: str, batches):
    """``mapInArrow`` body of a merge task: group the task's change rows
    by bucket, fold each bucket (:func:`merge_bucket`) and yield one
    ``(bucket, rows)`` row per bucket."""
    from ..operators.route import _drop_spark_zip_importers

    _drop_spark_zip_importers()
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    changes = pa.Table.from_batches(batches)
    bucket = changes["bucket"]
    changes = changes.drop_columns(["bucket"])
    for b in pc.unique(bucket).to_pylist():
        rows = merge_bucket(
            fold,
            f"{path}/bucket={b}",
            f"{stage}/bucket={b}",
            changes.filter(pc.equal(bucket, b)),
        )
        yield pa.RecordBatch.from_pydict(
            {"bucket": [b], "rows": [rows]},
            schema=pa.schema([("bucket", pa.int32()), ("rows", pa.int64())]),
        )


class _BucketMergeSink:
    """A foreachBatch target folding each batch's changes into a
    pk-hash-bucketed parquet table in one Spark action. ``last_commit``
    holds the last batch's id and ``{bucket: rows}`` of every bucket it
    rewrote (0 rows: the bucket's dir was removed)."""

    def __init__(self, path: str, pk_cols: list[str], num_buckets: int, fold):
        self.path = path
        self.pk_cols = pk_cols
        self.num_buckets = num_buckets
        self.fold = fold
        self.last_commit: dict | None = None

    def _changes(self, batch: DataFrame) -> DataFrame:
        return parse_change_events(batch, self.pk_cols)

    def _merged(self, batch: DataFrame, stage: str) -> DataFrame:
        """The merge action: the batch's changes, bucketed and
        hash-partitioned on the key into whole buckets per task, folded
        by :func:`_fold_buckets` into ``stage``; one
        ``(bucket, rows)`` row per touched bucket."""
        spark = batch.sparkSession
        changes = self._changes(batch).withColumn(
            "bucket", pk_bucket(self.pk_cols, self.num_buckets)
        )
        return changes.repartition(
            merge_partitions(spark, self.num_buckets), *self.pk_cols
        ).mapInArrow(
            functools.partial(
                _fold_buckets,
                self.fold,
                os.path.abspath(self.path),
                os.path.abspath(stage),
            ),
            "bucket int, rows long",
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        check_bucketing(self.path, self.num_buckets)
        counts = stage_and_swap_buckets(
            self.path,
            self.num_buckets,
            lambda stage: {
                r.bucket: r.rows for r in self._merged(batch, stage).collect()
            },
        )
        self.last_commit = {"batch_id": batch_id, "buckets": counts}


class ParquetUpsertSink(_BucketMergeSink):
    """foreachBatch target: maintains a latest-state parquet table.

    The state table is partitioned by ``pmod(hash(pk), num_buckets)``
    and each batch rewrites ONLY the buckets containing changed keys.
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
        super().__init__(
            path, pk_cols, num_buckets, UpsertFold(pk_cols, retain_tombstones)
        )
        self.transform = transform

    def _changes(self, batch: DataFrame) -> DataFrame:
        changes = super()._changes(batch)
        if self.transform is not None:
            changes = self.transform(changes)
        return changes


class Scd2IntervalSink(_BucketMergeSink):
    """foreachBatch target maintaining an SCD Type-2 HISTORY table — the
    streaming twin of plans/cdc_queries.cdc_scd2_intervals, and the
    history-table counterpart of ParquetUpsertSink's latest-state merge
    (together they are the two standard continuously-maintained CDC
    products; reference MySQLCDC2AWSMSK.scala:95-168 feeds both shapes).

    The interval rows double as the per-key change log (``valid_from``
    IS the change's ts_ms), so each batch can rebuild intervals for
    exactly the keys it touches: a key's whole history lives in its hash
    bucket, so each merge task reads the touched keys' history from their
    buckets, adds the batch's changes, drops duplicate (pk, ts_ms, op)
    triples, and re-derives each change's ``valid_to`` from its key's
    next change (:class:`Scd2Fold`). Merge I/O is O(touched buckets);
    fold work is O(touched keys' history + batch), never O(table).
    Because the log is content-addressed by (pk, ts_ms, op), the
    maintained table is both retry-IDEMPOTENT and ORDER-INDEPENDENT —
    any slabbing of the feed, including hostile round-robin
    interleavings, converges to the same history (same property the
    tombstone-retaining latest-state merge provides, here for free since
    history keeps every change)."""

    def __init__(self, path: str, pk_cols: list[str], num_buckets: int = 8):
        super().__init__(path, pk_cols, num_buckets, Scd2Fold(pk_cols))
        self.batch_ids: list[int] = []

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self.batch_ids.append(batch_id)
        super().__call__(batch, batch_id)


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

"""Cross-batch streaming near-duplicate filtering (LLM-pipeline × CDC).

``dropDuplicatesWithinWatermark`` handles EXACT keys inside a watermark
horizon. A training-data ingest needs more: NEAR-duplicate suppression
against everything already admitted, unbounded lookback. This module
implements it as a foreachBatch stage over a persistent MinHash signature
store:

  per micro-batch:
    1. signature the incoming docs (map-side MinHash, operators/dedup.py)
    2. band-join them against the stored signature table → cross-batch
       candidates; verify with exact hashed-unit Jaccard against the
       persisted unit-set rows
    3. self-join the survivors' bands → batch-internal candidates;
       verify the same way (keep the lowest id of each near-dup group)
    4. append admitted docs' state; emit admitted docs

At scale the store is the natural bottleneck — it is read via its band
columns only (narrow projection) and grows by admitted docs only. The
band join is linear in batch×store collision count, never batch×store.

State layout (round 6, "unified"): ONE parquet root per filter,
``store_path/batch_id=N/kind={band,set}`` —

  kind=band : (id, band, bucket)   — the LSH candidate index
  kind=set  : (id, toks)          — hashed unit-sets, the verify sidecar

``kind`` is a partition directory, so each consumer's scan is pruned to
its own files and parquet's columnar projection keeps the band read
narrow; both kinds are written in ONE job per batch.  Verify joins
candidates against the kind=set rows directly — per-batch verify work is
O(candidate pairs), NOT a re-tokenization of the admitted corpus.  At
cluster scale the state can additionally be bucketed by id so the
candidate join co-locates without a shuffle.

Per-batch fixed cost (the round-8 profile, PERF.md §20a): the round-6/7
code spent ~+3 s/batch at the sfx1 working set over the round-5 shape;
phase-level attribution put ~1.4 s/batch in a per-batch candidate-volume
ESTIMATE job (full store scan + groupBy, growing with the corpus) and
~0.6 s/batch in each unconditional pre-verify repartition.  Round 8
removes the estimate job entirely and gates the explosion-insurance
repartition on the PREVIOUS batch's observed candidate count — an
``Observation`` (CollectMetrics) node on the candidate relations, which
costs ZERO extra jobs and never scans the store.  The text filter's
default restores the round-5 fast path for ordinary batches; the vector
filter insures unconditionally (its sfx1 working set explodes every
batch — PERF.md §20).

Stores written by rounds 4–5 (separate ``<store_path>_sets`` /
``<store_path>_vecs`` sidecar tables, or pre-sidecar band-only stores)
are migrated once with :func:`backfill_unified_state` — new code detects
the legacy layout and fails fast with a pointer rather than silently
admitting near-duplicates.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _unit_sets, minhash_signatures


def _spread(batch: DataFrame, par: int) -> DataFrame:
    """Repartition a severely under-partitioned micro-batch (a single
    file / topic partition) so per-row-expensive map-side work
    parallelizes; leave already-spread batches alone — the exchange
    costs ~0.7s/batch at the sfx1 working set and buys nothing past ~8
    partitions.  Used by the VECTOR filter, whose hyperplane bucketing
    and fold-cosine verify are interpreted higher-order functions (the
    PERF.md §20 5× one-partition trap); the text filter's minhash is
    whole-stage-codegen'd and uses the zero-job stats-based spread
    instead."""
    if batch.rdd.getNumPartitions() < min(8, par):
        return batch.repartition(par)
    return batch


def _stats_partitions(
    df: DataFrame, par: int, bytes_per_partition: int
) -> int:
    """Zero-job spread target from Catalyst statistics (driver-side).
    A relation with unknown size reports ``defaultSizeInBytes`` (huge)
    and spreads to full parallelism — the safe direction for the
    one-partition-arrival trap (PERF.md §18)."""
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    return max(1, min(par, size // bytes_per_partition))


def _observed_count(obs: Observation | None) -> int:
    """Non-blocking read of an Observation's single count metric.

    AQE's empty-relation propagation can eliminate a CollectMetrics node
    wholesale (empty batch, empty store) — ``Observation.get`` would
    block forever on that — so probe the underlying Scala handle's
    ``getRowOrEmpty`` and treat "never executed" as 0."""
    if obs is None or obs._jo is None:
        return 0
    opt = obs._jo.getRowOrEmpty()
    if opt.isEmpty():
        return 0
    row = opt.get()
    # An eliminated node can also surface as a present-but-FIELDLESS
    # metrics row (Some([])) — same meaning: nothing flowed.
    if row.length() == 0:
        return 0
    return int(row.getLong(0))


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Scan of a state table, or None if it genuinely doesn't exist yet.
    Any other read failure re-raises — a partial/corrupt store must fail
    the batch (and be retried), not silently admit near-duplicates."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            # only empty batch dirs so far (a batch can admit zero docs)
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def _banded(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    rows = num_hashes // bands
    entries = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * rows, (b + 1) * rows)]
        entries.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket"))
        )
    return sigs.select(
        "id", F.explode_outer(F.array(*entries)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _null_like(df: DataFrame, col: str) -> F.Column:
    """NULL literal with ``df[col]``'s exact type (for union-schema rows)."""
    return F.lit(None).cast(df.schema[col].dataType)


def _check_unified(state: DataFrame | None, store_path: str) -> None:
    if state is not None and "kind" not in state.columns:
        # Half-present or legacy state must FAIL the batch — silently
        # skipping the cross-batch verify would admit near-duplicates.
        raise ValueError(
            f"legacy near-dup state layout at {store_path} (no kind= "
            "partition): run streaming.dedup_stream.backfill_unified_state "
            "once to migrate a round-4/5 text or vector store (including "
            "pre-sidecar stores, whose unit-sets / vectors are re-derived "
            "from out_path)"
        )


class StreamingNearDupFilter:
    """foreachBatch target: admit only docs that are not near-dups of any
    previously admitted doc (or of an earlier doc in the same batch).

    ``store_path`` holds the unified state (kind=band candidate index +
    kind=set verify sidecar, see module docstring); ``out_path``
    accumulates admitted (id, text) rows.

    Explosion insurance (``spread_min_candidates``): on a
    boilerplate-heavy corpus, identical-content clusters explode the
    LSH candidate-pair count to millions per batch, and AQE's BYTE-size
    shuffle coalescing (narrow pair rows compress brutally) then funnels
    the verify into 1–4 partitions and serializes it (PERF.md §20).  An
    explicit pre-verify ``repartition`` prevents that but costs a real
    exchange (~0.6 s/batch at sfx1, §20a) on ordinary batches.  The gate
    is LAGGED and free: each batch observes its candidate count via a
    CollectMetrics node (zero extra jobs), and the NEXT batch insures
    iff the last observed count reached the threshold.  The first
    exploding batch of a stream therefore runs unguarded — acceptable
    for the text filter, whose codegen'd Jaccard verify degrades
    gracefully; set ``spread_min_candidates=0`` to insure every batch
    (the vector filter's default — its interpreted fold-cosine verify
    does not degrade gracefully, §20).
    """

    def __init__(
        self,
        store_path: str,
        out_path: str,
        threshold: float = 0.8,
        num_hashes: int = 32,
        bands: int = 8,
        ngram: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        spread_min_candidates: int = 262_144,
        spread_bytes_per_partition: int = 32 << 20,
    ):
        self.store_path = store_path
        self.out_path = out_path
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.ngram = ngram
        self.text_col = text_col
        self.id_col = id_col
        self.spread_min_candidates = spread_min_candidates
        # Zero-job batch spread: repartition only when Catalyst stats say
        # the batch is big AND it arrived under-partitioned (a restarted
        # filter starts conservative: stats, not history, decide).
        self.spread_bytes_per_partition = spread_bytes_per_partition
        self._last_candidates = 0  # lagged observation, see class doc

    def _insure(self) -> bool:
        return (
            self.spread_min_candidates == 0
            or self._last_candidates >= self.spread_min_candidates
        )

    def _jaccard_ok(self, pairs: DataFrame, sets1: DataFrame, sets2: DataFrame) -> DataFrame:
        """pairs(id1,id2,...) → those with jaccard >= threshold (near-dups),
        pair columns preserved.

        The ratio is rounded to 6 decimals before the compare so the
        admit/reject boundary is bit-identical to the batch operator
        (jaccard_pairs) and the DuckDB oracle, both of which round — an
        exact jaccard in [threshold - 5e-7, threshold) must classify the
        same way everywhere."""
        return (
            pairs.join(
                sets1.withColumnsRenamed({"id": "id1", "toks": "toks1"}), "id1"
            )
            .join(sets2.withColumnsRenamed({"id": "id2", "toks": "toks2"}), "id2")
            .filter(
                F.round(
                    F.size(F.array_intersect("toks1", "toks2"))
                    / F.size(F.array_union("toks1", "toks2")),
                    6,
                )
                >= self.threshold
            )
            .select(*pairs.columns)
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        par = spark.sparkContext.defaultParallelism
        batch = batch.select(self.id_col, self.text_col)
        tgt = _stats_partitions(batch, par, self.spread_bytes_per_partition)
        if tgt > 1 and batch.rdd.getNumPartitions() < tgt:
            batch = batch.repartition(tgt)
        batch = batch.cache()
        sigs = minhash_signatures(
            batch, self.num_hashes, self.text_col, self.id_col, self.ngram
        )
        banded = _banded(sigs, self.num_hashes, self.bands).cache()
        sets = _unit_sets(
            batch, self.text_col, self.id_col, self.ngram, hashed=True
        ).cache()

        # --- ONE state read.  Rows from THIS batch_id are excluded: on a
        # foreachBatch retry the store already holds the failed attempt's
        # output, and without the exclusion every doc would match itself
        # and be rejected.
        state = _read_or_none(spark, self.store_path)
        _check_unified(state, self.store_path)
        store = stored_sets = None
        if state is not None:
            state = state.filter(F.col("batch_id") != F.lit(batch_id))
            store = state.filter(F.col("kind") == "band").select(
                "id", "band", "bucket"
            )
            stored_sets = state.filter(F.col("kind") == "set").select(
                "id", "toks"
            )

        insure = self._insure()
        obs_cross = obs_intra = None
        # --- cross-batch: candidates vs the persistent store, verified
        # against the persisted unit-sets — the join touches only
        # candidate ids' rows, so per-batch verify work is O(candidates),
        # independent of how much has been admitted.
        dup_vs_store = None
        if store is not None:
            cand = (
                banded.alias("n")
                .join(
                    store.alias("s"),
                    (F.col("n.band") == F.col("s.band"))
                    & (F.col("n.bucket") == F.col("s.bucket")),
                )
                .select(F.col("n.id").alias("id1"), F.col("s.id").alias("id2"))
                .distinct()
            )
            obs_cross = Observation()
            cand = cand.observe(obs_cross, F.count(F.lit(1)).alias("pairs"))
            if insure:
                cand = cand.repartition(par)
            dup_vs_store = self._jaccard_ok(
                cand, sets, stored_sets
            ).select(F.col("id1").alias("id"))
        survivors = (
            batch.join(
                dup_vs_store,
                F.col(self.id_col) == dup_vs_store["id"],
                "left_anti",
            )
            if dup_vs_store is not None
            else batch
        )

        # --- batch-internal: keep the lowest id of each near-dup group
        sb = banded.join(
            survivors.select(F.col(self.id_col).alias("id")), "id"
        )
        internal = (
            sb.alias("x")
            .join(
                sb.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("id1"), F.col("y.id").alias("id2"))
            .distinct()
        )
        obs_intra = Observation()
        internal = internal.observe(
            obs_intra, F.count(F.lit(1)).alias("pairs")
        )
        if insure:
            internal = internal.repartition(par)
        internal_dups = self._jaccard_ok(internal, sets, sets).select(
            F.col("id2").alias("id")  # the higher id of each pair drops
        ).distinct()
        admitted = survivors.join(
            internal_dups,
            F.col(self.id_col) == internal_dups["id"],
            "left_anti",
        ).cache()

        # --- persist: admitted docs in one job; band rows + unit-sets in
        # ONE kind-partitioned job (reusing the already-computed
        # banded/sets frames — no extra tokenization pass). Each batch
        # owns a batch_id= subdirectory written with overwrite semantics,
        # so a RETRIED batch replaces its own prior output instead of
        # appending duplicate rows (foreachBatch gives at-least-once
        # invocation; idempotent writes restore effective exactly-once).
        admitted.write.mode("overwrite").parquet(
            f"{self.out_path}/batch_id={batch_id}"
        )
        admitted_ids = admitted.select(F.col(self.id_col).alias("id"))
        band_rows = banded.join(admitted_ids, "id").select(
            "id", "band", "bucket",
            _null_like(sets, "toks").alias("toks"),
            F.lit("band").alias("kind"),
        )
        set_rows = sets.join(admitted_ids, "id").select(
            "id",
            _null_like(banded, "band").alias("band"),
            _null_like(banded, "bucket").alias("bucket"),
            "toks",
            F.lit("set").alias("kind"),
        )
        band_rows.unionByName(set_rows).write.partitionBy("kind").mode(
            "overwrite"
        ).parquet(f"{self.store_path}/batch_id={batch_id}")

        # Lagged gate input for the NEXT batch — both observed nodes ran
        # inside the admitted-write job, so the reads are non-blocking.
        self._last_candidates = _observed_count(obs_cross) + _observed_count(
            obs_intra
        )

        for df in (admitted, sets, banded, batch):
            df.unpersist()


class StreamingVectorNearDupFilter:
    """foreachBatch target: the EMBEDDING twin of StreamingNearDupFilter —
    admit only vectors that are not near-dups (cosine ≥ threshold) of any
    previously admitted vector, unbounded lookback.

    State (unified layout, see module docstring): ``store_path`` holds
    kind=bucket rows (id, table, bucket) — hyperplane-LSH with portable
    md5-parity planes, so an external SQL engine re-derives the buckets —
    and kind=vec rows (id, v), the raw double vectors read per candidate
    (verify work bounded by candidate rows, never the admitted corpus).
    ``out_path`` accumulates admitted (id, vector) rows.

    ``spread_min_candidates`` defaults to 0 — insure EVERY batch.  The
    verify is an interpreted fold-cosine (no whole-stage codegen), so a
    single serialized explosion batch costs ~20 s at the sfx1 working
    set (PERF.md §20) — far more than the ~0.6 s/batch the insurance
    exchange costs; a corpus of known-ordinary batches can raise the
    threshold to get the text filter's lagged-adaptive behavior."""

    def __init__(
        self,
        store_path: str,
        out_path: str,
        threshold: float = 0.3,
        n_planes: int = 4,
        n_tables: int = 8,
        dims: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        spread_min_candidates: int = 0,
    ):
        self.store_path = store_path
        self.out_path = out_path
        self.threshold = threshold
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.dims = dims
        self.id_col = id_col
        self.vec_col = vec_col
        self.spread_min_candidates = spread_min_candidates
        self._last_candidates = 0

    def _insure(self) -> bool:
        return (
            self.spread_min_candidates == 0
            or self._last_candidates >= self.spread_min_candidates
        )

    def _cos_ok(self, pairs: DataFrame, v1: DataFrame, v2: DataFrame) -> DataFrame:
        """pairs(id1,id2,...) → those with round(cosine,6) >= threshold,
        pair columns preserved.  Rounded before the compare so the admit
        boundary is bit-identical to the batch operator
        (lsh_near_dup_pairs) and the oracle.

        r12 (guide §2.3): per-vector norms computed once per side
        relation, not re-derived per candidate pair — a vector that
        appears in k pairs prices its norm once, and the per-pair
        filter pays only the dot. Same doubles, same fold order: the
        rounded cosine (cosine = dot/(norm·norm)) is bit-identical.

        Zero-norm vectors are dropped before the divide: they pair with
        nothing, as in the batch verify (NaN) and the oracle (NULL), and
        ANSI mode would otherwise fail the batch on 0/0."""
        from ..operators.similarity import dot, norm

        s1 = (
            v1.withColumnsRenamed({"id": "id1", "v": "v1"})
            .withColumn("_n1", norm(F.col("v1")))
            .filter(F.col("_n1") > 0)
        )
        s2 = (
            v2.withColumnsRenamed({"id": "id2", "v": "v2"})
            .withColumn("_n2", norm(F.col("v2")))
            .filter(F.col("_n2") > 0)
        )
        return (
            pairs.join(s1, "id1")
            .join(s2, "id2")
            .filter(
                F.round(
                    dot(F.col("v1"), F.col("v2"))
                    / (F.col("_n1") * F.col("_n2")),
                    6,
                )
                >= self.threshold
            )
            .select(*pairs.columns)
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import (
            _arrow_wide_entries,
            _explode_tables,
        )

        spark = batch.sparkSession
        # Spread the batch across the session's cores first so the
        # Arrow bucketing stage below parallelizes (the PERF.md §18/§20
        # single-partition-arrival trap).
        par = spark.sparkContext.defaultParallelism
        batch = _spread(
            batch.select(self.id_col, self.vec_col), par
        ).cache()
        # r13: ONE vectorized Arrow pass computes the float→double
        # cast, the norm and all T·P hyperplane projections in numpy —
        # bit-identical to the fold-form bucketing this replaced (see
        # _arrow_wide_entries; the r12 fold form paid ~6 plan nodes ×
        # 32 interpreted projections per batch plus a separate
        # as_double projection + cache for the vector sidecar).
        # localCheckpoint, not cache: a cached DataFrame still SHIPS
        # its full lineage in every downstream task closure and
        # re-enters Catalyst analysis per action (r12 event log at
        # sf0.1: 245 s of inter-job driver gap + 153 s task deserialize
        # in ONE store write stage, all re-chewing the bucketing
        # subtree — guide §2 "materialising an intermediate truncates
        # the plan", §5). Eager, so the Arrow stage is paid exactly
        # once per batch, in its own small job.
        # bound: |batch| rows (wide, pre-explode), replaced per batch.
        wide = _arrow_wide_entries(
            batch,
            self.n_planes,
            self.n_tables,
            self.id_col,
            self.vec_col,
            dims=self.dims,
        ).localCheckpoint(eager=True)
        buckets = _explode_tables(wide, self.n_tables, ["id"])
        vecs = wide.select("id", "v")

        state = _read_or_none(spark, self.store_path)
        _check_unified(state, self.store_path)
        store = stored_vecs = None
        if state is not None:
            state = state.filter(F.col("batch_id") != F.lit(batch_id))
            store = state.filter(F.col("kind") == "bucket").select(
                "id", "table", "bucket"
            )
            stored_vecs = state.filter(F.col("kind") == "vec").select(
                "id", "v"
            )

        insure = self._insure()
        obs_cross = obs_intra = None
        dup_vs_store = None
        if store is not None:
            cand = (
                buckets.alias("n")
                .join(
                    store.alias("s"),
                    (F.col("n.table") == F.col("s.table"))
                    & (F.col("n.bucket") == F.col("s.bucket")),
                )
                .select(F.col("n.id").alias("id1"), F.col("s.id").alias("id2"))
                .distinct()
            )
            obs_cross = Observation()
            cand = cand.observe(obs_cross, F.count(F.lit(1)).alias("pairs"))
            if insure:
                cand = cand.repartition(par)
            dup_vs_store = self._cos_ok(cand, vecs, stored_vecs).select(
                F.col("id1").alias("id")
            )
        survivors = (
            batch.join(
                dup_vs_store,
                F.col(self.id_col) == dup_vs_store["id"],
                "left_anti",
            )
            if dup_vs_store is not None
            else batch
        )

        sb = buckets.join(
            survivors.select(F.col(self.id_col).alias("id")), "id"
        )
        internal = (
            sb.alias("x")
            .join(
                sb.alias("y"),
                (F.col("x.table") == F.col("y.table"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("id1"), F.col("y.id").alias("id2"))
            .distinct()
        )
        obs_intra = Observation()
        internal = internal.observe(
            obs_intra, F.count(F.lit(1)).alias("pairs")
        )
        if insure:
            internal = internal.repartition(par)
        internal_dups = (
            self._cos_ok(internal, vecs, vecs)
            .select(F.col("id2").alias("id"))
            .distinct()
        )
        admitted = survivors.join(
            internal_dups,
            F.col(self.id_col) == internal_dups["id"],
            "left_anti",
        ).cache()

        admitted.write.mode("overwrite").parquet(
            f"{self.out_path}/batch_id={batch_id}"
        )
        admitted_ids = admitted.select(F.col(self.id_col).alias("id"))
        bucket_rows = buckets.join(admitted_ids, "id").select(
            "id", "table", "bucket",
            _null_like(vecs, "v").alias("v"),
            F.lit("bucket").alias("kind"),
        )
        vec_rows = vecs.join(admitted_ids, "id").select(
            "id",
            _null_like(buckets, "table").alias("table"),
            _null_like(buckets, "bucket").alias("bucket"),
            "v",
            F.lit("vec").alias("kind"),
        )
        bucket_rows.unionByName(vec_rows).write.partitionBy("kind").mode(
            "overwrite"
        ).parquet(f"{self.store_path}/batch_id={batch_id}")

        self._last_candidates = _observed_count(obs_cross) + _observed_count(
            obs_intra
        )

        for df in (admitted, batch):
            df.unpersist()
        # vecs/buckets are cheap selects over the checkpointed wide
        # relation — nothing of theirs is cached; the checkpoint RDD
        # itself is dropped when `wide` goes out of scope


class StreamingPhashNearDupFilter:
    """foreachBatch target: the PERCEPTUAL-IMAGE member of the streaming
    near-dup family (text/minhash, vector/LSH, substring/tile — and now
    media/pHash): admit only assets whose 63-bit DCT pHash is not within
    hamming ``PHASH_HAM_MAX`` of any previously admitted asset's,
    unbounded lookback.

    Input batches carry ``(id_col, payload_col)`` — REAL image bytes
    (PNG/PPM, sniffed per payload by ``functions.phash.image_phash63``);
    the decode+hash is one Arrow stage over the arriving batch only.

    Simpler state than the text/vector twins, by construction: a band
    row carries the FULL hash alongside its 9-bit band value (7 rows ×
    three longs per admitted asset), so candidate verification is a
    codegen'd ``bit_count(xor(h1, h2))`` on the join row itself — no
    sidecar relation, no second join, no interpreted fold. And because
    7 bands pigeonhole-guarantee recall at hamming ≤ 6, banded-candidates
    + hamming verify IS the exact pair set — the admission replayed by
    the oracle is exact operator semantics, not an LSH approximation.
    Store layout: ``store_path/batch_id=N`` parquet dirs of
    (id, band, band_v, h) — append-only per admitted id, compactable by
    ``store_maint.compact_store`` like the sibling stores."""

    def __init__(
        self,
        store_path: str,
        out_path: str,
        ham_max: int | None = None,
        id_col: str = "media_id",
        payload_col: str = "payload",
    ):
        from ..functions.phash import PHASH_HAM_MAX

        self.store_path = store_path
        self.out_path = out_path
        self.ham_max = PHASH_HAM_MAX if ham_max is None else ham_max
        self.id_col = id_col
        self.payload_col = payload_col

    def _bands(self, hashed: DataFrame) -> DataFrame:
        """(id, h) → 7 rows (id, band, band_v, h) — the in-row band
        explode shared with the batch operator (phash_band_pairs)."""
        from ..functions.phash import PHASH_BAND_BITS, PHASH_BANDS

        mask = (1 << PHASH_BAND_BITS) - 1
        return hashed.select(
            "id",
            "h",
            F.explode(
                F.array(*[F.lit(b) for b in range(PHASH_BANDS)])
            ).alias("band"),
        ).withColumn(
            "band_v",
            F.expr(f"shiftright(h, {PHASH_BAND_BITS} * band) & {mask}"),
        )

    def _ham_ok(self, pairs: DataFrame) -> DataFrame:
        return pairs.filter(
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
            <= self.ham_max
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from ..functions.phash import image_phash63

        spark = batch.sparkSession
        # spread BEFORE the decode UDF: the per-asset inflate+DCT is the
        # batch's real compute, and file-source arrivals land in 1-2
        # partitions (the §18/§20 serialization trap)
        par = spark.sparkContext.defaultParallelism
        batch = _spread(
            batch.select(self.id_col, self.payload_col), par
        ).cache()
        hashed = batch.select(
            F.col(self.id_col).alias("id"),
            image_phash63(F.col(self.payload_col)).alias("h"),
        ).cache()
        bands = self._bands(hashed).cache()

        state = _read_or_none(spark, self.store_path)
        dup_vs_store = None
        if state is not None:
            store = state.filter(
                F.col("batch_id") != F.lit(batch_id)
            ).select("id", "band", "band_v", "h")
            dup_vs_store = (
                self._ham_ok(
                    bands.alias("n")
                    .join(
                        store.alias("s"),
                        (F.col("n.band") == F.col("s.band"))
                        & (F.col("n.band_v") == F.col("s.band_v")),
                    )
                    .select(
                        F.col("n.id").alias("id1"),
                        F.col("s.id").alias("id2"),
                        F.col("n.h").alias("h1"),
                        F.col("s.h").alias("h2"),
                    )
                    .distinct()
                )
                .select(F.col("id1").alias("id"))
                .distinct()
            )
        survivors = (
            hashed.join(dup_vs_store, "id", "left_anti")
            if dup_vs_store is not None
            else hashed
        )

        sb = bands.join(survivors.select("id"), "id")
        internal_dups = (
            self._ham_ok(
                sb.alias("x")
                .join(
                    sb.alias("y"),
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.band_v") == F.col("y.band_v"))
                    & (F.col("x.id") < F.col("y.id")),
                )
                .select(
                    F.col("x.id").alias("id1"),
                    F.col("y.id").alias("id2"),
                    F.col("x.h").alias("h1"),
                    F.col("y.h").alias("h2"),
                )
                .distinct()
            )
            .select(F.col("id2").alias("id"))
            .distinct()
        )
        admitted = survivors.join(internal_dups, "id", "left_anti").cache()

        admitted.select(
            F.col("id").alias(self.id_col), "h"
        ).write.mode("overwrite").parquet(
            f"{self.out_path}/batch_id={batch_id}"
        )
        bands.join(admitted.select("id"), "id").write.mode(
            "overwrite"
        ).parquet(f"{self.store_path}/batch_id={batch_id}")

        for df in (admitted, bands, hashed, batch):
            df.unpersist()


def backfill_unified_state(
    spark: SparkSession,
    store_path: str,
    out_path: str | None = None,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> None:
    """One-time migration of a round-4/5 near-dup store (TEXT or VECTOR
    — auto-detected from the legacy schema) to the unified layout.

    Legacy layouts handled:
      * TEXT band store at ``store_path`` + unit-set sidecar at
        ``<store_path>_sets`` (round 5) — both re-staged as kind= rows;
      * pre-sidecar band-only TEXT store (round 4): the unit-sets are
        RE-DERIVED from the admitted (id, text) rows at ``out_path`` via
        the same ``_unit_sets`` the filter uses, so a store checkpointed
        before the sidecar existed can resume instead of failing fast;
      * VECTOR bucket store (``(id, table, bucket)`` rows) + raw-vector
        sidecar at ``<store_path>_vecs`` — re-staged as
        kind=bucket/kind=vec rows; a pre-sidecar vector store re-derives
        the vectors from ``out_path``'s admitted (id, vector) rows via
        the same ``as_double`` cast the filter stores.

    ``id_col``/``text_col`` (text) and ``id_col``/``vec_col`` (vector)
    name the admitted table's columns for the pre-sidecar re-derivation;
    the signature's defaults are the text filter's names, so the vector
    path additionally tries the vector filter's default id (``vec_id``)
    before failing.  Failure is symmetric: any column that resolves
    neither way raises immediately, naming what's missing — never a
    silent guess.

    Stages the rewrite next to the store and swaps directories only after
    the full write succeeds, so a crashed migration leaves the legacy
    store intact (re-run it).  The swap itself is ``os.rename`` +
    ``shutil.rmtree`` — LOCAL-FILESYSTEM ONLY (including NFS/EBS-backed
    checkpoints).  On object storage run the migration against a local
    staging copy, or replace the swap with the Hadoop FileSystem
    ``rename``/``delete`` of your store's scheme — the staged write is
    already complete at that point, so the swap is the only part that
    needs porting.
    """
    legacy = spark.read.parquet(store_path)
    if "kind" in legacy.columns:
        return  # already unified
    if "table" in legacy.columns:  # vector store: (id, table, bucket)
        from ..operators.similarity import as_double

        sets_path = store_path + "_vecs"
        vecs = _read_or_none(spark, sets_path)
        if vecs is None:
            if out_path is None:
                raise ValueError(
                    "pre-sidecar vector store and no out_path to derive "
                    "vectors from"
                )
            admitted = spark.read.parquet(out_path)
            # The signature's defaults are the TEXT filter's names; for a
            # vector store fall back to the vector filter's default id
            # column.  Unresolvable columns raise, naming what's missing
            # — the same failure either side, never a silent guess.
            idc = (
                id_col
                if id_col in admitted.columns
                else ("vec_id" if "vec_id" in admitted.columns else None)
            )
            if idc is None or vec_col not in admitted.columns:
                missing = vec_col if idc is not None else id_col
                raise ValueError(
                    f"pre-sidecar vector migration: column {missing!r} "
                    f"not in admitted table {out_path} (columns: "
                    f"{admitted.columns}); pass id_col=/vec_col="
                )
            vecs = admitted.select(
                F.col(idc).alias("id"),
                as_double(vec_col).alias("v"),
                "batch_id",
            )
        unified = legacy.select(
            "id", "table", "bucket",
            _null_like(vecs, "v").alias("v"),
            F.lit("bucket").alias("kind"),
            "batch_id",
        ).unionByName(
            vecs.select(
                "id",
                _null_like(legacy, "table").alias("table"),
                _null_like(legacy, "bucket").alias("bucket"),
                "v",
                F.lit("vec").alias("kind"),
                "batch_id",
            )
        )
    else:  # text store: (id, band, bucket)
        sets_path = store_path + "_sets"
        sets = _read_or_none(spark, sets_path)
        if sets is None:
            if out_path is None:
                raise ValueError(
                    "pre-sidecar store and no out_path to derive "
                    "unit-sets from"
                )
            admitted = spark.read.parquet(out_path)
            for c in (id_col, text_col):
                if c not in admitted.columns:
                    raise ValueError(
                        f"pre-sidecar text migration: column {c!r} not "
                        f"in admitted table {out_path} (columns: "
                        f"{admitted.columns}); pass id_col=/text_col="
                    )
            sets = _unit_sets(admitted, text_col, id_col, ngram, hashed=True)
            # _unit_sets drops extra columns; re-attach each id's batch_id
            sets = sets.join(
                admitted.select(
                    F.col(id_col).alias("id"), "batch_id"
                ).distinct(),
                "id",
            )
        unified = legacy.select(
            "id", "band", "bucket",
            _null_like(sets, "toks").alias("toks"),
            F.lit("band").alias("kind"),
            "batch_id",
        ).unionByName(
            sets.select(
                "id",
                _null_like(legacy, "band").alias("band"),
                _null_like(legacy, "bucket").alias("bucket"),
                "toks",
                F.lit("set").alias("kind"),
                "batch_id",
            )
        )
    staging = store_path + "__unified_staging"
    unified.write.partitionBy("batch_id", "kind").mode("overwrite").parquet(
        staging
    )
    old = store_path + "__legacy"
    os.rename(store_path, old)
    os.rename(staging, store_path)
    shutil.rmtree(old)
    if os.path.exists(sets_path):
        shutil.rmtree(sets_path)


def start_near_dup_stream(
    doc_stream: DataFrame,
    filt: StreamingNearDupFilter,
    checkpoint: str,
    available_now: bool = False,
):
    writer = (
        doc_stream.writeStream.foreachBatch(filt)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

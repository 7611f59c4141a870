"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (broadcast the query set —
the corpus side streams, never shuffles), and an IVF-style
centroid-bucketed variant as the scale path (search only the closest
``nprobe`` clusters → corpus-side work drops by ~n_clusters/nprobe).

Dot products are pure Catalyst array expressions (``zip_with`` +
``aggregate``) computed in double — JVM-side, no Python, and identical
sequential summation order to DuckDB's ``list_cosine_similarity`` so the
oracle hashes match after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def dot_unrolled(a: Column, b: Column, dims: int) -> Column:
    """``dot`` with the fold UNROLLED into a flat left-deep ADD chain:
    ``((0.0 + a[1]*b[1]) + a[2]*b[2]) + ...`` — bit-identical to the
    sequential fold (same summation order, IEEE addition is the same
    operation either way) but a plain codegen expression instead of an
    INTERPRETED higher-order aggregate. Requires the vector width to be
    known at plan time. Measured ~5× on the LSH verify hot path, where
    the fold's per-row interpreter overhead dominated (81M candidate
    pairs at sfx1)."""
    acc = F.lit(0.0)
    for i in range(1, dims + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def weighted_sum_unrolled(a: Column, weights: list[float]) -> Column:
    """Unrolled ``dot(a, lit(weights))`` for plan-constant weights —
    same left-deep order as the fold over a zipped literal array."""
    acc = F.lit(0.0)
    for i, w in enumerate(weights, start=1):
        acc = acc + F.element_at(a, i) * F.lit(float(w))
    return acc


def weighted_sum_unrolled_cast(
    col: Column | str, weights: list[float]
) -> Column:
    """``weighted_sum_unrolled(as_double(col), w)`` with the cast moved
    INSIDE each term: ``element_at(v, i).cast(double) * w`` picks element
    i and casts it, instead of referencing a ``transform(v, cast)`` array
    per term. Same element, same cast → bit-identical doubles — but the
    expression carries NO lambda nodes (each ``transform`` reference
    costs a full array rebuild per TERM at eval time, and every lambda
    costs Catalyst a scoped resolution per ANALYSIS — ruinous when a
    32-projection × 64-term tree is re-analyzed per micro-batch action,
    r12 event-log evidence: 245 s inter-job driver gap)."""
    if isinstance(col, str):
        # Build the whole left-deep chain as ONE parsed SQL expression:
        # constructing it Column-by-Column costs ~5 Py4J round-trips per
        # TERM (≈10k socket turnarounds for a 32×64 bucket projection,
        # re-paid per micro-batch — the r12 jstack samples caught the
        # driver inside functions.element_at reflection and the stream
        # thread blocked on the Py4J socket). The parsed tree is the
        # same Add/Multiply/Cast/ElementAt chain: `D`-suffixed literals
        # are doubles, so no implicit coercion differs.
        terms = "0.0D"
        for i, w in enumerate(weights, start=1):
            terms = (
                f"({terms} + (CAST(element_at(`{col}`, {i}) AS DOUBLE)"
                f" * {float(w)!r}D))"
            )
        return F.expr(terms)
    acc = F.lit(0.0)
    for i, w in enumerate(weights, start=1):
        acc = acc + F.element_at(col, i).cast("double") * F.lit(float(w))
    return acc


def norm_unrolled(a: Column, dims: int) -> Column:
    """Unrolled ``norm`` — sqrt of the left-deep sum of squares (the
    fold binds x per element and computes acc + x*x; the unrolled chain
    evaluates the same element_at twice — identical value)."""
    acc = F.lit(0.0)
    for i in range(1, dims + 1):
        e = F.element_at(a, i)
        acc = acc + e * e
    return F.sqrt(acc)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × stream corpus.

    Output: (query_id, vec_id, cos, rank). Two-phase top-k: scoring is
    pure Catalyst (broadcast queries, corpus streams — no shuffle), and
    the per-partition prune is Spark 4's ``WindowGroupLimit`` pushdown:
    ``row_number() ... <= k`` plans a PARTIAL group-limit below the
    exchange, so only |queries| × partitions × k survivors reach the
    global ranking exchange. The q×n scored set is never shuffled — the
    phase-1 prune is exact because any global top-k row is necessarily a
    local top-k row in its own partition (same (cos desc, id asc) order
    both phases).

    r12 (guide §4 / §2.3): the partial prune was previously a hand-
    rolled Arrow ``mapInPandas`` — redundant once WindowGroupLimit
    (SPARK-37099) plans the IDENTICAL per-partition top-k natively;
    deleting it removes the operator's only JVM↔Python boundary (plan
    diff: MapInPandas gone, every node whole-stage-codegen'd). Both
    vector norms are hoisted out of the pair projection: the corpus
    norm was recomputed for every (query, corpus) PAIR (|queries|×
    redundant) and the query norm likewise (|corpus|× redundant); each
    is now one column computed once per input row before the join,
    leaving only the dot product as per-pair work. Same doubles through
    the same operations — the cosine is bit-identical.
    For corpora where even the scoring scan is too slow, use
    :func:`ivf_topk`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        as_double(vec_col).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
        .select("query_id", "vec_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id",
                (F.round("cos", 6) + F.lit(0.0)).alias("cos"), "rank")
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 32,
) -> DataFrame:
    """All (i<j) pairs with cosine >= threshold — exact, vectorized,
    **no driver collect anywhere in the lineage**.

    The corpus is packed into a single-row DataFrame executor-side
    (``collect_list`` aggregation) and broadcast-joined onto ``n_blocks``
    per-block row groups; each block then BLAS-multiplies its unit
    vectors against the full unit matrix inside an Arrow-batched
    ``mapInPandas``. The full matrix travels through Spark's broadcast
    machinery exactly once per block task — never via a driver-side
    ``collect()`` in user code (~n·d·8 bytes: 64-dim × 10M vectors
    ≈ 5 GB — near the broadcast ceiling; beyond that, switch to
    :func:`lsh_near_dup_pairs`, which needs no full-matrix broadcast).
    Plan shape: one shuffle to form blocks + one single-row broadcast;
    pairs are emitted directly from the block tasks."""
    import numpy as np

    vecs = corpus.select(
        F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
    )
    packed = vecs.agg(
        F.collect_list(F.struct("_id", "_v")).alias("_all")
    )
    blocks = (
        vecs.withColumn("_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)))
        .groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "_v")).alias("_rows"))
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                all_rows = row["_all"]
                all_ids = np.array(
                    [r["_id"] for r in all_rows], dtype=np.int64
                )
                mat = np.array(
                    [r["_v"] for r in all_rows], dtype=np.float64
                )
                mat /= np.linalg.norm(mat, axis=1, keepdims=True)
                blk = row["_rows"]
                block_ids = np.array([r["_id"] for r in blk], dtype=np.int64)
                block = np.array([r["_v"] for r in blk], dtype=np.float64)
                block /= np.linalg.norm(block, axis=1, keepdims=True)
                sims = np.round(block @ mat.T, 6)
                # fully vectorized pair extraction: one frame per block,
                # not one per row (the per-row version was allocation-bound)
                mask = (all_ids[None, :] > block_ids[:, None]) & (
                    sims >= threshold
                )
                ki, js = np.nonzero(mask)
                if len(ki):
                    yield pd.DataFrame(
                        {
                            "id1": block_ids[ki],
                            "id2": all_ids[js],
                            "cos": sims[ki, js],
                        }
                    )

    return blocks.join(F.broadcast(packed)).mapInPandas(
        gen, "id1 long, id2 long, cos double"
    )


def near_dup_pairs_catalyst(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-Catalyst exact pair scan (zip_with/aggregate) — no Python, no
    driver collect; reference implementation for semantics tests.

    r12 (guide §2.3): per-vector norms hoisted out of the O(n²) pair
    projection — each norm is one column computed once per input row
    instead of re-derived for every pair; the per-pair work is the dot
    alone. Same doubles through the same fold — bit-identical cosine."""
    a = corpus.select(
        F.col(id_col).alias("id1"), as_double(vec_col).alias("v1")
    ).withColumn("n1", norm(F.col("v1")))
    b = corpus.select(
        F.col(id_col).alias("id2"), as_double(vec_col).alias("v2")
    ).withColumn("n2", norm(F.col("v2")))
    return (
        a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("v1"), F.col("v2"))
                / (F.col("n1") * F.col("n2")),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", "cos")
    )


def portable_plane_weights(
    seed: int, t: int, p: int, n_dims: int
) -> list[float]:
    """±1 hyperplane weights from md5 parity of ``"{seed}_{t}_{p}_{i}"``
    — the engine-portable twin of the xxhash64 parity scheme: a DuckDB
    oracle re-derives the identical weights with its own ``md5()``
    (see the `embedding_near_dup_lsh` oracle). Computed driver-side
    (weights are plan constants, ~n_tables·n_planes·n_dims hashes) and
    inlined as array literals, so the per-row work is ONLY the fold."""
    import hashlib

    return [
        1.0
        if int(
            hashlib.md5(f"{seed}_{t}_{p}_{i}".encode()).hexdigest()[:8], 16
        ) % 2 == 0
        else -1.0
        for i in range(n_dims)
    ]


def random_hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    portable_dims: int | None = None,
    wide: bool = False,
    form: str = "auto",
    carry_vec: tuple[str, str] | None = None,
) -> DataFrame:
    """Signed-random-projection LSH (cosine LSH) with OR-amplification:
    ``n_tables`` independent hash tables of ``n_planes`` sign bits each —
    a pair is a candidate if it collides in ANY table. Per-table collision
    probability for a pair at cosine c is (1 - arccos(c)/π)^n_planes;
    overall recall 1-(1-p)^n_tables. Output: one (id, table, bucket) row
    per table (explodes n_tables×, all map-side).

    Hyperplanes are derived deterministically from (seed, table, plane,
    dim) via a hash → no driver-side randomness, identical across
    runs/executors. With ``portable_dims`` set (the known vector width),
    weights come from :func:`portable_plane_weights` — md5-parity
    literals an external SQL engine can re-derive, and the projection
    is a plain literal-array dot (no per-row hashing at all).

    ``carry_vec=(vname, nvname)`` (round 13, wide form only): the
    float→double cast is HOISTED into its own projection (O3 pattern —
    interpreted HOF projections get no subexpression elimination, so
    the T·P fold projections otherwise each re-run the transform) and
    the double vector + its norm are CARRIED through the explode as
    ``vname``/``nvname`` columns. This kills the downstream
    buckets⋈vecs id-join (two exchanges + two corpus-scale sorts,
    guide §2.4) in lsh_near_dup_pairs. Bit-identical buckets: same
    doubles through the same fold.
    """
    if carry_vec is not None:
        if not wide:
            raise ValueError("carry_vec requires wide=True")
        if form == "unrolled":
            raise ValueError(
                "carry_vec + form='unrolled' unsupported (the unrolled "
                "chain casts per element; carry the fold form instead)"
            )
        vname, nvname = carry_vec
        src = df.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias(vname)
        )
        vec_ref: Column | None = F.col(vname)
    else:
        src = df
        vec_ref = None
    dims = F.size(vec_ref if vec_ref is not None else F.col(vec_col))

    def signed(t: int, p: int):
        # pseudo-random ±1 weights per dimension: parity of xxhash64
        def fn(x, i):
            return F.when(
                F.pmod(F.xxhash64(F.lit(seed), F.lit(t), F.lit(p), i), F.lit(2))
                == 0,
                x,
            ).otherwise(-x)

        return fn

    entries = []
    for t in range(n_tables):
        planes = []
        for p in range(n_planes):
            if portable_dims is not None:
                # ``form="auto"`` resolves to the FOLD: one compact HOF
                # call per projection (~6 plan nodes), bit-identical to
                # the unrolled chain (same left-deep summation over the
                # same doubles). The unrolled form stays available for
                # A/B (`form="unrolled"`) but loses in every regime the
                # repo has measured since the r12 cast-per-element
                # rework: a wide 32-projection × 64-term Project now
                # blows janino's 64 KB method limit even in BATCH
                # (CodeContext.makeSpace in the log; the pre-r12
                # element_at-of-shared-transform form compiled because
                # codegen deduped the one shared transform), so the
                # stage pays a failed multi-second compile and then
                # interprets the 2048-term chain anyway — the worst of
                # both. Clean-box isolation at sf0.1 (fresh sessions,
                # noop sink, warm medians of 4): fold 0.45–0.51 s vs
                # unrolled-cast 1.75–1.92 s vs the pre-r12 compiled
                # form 0.69–0.77 s — the fold beats even the form that
                # compiles. In the MICRO-BATCH regime the same failed
                # compile repeated per batch (exprIds change, nothing
                # caches): `generate_doConsume` InternalCompiler-
                # Exception per batch until the streaming twin moved to
                # the fold.
                weights = portable_plane_weights(seed, t, p, portable_dims)
                if form == "unrolled":
                    # per-element cast, NOT element_at over a shared
                    # as_double transform — bit-identical values, zero
                    # lambda nodes (see weighted_sum_unrolled_cast).
                    proj = weighted_sum_unrolled_cast(vec_col, weights)
                else:
                    proj = dot(
                        vec_ref if vec_ref is not None
                        else as_double(vec_col),
                        F.lit(weights),
                    )
            else:
                proj = F.aggregate(
                    F.zip_with(
                        vec_ref if vec_ref is not None
                        else as_double(vec_col),
                        F.sequence(F.lit(0), dims - 1),
                        signed(t, p),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            planes.append(
                F.when(
                    proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
                ).otherwise(F.lit(0).cast("long"))
            )
        bucket = planes[0]
        for b in planes[1:]:
            bucket = bucket.bitwiseOR(b)
        entries.append(
            F.struct(F.lit(t).alias("table"), bucket.alias("bucket"))
        )
    if wide:
        # wide form: each exploded row ALSO carries every table's bucket
        # (tb0..tb{T-1}) — feeds the lowest-matching-table emission rule
        # in lsh_near_dup_pairs (PERF §42 family). The heavy projections
        # evaluate once into the wide projection; the explode only
        # restructures.
        if carry_vec is not None:
            nv_expr = (
                norm_unrolled(F.col(vname), portable_dims)
                if portable_dims is not None
                else norm(F.col(vname))
            )
            carry_sel = [F.col(vname), nv_expr.alias(nvname)]
            carry_names = [vname, nvname]
        else:
            carry_sel, carry_names = [], []
        wide_df = src.select(
            F.col(id_col).alias("id") if carry_vec is None else F.col("id"),
            *carry_sel,
            *[e["bucket"].alias(f"tb{t}") for t, e in enumerate(entries)],
        )
        tb = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"), F.col(f"tb{t}").alias("bucket")
                )
                for t in range(n_tables)
            ]
        )
        return wide_df.select(
            "id",
            *carry_names,
            *[f"tb{t}" for t in range(n_tables)],
            F.explode_outer(tb).alias("tb"),
        ).select(
            "id",
            *carry_names,
            *[f"tb{t}" for t in range(n_tables)],
            F.col("tb.table").alias("table"),
            F.col("tb.bucket").alias("bucket"),
        )
    return df.select(
        # explode_outer: plain explode makes InferFiltersFromGenerate push a
        # size()>0 filter that re-evaluates every heavy proj aggregate; the
        # array literal is never empty so outer semantics are identical
        F.col(id_col).alias("id"), F.explode_outer(F.array(*entries)).alias("tb")
    ).select("id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))


# probe-side salt slices for the LSH verify self-join: the hottest
# bucket's pair enumeration spreads over this many tasks. 32 matches
# the bench core count; at cluster scale set ~2-4× the executor-core
# count of one stage wave (pure parallelism knob — results identical
# for any value ≥ 1). Round 13: this BLANKET factor is the A/B
# reference only — the default is the adaptive per-bucket salt below.
_LSH_SALT = 32

# adaptive salt (round 13, guide §2.5 — size the skew remedy to the
# actual skew): a bucket of n entries enumerates ~n²/2 in-stream pairs;
# it gets s = ceil(n² / (2 · PAIRS_PER_TASK)) salt slices so each slice
# enumerates ≤ ~PAIRS_PER_TASK pairs (≈ seconds of fold-cosine work).
# Cold buckets get s = 1 — no replication at all — which removes the
# blanket ×32 payload replication through the salted exchange+sort
# (at sfx10-hi: 56M → ~1.8M sorted heavy rows). SALT_MAX bounds the
# replication of a pathological single bucket.
_LSH_SALT_PAIRS_PER_TASK = 2_000_000
_LSH_SALT_MAX = 256


def _arrow_wide_entries(
    df: DataFrame,
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    dims: int,
    seed: int = 42,
) -> DataFrame:
    """One vectorized Arrow pass → (id, v double[dims], nv, tb0..tb{T-1}):
    the md5-parity hyperplane projections, the float→double cast and the
    vector norm computed batch-at-a-time in numpy (guide §4.2) instead
    of T·P interpreted fold projections per row (HOF aggregates never
    enter whole-stage codegen, so the fold path pays ~10k lambda
    invocations per row at 8×10×64).

    BIT-IDENTICAL to the Catalyst fold path by construction: the per-dim
    accumulation loop (``acc = acc + v[:, i] * w[i]``) is the same
    left-deep IEEE sequence as ``aggregate(zip_with(v, w, *), 0.0, +)``
    — one rounded multiply + one rounded add per element, no FMA fusion,
    no pairwise re-association (numpy elementwise ops, NOT ``np.dot``) —
    and float→double widening is exact. Same doubles → same signs →
    same buckets → same downstream cosines; the DuckDB oracle re-derives
    the identical fold."""
    import numpy as np

    wt = np.array(
        [
            portable_plane_weights(seed, t, p, dims)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    ).T.copy()  # dims × (T·P); column t·P+p
    n_proj = n_tables * n_planes
    pw = 1 << np.arange(n_planes, dtype=np.int64)
    names = ["id", "v", "nv"] + [f"tb{t}" for t in range(n_tables)]
    out_schema = "id long, v array<double>, nv double, " + ", ".join(
        f"tb{t} long" for t in range(n_tables)
    )

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(1)
            if emb.null_count:
                raise ValueError("null embedding in LSH corpus")
            flat = emb.flatten()
            if len(flat) != n * dims:
                raise ValueError(
                    f"LSH corpus is ragged: expected {dims}-dim vectors"
                )
            arr = flat.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            ).reshape(n, dims)
            proj = np.zeros((n, n_proj), dtype=np.float64)
            sq = np.zeros(n, dtype=np.float64)
            for i in range(dims):
                c = arr[:, i]
                proj = proj + c[:, None] * wt[i]
                sq = sq + c * c
            nv = np.sqrt(sq)
            bits = (proj > 0.0).astype(np.int64)
            tbs = bits.reshape(n, n_tables, n_planes) @ pw  # exact ints
            offsets = pa.array(
                np.arange(0, (n + 1) * dims, dims, dtype=np.int32)
            )
            varr = pa.ListArray.from_arrays(
                offsets, pa.array(arr.reshape(-1))
            )
            cols = [batch.column(0), varr, pa.array(nv)]
            cols += [pa.array(tbs[:, t]) for t in range(n_tables)]
            yield pa.record_batch(cols, names=names)

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col)
    ).mapInArrow(gen, out_schema)


def _bucket_blas_pairs(
    entries: DataFrame, n_tables: int, threshold: float
) -> DataFrame:
    """In-bucket pair verify as ONE grouped numpy stage (guide §4.2 —
    the near_dup_pairs pattern applied per bucket): each (table, bucket)
    group computes its candidate pair dots batch-at-a-time instead of
    the salted SMJ enumerating them row-by-row with an interpreted fold
    per pair (sfx10-hi: 948M in-stream candidate instances, ~500 s of
    enumeration + fold-cosine).

    PROVABLY identical rows to the SMJ form — not merely empirically:

    * the per-pair dot uses the same left-deep sequential accumulation
      as the zip_with fold (``acc = acc + C[:, i] * V[:, i]`` per dim —
      one rounded multiply + one rounded add per element, no FMA, no
      BLAS re-association), and the denominator is the same single
      ``nv_i * nv_j`` multiply → the RAW cosine is bit-identical;
    * Python emits survivors of a CONSERVATIVE margin filter
      (``raw >= threshold - 1e-5``; round(x, 6) can raise x by at most
      5e-7, so no true survivor is dropped) and the exact
      ``round(·, 6) >= threshold`` happens in CATALYST on the returned
      raw value — the same expression the SMJ form evaluates, so the
      final pair set and the emitted ``cos`` are identical by
      construction, with no numpy-vs-JVM rounding semantics in play;
    * the i<j and lowest-matching-table rules are exact integer
      compares either way.

    Shape: ONE hash repartition of the entry relation by (table,
    bucket) — corpus × T rows, linear, never pair-volume — then a
    mapInArrow stage that lexsorts its partition in numpy and walks the
    bucket boundaries, so thousands of small buckets amortize into one
    vectorized pass per TASK (a first cut used
    groupBy().applyInPandas — one pandas frame per bucket — and spent
    most of its wall in per-group conversion overhead: 8192 groups at
    sfx10-hi). Memory: the chunked accumulator is bounded at ~32 MB
    regardless of bucket size. A pathological single bucket still runs
    in one task — but at vectorized-numpy throughput, which shrinks the
    skew tail by ~two orders vs the interpreted per-pair fold the salt
    machinery was spreading."""
    import numpy as np

    margin = threshold - 1e-5
    n_tb = n_tables - 1  # tb{T-1} is never compared (rule: t' < t)

    def gen(batches):
        import pyarrow as pa

        blist = list(batches)
        if not blist:  # empty partition (fewer buckets than partitions)
            return
        tbl = pa.Table.from_batches(blist)
        n = tbl.num_rows
        if n == 0:
            return
        tbl = tbl.combine_chunks()
        table = tbl["table"].to_numpy(zero_copy_only=False)
        bucket = tbl["bucket"].to_numpy(zero_copy_only=False)
        ids = tbl["id"].to_numpy(zero_copy_only=False)
        nv = tbl["nv"].to_numpy(zero_copy_only=False)
        vcol = tbl["v"].combine_chunks()
        flat = vcol.flatten().to_numpy(zero_copy_only=False)
        if n == 0 or len(flat) % n:
            raise ValueError("ragged vectors in LSH entry relation")
        d = len(flat) // n
        offs = np.diff(np.asarray(vcol.offsets))
        if not np.all(offs == d):
            raise ValueError("ragged vectors in LSH entry relation")
        V = flat.reshape(n, d)
        tbs = np.stack(
            [
                tbl[f"tb{k}"].to_numpy(zero_copy_only=False)
                for k in range(n_tb)
            ]
        ) if n_tb else np.zeros((0, n), dtype=np.int64)
        # group by (table, bucket) inside the task: lexsort + boundary
        # scan (the partition holds every row of each of its buckets —
        # hash partitioning guarantees it)
        order = np.lexsort((bucket, table))
        table, bucket = table[order], bucket[order]
        ids, nv, V = ids[order], nv[order], V[order]
        tbs = tbs[:, order]
        cuts = np.flatnonzero(
            (table[1:] != table[:-1]) | (bucket[1:] != bucket[:-1])
        ) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [n]))
        o1: list = []
        o2: list = []
        oc: list = []
        buffered = 0

        def flush():
            nonlocal o1, o2, oc, buffered
            batch = pa.record_batch(
                [
                    pa.array(np.concatenate(o1)),
                    pa.array(np.concatenate(o2)),
                    pa.array(np.concatenate(oc)),
                ],
                names=["id1", "id2", "_rc"],
            )
            o1, o2, oc, buffered = [], [], [], 0
            return batch

        for s0, e0 in zip(starts, ends):
            gn = e0 - s0
            if gn < 2:
                continue
            t = int(table[s0])
            gids = ids[s0:e0]
            gv = V[s0:e0]
            gnv = nv[s0:e0]
            gtb = tbs[:t, s0:e0]
            ch = max(8, min(256, 4_000_000 // gn))
            for s in range(0, gn, ch):
                e = min(s + ch, gn)
                C = gv[s:e]
                acc = np.zeros((e - s, gn), dtype=np.float64)
                for i in range(d):
                    acc = acc + C[:, i : i + 1] * gv[:, i][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    rc = acc / (gnv[s:e, None] * gnv[None, :])
                    mask = (gids[None, :] > gids[s:e, None]) & (
                        rc >= margin
                    )
                for k in range(t):
                    mask &= gtb[k, s:e, None] != gtb[k, None, :]
                ii, jj = np.nonzero(mask)
                if len(ii):
                    o1.append(gids[s + ii])
                    o2.append(gids[jj])
                    oc.append(rc[ii, jj])
                    buffered += len(ii)
                    if buffered >= 1_000_000:
                        yield flush()
        if buffered:
            yield flush()

    sc = entries.sparkSession.sparkContext
    nparts = sc.defaultParallelism * 4
    raw = (
        entries.select(
            "id", "v", "nv", "table", "bucket",
            *[f"tb{t}" for t in range(n_tb)],
        )
        .repartition(nparts, "table", "bucket")
        .mapInArrow(gen, "id1 long, id2 long, _rc double")
    )
    return raw.select(
        "id1",
        "id2",
        F.round(F.col("_rc"), 6).alias("cos"),
    ).filter(F.col("cos") >= F.lit(threshold))


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable_dims: int | None = None,
    _emit_order: str = "lowest_first",
    _stage: str | None = None,
    _entries_form: str = "auto",
    _salt_form: str = "auto",
    _verify_form: str = "auto",
) -> DataFrame:
    """Near-dup pairs restricted to LSH-candidate pairs — the scale path:
    bucketing shuffles on (table, bucket) keys only (linear in
    corpus × n_tables) and verification happens INSIDE the bucket
    self-join. No full-matrix broadcast, no O(n²) scan. ``portable_dims``
    switches to md5-parity hyperplanes so the whole pipeline (buckets →
    in-bucket cosine verify, fold-order arithmetic) is reproducible in
    an external SQL engine — the registered query runs this form under a
    full DuckDB oracle.

    Plan shape (reworked round 9 — the r8 shape materialized a DISTINCT
    candidate-pair relation, then verified it with two corpus joins; at
    sfx1 that was 81M pairs through two array-carrying SMJ sorts,
    ~100 GB of sort payload a decade up — a disk-exhaustion cliff, and
    93% of the operator's 500+ s):

    * ship each vector INTO its buckets once — one (table, bucket)
      shuffle of corpus × n_tables rows. The float→double cast happens
      ONCE, map-side, so the entries relation carries DOUBLE arrays
      through the merge join and the salt replication (ADVICE r9: an
      earlier draft of this note claimed a float-width shuffle saving
      that the shipped plan does not have — the cast is exact and
      map-side-once is the cheaper compute shape; deferring it past the
      salt exchange would halve those bytes at the cost of a per-pair
      transform allocation in the interpreted join context, the exact
      regression the fold-form A/B below measured at 9×);
    * per-vector norms computed ONCE here (not per pair — the r8 form
      re-derived both norms for every candidate);
    * self-join on (table, bucket): SMJ sorts only the bucket entry
      relation (corpus-scale, spillable); the quadratic pair stream
      exists ONLY inside the join's output iterator, where the cosine
      is computed (the per-pair dot uses the sequential zip_with FOLD —
      only the per-vector norms are unrolled; see the per-stage note
      below) and the threshold filter drops non-survivors before
      anything is materialized or re-shuffled;
    * a pair colliding in k tables is verified k times (pure compute,
      deterministic — identical cos every time) and deduped by the
      final DISTINCT over survivors, which is linear in the RESULT, not
      the candidate volume.

    A hot bucket of n vectors still emits C(n, 2) in-stream pairs in one
    task — that is the operator's contract at a loose threshold (dense
    candidates, §24); what the rework removes is the candidate-volume
    SHUFFLE/SORT/DISK footprint, which is what actually breaks first at
    scale. Never broadcast: every relation here is corpus-sized (the
    one exception is the round-13 HOT-BUCKET SIZE relation, bounded by
    the number of genuinely skewed buckets).

    Round 13 rework (guide §2.4/§2.5/§4.2 — evidence in
    OPTIMIZATION_r13.md and plans/r13/):

    * ``_entries_form``: how the (id, v, nv, tb*, table, bucket) entry
      relation is built. ``"arrow"`` (auto when ``portable_dims`` is
      set): ONE vectorized mapInArrow pass computes cast+norm+all T·P
      projections in numpy (bit-identical left-deep arithmetic — see
      ``_arrow_wide_entries``), replacing ~10k interpreted lambda
      invocations per row; the wide relation is ``localCheckpoint``ed
      (pre-explode, 1/T the rows) so the a-side, b-side and bucket-size
      branches read ONE materialization instead of re-deriving the
      corpus subtree each (it used to run twice; three times under the
      adaptive salt). ``"fold"`` (auto otherwise): the Catalyst fold
      projections with the cast hoisted and v/nv carried through the
      wide build — no buckets⋈vecs id-join (two exchanges + two
      corpus-scale sorts removed, §2.4). ``"join"``: the pre-r13 shape,
      kept for A/B.
    * ``_salt_form="adaptive"`` (auto): per-bucket salt sized from the
      measured bucket cardinality (one light (table,bucket) count pass
      over the checkpoint) — s = ceil(n²/2·PAIRS_PER_TASK), so only
      genuinely hot buckets replicate and the blanket ×32 payload
      replication through the salted exchange+sort disappears
      (sfx10-hi: 56M → ~1.8M sorted heavy rows). ``"blanket"``: the
      pre-r13 constant ×32, kept for A/B. Identical pair set either
      way: within a bucket, side b carries one salt in [0, s) and side
      a carries all of [0, s), so every (a, b) entry pair meets exactly
      once for any s ≥ 1.
    """
    if _entries_form == "auto":
        _entries_form = "arrow" if portable_dims is not None else "fold"
    if _salt_form == "auto":
        _salt_form = "adaptive"
    # ``_stage``: measurement-only hook (tools/lsh_hi_decompose.py, the
    # §40-style phase attribution) — returns the named INTERNAL sub-plan
    # instead of the full operator. Never set by registered queries.
    if _entries_form == "join":
        buckets = random_hyperplane_buckets(
            corpus, n_planes, n_tables, id_col, vec_col,
            portable_dims=portable_dims, wide=True,
        )
        if _stage == "buckets":
            return buckets
    # Expression forms are PER STAGE, chosen from measurement (sfx1,
    # 104M in-stream pairs; bucketing re-measured r12 third session):
    #   * map-side per-vector norms: UNROLLED left-deep chain — a
    #     single 64-term chain per row compiles and codegens fine;
    #   * map-side hyperplane projections: the FOLD (buckets' form=
    #     "auto") — the full 32-projection wide Project exceeds the
    #     janino method limit when unrolled, so the unrolled form
    #     interprets at unrolled cost after a failed compile; see the
    #     measured note in random_hyperplane_buckets;
    #   * join-side (the per-pair dot): the sequential FOLD. The join
    #     stage's generated method (SMJ + condition + downstream) blows
    #     the JIT method limit with a 128-node chain inlined, and the
    #     whole stage falls back to INTERPRETED evaluation at ~118 µs/
    #     pair (measured: 383 s for the projection alone). The HOF fold
    #     is a single embedded call the surrounding codegen keeps at
    #     ~13 µs/pair — 9× faster in exactly the context that matters.
    # Both forms are bit-identical (same left-deep summation order).
    # The cast to double happens ONCE, map-side, in the vecs projection
    # (codegen'd): folding over pre-cast double arrays saves two
    # per-pair transform() allocations that the interpreted fall-back
    # context charges per reference. The entries relation that carries
    # the double arrays through the salt exchange is corpus × tables ×
    # salt rows — linear, never pair-volume.
    # zip_with fold for the per-pair dot: A/B'd at sfx1 against (a) the
    # unrolled chain (118 µs/pair — the join stage's generated method
    # exceeds JIT limits and the whole stage interprets) and (b) an
    # index-sequence fold (cold 469 s / warm 247 s vs this form's
    # 422/168 s) — the zip_with fold is the fastest evaluable form in
    # the join context.
    dpr = dot
    if _entries_form == "join":
        if portable_dims is not None:
            def nrm(c: Column) -> Column:
                return norm_unrolled(c, portable_dims)
        else:
            nrm = norm
        vecs = corpus.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("v")
        ).withColumn("nv", nrm(F.col("v")))
        entries = buckets.hint("merge").join(vecs, "id")
    elif _entries_form == "arrow":
        if portable_dims is None:
            raise ValueError(
                "_entries_form='arrow' needs portable_dims (the xxhash "
                "hyperplane scheme has no numpy twin)"
            )
        wide = _arrow_wide_entries(
            corpus, n_planes, n_tables, id_col, vec_col,
            dims=portable_dims,
        )
        if _stage == "buckets":
            return wide
        # one materialization feeds the a-side, the b-side and the
        # bucket-size pass (pre-explode: 1/T the rows of the entry
        # relation; ~corpus × (8·dims+overhead) bytes — an in-query
        # bounded intermediate, computed inside the timed region)
        wide = wide.localCheckpoint(eager=True)
        tb = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"), F.col(f"tb{t}").alias("bucket")
                )
                for t in range(n_tables)
            ]
        )
        entries = wide.select(
            "id", "v", "nv",
            *[f"tb{t}" for t in range(n_tables)],
            F.explode_outer(tb).alias("_tb"),
        ).select(
            "id", "v", "nv",
            *[f"tb{t}" for t in range(n_tables)],
            F.col("_tb.table").alias("table"),
            F.col("_tb.bucket").alias("bucket"),
        )
    else:  # "fold": Catalyst projections, cast hoisted, v/nv carried
        entries = random_hyperplane_buckets(
            corpus, n_planes, n_tables, id_col, vec_col,
            portable_dims=portable_dims, wide=True,
            carry_vec=("v", "nv"),
        )
        if _stage == "buckets":
            return entries
        # bound: corpus × n_tables rows (post-explode entry relation —
        # id, v double[dims], nv, tb*), one per query invocation,
        # dropped with the DataFrame
        entries = entries.localCheckpoint(eager=True)
    if _stage == "entries":
        return entries
    # ``_verify_form="blas"`` (auto): the grouped-numpy in-bucket verify
    # — see _bucket_blas_pairs for the shape and the bit-identity
    # argument. "smj" keeps the salted sort-merge self-join below (the
    # r9–r12 form) for A/B and for the _stage="joined"/"cos_all"
    # decomposition probes, which only exist on that path.
    if _verify_form == "auto":
        _verify_form = "blas"
    if _verify_form == "blas" and _stage is None:
        return _bucket_blas_pairs(entries, n_tables, threshold)
    # SALTED self-join (output-skew breaker): a dense bucket of n
    # vectors emits C(n, 2) in-stream pairs from ONE merge group — an
    # explosion AQE's skew splitting cannot see (it keys off INPUT
    # partition bytes; a 10⁴-vector bucket is ~3 MB in but 5·10⁷ pairs
    # out, so the hot task runs alone while 31 cores idle — observed at
    # sfx1: load ~8/32, 18+ min). Slicing the probe side by id hash
    # into _LSH_SALT groups and replicating the build side across the
    # salt spreads every bucket's pair enumeration over _LSH_SALT
    # tasks; the replicated sort volume (entries × _LSH_SALT rows) is
    # corpus-scale, cheap next to the pair stream it parallelizes.
    if _salt_form == "adaptive":
        # per-(table, bucket) cardinalities: a LIGHT pass (ids and
        # payloads pruned) over the checkpointed wide relation; only
        # buckets whose pair volume n²/2 exceeds PAIRS_PER_TASK get a
        # salt factor, so the broadcast below is bounded by the number
        # of genuinely skewed buckets, not by corpus size. n² computed
        # in DOUBLE — counts can exceed the long-overflow bound at
        # corpus scale (and ANSI mode makes that an error, not a wrap).
        hot = (
            entries.groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(
                F.col("_bn").cast("double") * F.col("_bn").cast("double")
                > F.lit(2.0 * _LSH_SALT_PAIRS_PER_TASK)
            )
            .select(
                "table",
                "bucket",
                F.least(
                    F.lit(_LSH_SALT_MAX),
                    F.ceil(
                        F.col("_bn").cast("double")
                        * F.col("_bn").cast("double")
                        / F.lit(2.0 * _LSH_SALT_PAIRS_PER_TASK)
                    ).cast("int"),
                ).alias("_sn"),
            )
        )
        # threshold-gated, not a hard hint: the hot-bucket list is tiny
        # on any sane corpus (only buckets with >2e6 pair volume), but
        # it GROWS with corpus size in the adversarial case, so the
        # census policy (PLANS.md §broadcast-census) routes it through
        # dim_broadcast — past the bar Catalyst/AQE picks the join.
        from .bcast import dim_broadcast

        ent2 = entries.join(
            dim_broadcast(hot), ["table", "bucket"], "left"
        ).withColumn("_sn", F.coalesce(F.col("_sn"), F.lit(1)))
        a = (
            ent2.withColumn(
                "salt", F.explode(F.sequence(F.lit(0), F.col("_sn") - 1))
            )
            .drop("_sn")
            .alias("a")
        )
        b = (
            ent2.withColumn(
                "salt",
                F.pmod(F.xxhash64("id"), F.col("_sn")).cast("int"),
            )
            .drop("_sn")
            .alias("b")
        )
    else:  # "blanket": the pre-r13 constant replication, A/B reference
        a = entries.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_LSH_SALT - 1)))
        ).alias("a")
        b = entries.withColumn(
            "salt", F.pmod(F.xxhash64("id"), F.lit(_LSH_SALT)).cast("int")
        ).alias("b")
    # lowest-matching-table dedup (the §42 emission rule): within ONE
    # table a pair joins at exactly one salt (side b carries a single
    # id-derived salt), so cross-TABLE collisions were the only source
    # of duplicates — and each row carries every table's bucket (wide
    # buckets), so "no earlier table collides" is n_tables-1 in-stream
    # long-compares. Replaces the former result-volume `.distinct()`
    # (and runs BEFORE the cosine, so a k-table collider pays the
    # verify arithmetic once, not k times). Bound on the carried
    # width: n_tables longs next to a 1 KB vector payload (~6%).
    lowest = F.lit(True)
    for lo in range(n_tables - 1):
        lowest = lowest & (
            ~(
                (F.col("a.table") > lo)
                & (F.col(f"a.tb{lo}") == F.col(f"b.tb{lo}"))
            )
        )
    # MERGE hint: corpus-sized self-join (same rationale as the
    # simhash/minhash band joins — never broadcast, spillable SMJ)
    joined = a.hint("merge").join(
        b,
        (F.col("a.table") == F.col("b.table"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.id") < F.col("b.id")),
    )
    if _stage == "joined":
        return joined
    if _stage == "cos_all":
        # every candidate instance pays the fold-cosine, no filters
        return joined.select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(
                dpr(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nv") * F.col("b.nv")),
                6,
            ).alias("cos"),
        )
    if _emit_order == "cos_first":
        # PERF §43 bisect arm: threshold the cosine BEFORE the lowest-
        # table compares. Exactly-once-correct like the default (both
        # filters are deterministic per instance and commute); the
        # trade is k cosine evaluations for a k-table collider vs
        # (n_tables-1) long-compares on EVERY candidate instance —
        # cos_first wins when collision multiplicity is low (sparse
        # hi-threshold corpora), lowest_first when it's high (dense).
        kept = joined.select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(
                dpr(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nv") * F.col("b.nv")),
                6,
            ).alias("cos"),
            F.col("a.table").alias("_t"),
            *[
                F.col(f"a.tb{lo}").alias(f"_a{lo}")
                for lo in range(n_tables - 1)
            ],
            *[
                F.col(f"b.tb{lo}").alias(f"_b{lo}")
                for lo in range(n_tables - 1)
            ],
        ).filter(F.col("cos") >= threshold)
        low2 = F.lit(True)
        for lo in range(n_tables - 1):
            low2 = low2 & (
                ~(
                    (F.col("_t") > lo)
                    & (F.col(f"_a{lo}") == F.col(f"_b{lo}"))
                )
            )
        return kept.filter(low2).select("id1", "id2", "cos")
    return (
        joined.filter(lowest)
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(
                dpr(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nv") * F.col("b.nv")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )

def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means in pure DataFrame ops → (cent_id, cent_v).

    Deterministic init (the ``n_centroids`` lowest-id vectors — no RNG, so
    results are stable across runs/executors); each iteration assigns
    every vector to its max-cosine centroid (broadcast cross join — the
    centroid set is tiny) and recomputes element-wise means via
    ``posexplode`` + groupBy (cluster, dim). Iteration count is a fixed
    small constant: each round is one corpus scan + one (cluster, dim)
    shuffle of ``n·d`` rows, so cost scales linearly — no driver-side
    loops over data, only over ``iters``."""
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), as_double(vec_col).alias("cent_v")
    )
    # vector norm hoisted out of the (vector × centroid) projection
    # (r12, guide §2.3): one column per vector instead of a re-derived
    # aggregate per centroid pairing; the centroid norm likewise prices
    # once per centroid per iteration. Bit-identical cosine.
    c = corpus.select(
        F.col(id_col).alias("_vid"), as_double(vec_col).alias("cv")
    ).withColumn("_cn", norm(F.col("cv")))
    for _ in range(iters):
        cents_n = cents.withColumn("_ctn", norm(F.col("cent_v")))
        scored = c.crossJoin(F.broadcast(cents_n)).withColumn(
            "_d",
            dot(F.col("cv"), F.col("cent_v"))
            / (F.col("_cn") * F.col("_ctn")),
        )
        w = Window.partitionBy("_vid").orderBy(
            F.col("_d").desc(), F.col("cent_id")
        )
        assigned = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("cent_id", "cv")
        )
        cents = (
            assigned.select("cent_id", F.posexplode("cv").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cent_id",
                F.transform("pm", lambda s: s.getField("m")).alias("cent_v"),
            )
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: centroids are either the first ``n_centroids``
    corpus vectors (``kmeans_iters=0`` — cheapest, plumbing-equivalent) or
    ``kmeans_iters`` Lloyd rounds (:func:`kmeans_centroids`); assign every
    vector to its nearest centroid; per query probe the ``nprobe`` nearest
    centroids and rank only those clusters.

    Corpus-side cost drops to ~nprobe/n_centroids of brute force; the
    cluster assignment is one broadcast join, reusable across query
    batches (in a real deployment it would be precomputed + bucketed on
    disk)."""
    if kmeans_iters > 0:
        base_cents = kmeans_centroids(
            corpus, n_centroids, kmeans_iters, id_col, vec_col
        )
    else:
        base_cents = corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"),
            as_double(vec_col).alias("cent_v"),
        )
    # centroid norm priced once per centroid below the broadcast (r12,
    # guide §2.3) — the assignment projection previously re-derived it
    # per (vector, centroid) pairing. Same for the vector/query norms:
    # one column per input row, carried through ``nearest``'s
    # ``select(*df.columns, ...)`` into the final scoring join, which
    # then pays only the per-pair dot. Bit-identical cosine.
    centroids = F.broadcast(
        base_cents.withColumn("_ctn", norm(F.col("cent_v")))
    )

    def nearest(df, vcol, nrmcol, out, topn):
        scored = df.crossJoin(centroids).withColumn(
            "_d",
            dot(F.col(vcol), F.col("cent_v"))
            / (F.col(nrmcol) * F.col("_ctn")),
        )
        w = Window.partitionBy(df.columns[0]).orderBy(
            F.col("_d").desc(), F.col("cent_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= topn)
            .select(*df.columns, F.col("cent_id").alias(out))
        )

    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("cv")
    ).withColumn("_cn", norm(F.col("cv")))
    assigned = nearest(c, "cv", "_cn", "cluster", 1)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("_qn", norm(F.col("qv")))
    probed = nearest(q, "qv", "_qn", "cluster", nprobe)

    scored = (
        assigned.join(F.broadcast(probed), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            dot(F.col("qv"), F.col("cv"))
            / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id",
                (F.round("cos", 6) + F.lit(0.0)).alias("cos"), "rank")
    )

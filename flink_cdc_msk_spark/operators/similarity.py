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

    Every projection is the sequential fold — one compact HOF call per
    projection. An unrolled ``element_at`` chain is bit-identical but a
    32-projection × 64-term Project blows janino's 64 KB method limit
    and interprets after a failed compile (PERF §47 addendum).

    ``carry_vec=(vname, nvname)`` (wide form only): the float→double
    cast is HOISTED into its own projection (interpreted HOF projections
    get no subexpression elimination, so the T·P fold projections
    otherwise each re-run the transform) and the double vector + its
    norm are CARRIED through the explode as ``vname``/``nvname``
    columns, with the id cast to long — the entry relation
    lsh_near_dup_pairs verifies. Bit-identical buckets: same doubles
    through the same fold.
    """
    if carry_vec is not None:
        if not wide:
            raise ValueError("carry_vec requires wide=True")
        vname, nvname = carry_vec
        src = df.select(
            F.col(id_col).cast("long").alias("id"),
            as_double(vec_col).alias(vname),
        )
        vec, dims = F.col(vname), F.size(F.col(vname))
    else:
        src = df
        vec, dims = as_double(vec_col), F.size(F.col(vec_col))

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
                weights = portable_plane_weights(seed, t, p, portable_dims)
                proj = dot(vec, F.lit(weights))
            else:
                proj = F.aggregate(
                    F.zip_with(
                        vec,
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
        # in the verify (PERF §42 family). The heavy projections
        # evaluate once into the wide projection; the explode only
        # restructures.
        if carry_vec is not None:
            carry_sel = [F.col(vname), norm(F.col(vname)).alias(nvname)]
            carry_names = [vname, nvname]
        else:
            carry_sel, carry_names = [], []
        wide_df = src.select(
            F.col(id_col).alias("id") if carry_vec is None else F.col("id"),
            *carry_sel,
            *[e["bucket"].alias(f"tb{t}") for t, e in enumerate(entries)],
        )
        return _explode_tables(
            wide_df,
            n_tables,
            ["id", *carry_names, *[f"tb{t}" for t in range(n_tables)]],
        )
    return df.select(
        # explode_outer: plain explode makes InferFiltersFromGenerate push a
        # size()>0 filter that re-evaluates every heavy proj aggregate; the
        # array literal is never empty so outer semantics are identical
        F.col(id_col).alias("id"), F.explode_outer(F.array(*entries)).alias("tb")
    ).select("id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))


def _explode_tables(
    wide: DataFrame, n_tables: int, keep: list[str]
) -> DataFrame:
    """Wide (…, tb0..tb{T-1}) rows → one (keep…, table, bucket) row per
    table. explode_outer: plain explode makes InferFiltersFromGenerate
    push a size()>0 filter that re-evaluates every heavy projection; the
    array literal is never empty, so outer semantics are identical."""
    tb = F.array(
        *[
            F.struct(F.lit(t).alias("table"), F.col(f"tb{t}").alias("bucket"))
            for t in range(n_tables)
        ]
    )
    return wide.select(*keep, F.explode_outer(tb).alias("_tb")).select(
        *keep,
        F.col("_tb.table").alias("table"),
        F.col("_tb.bucket").alias("bucket"),
    )


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
    the identical fold. The id is cast to long on the way in, so an int
    id column meets the declared ``id long`` schema."""
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
        F.col(id_col).cast("long").alias("id"), F.col(vec_col)
    ).mapInArrow(gen, out_schema)


def _bucket_blas_pairs(
    entries: DataFrame, n_tables: int, threshold: float
) -> DataFrame:
    """In-bucket pair verify as ONE grouped numpy stage (guide §4.2 —
    the near_dup_pairs pattern applied per bucket): each (table, bucket)
    group computes its candidate pair dots batch-at-a-time.

    Same rows as the exact pair scan restricted to bucket-collision
    candidates (the DuckDB oracle's definition), by construction:

    * the per-pair dot uses the same left-deep sequential accumulation
      as the zip_with fold (``acc = acc + C[:, i] * V[:, i]`` per dim —
      one rounded multiply + one rounded add per element, no FMA, no
      BLAS re-association), and the denominator is the same single
      ``nv_i * nv_j`` multiply → the RAW cosine is bit-identical;
    * Python emits survivors of a CONSERVATIVE margin filter
      (``raw >= threshold - 1e-5``; round(x, 6) can raise x by at most
      5e-7, so no true survivor is dropped) and the exact
      ``round(·, 6) >= threshold`` happens in CATALYST on the returned
      raw value, so the final pair set and the emitted ``cos`` carry no
      numpy-vs-JVM rounding semantics;
    * a pair colliding in several tables is emitted once, from the
      lowest table it collides in — i<j and the lowest-matching-table
      rule are exact integer compares;
    * a zero-norm vector pairs with nothing: 0/0 is NaN and fails the
      margin compare (the oracle's 0/0 is NULL, which fails its filter).

    Shape: ONE hash repartition of the entry relation by (table,
    bucket) — corpus × T rows, linear, never pair-volume — then a
    mapInArrow stage that lexsorts its partition in numpy and walks the
    bucket boundaries, so thousands of small buckets amortize into one
    vectorized pass per TASK (a first cut used
    groupBy().applyInPandas — one pandas frame per bucket — and spent
    most of its wall in per-group conversion overhead: 8192 groups at
    sfx10-hi). Memory: the chunked accumulator is bounded at ~32 MB
    regardless of bucket size. A pathological single bucket still runs
    in one task — but at vectorized-numpy throughput, ~two orders faster
    than an interpreted per-pair fold (PERF §48)."""
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
) -> DataFrame:
    """Near-dup pairs restricted to LSH-candidate pairs — the scale path:
    every relation is corpus-sized (no full-matrix broadcast, no O(n²)
    scan, nothing pair-volume shuffles) and the cosine verify happens
    inside each (table, bucket) group. Output (id1 < id2, cos), the
    cosine rounded to 6 places: exactly the exact pair scan
    (:func:`near_dup_pairs_catalyst`) restricted to pairs that share a
    bucket in at least one table. Zero-norm vectors pair with nothing.

    ``portable_dims`` (the known vector width) switches to md5-parity
    hyperplanes, so the whole pipeline (buckets → in-bucket fold-order
    cosine) is reproducible in an external SQL engine — the registered
    queries run this form under a full DuckDB oracle.

    One pipeline, two stages:

    1. **Entries** — (id, v double[], nv, tb0..tb{T-1}, table, bucket),
       one row per (vector, table): the float→double cast, the norm and
       every hyperplane projection computed once per vector, and every
       table's bucket carried on each row for the lowest-table rule.
       With ``portable_dims`` one vectorized Arrow pass builds them
       (:func:`_arrow_wide_entries`); without it, the xxhash hyperplanes
       have no numpy twin, so the Catalyst fold projections do
       (:func:`random_hyperplane_buckets` with ``carry_vec``). Both
       produce the same buckets and doubles (pinned by test). The
       relation is ``localCheckpoint``ed so the verify reads one
       materialization instead of re-deriving the bucketing subtree.
    2. **Verify** — one hash exchange on (table, bucket), then one
       grouped-numpy ``mapInArrow`` stage (:func:`_bucket_blas_pairs`).

    A hot bucket of n vectors still costs C(n, 2) dots in one task —
    the operator's contract at a loose threshold (§24) — at vectorized
    throughput. The salted sort-merge verify and the other forms this
    replaced are recorded in PERF §43, §47 addendum, §48 and §52.
    """
    if portable_dims is not None:
        wide = _arrow_wide_entries(
            corpus, n_planes, n_tables, id_col, vec_col,
            dims=portable_dims,
        )
        # checkpoint pre-explode: 1/T the rows of the entry relation
        # (~corpus × (8·dims+overhead) bytes — an in-query bounded
        # intermediate, computed inside the timed region)
        wide = wide.localCheckpoint(eager=True)
        entries = _explode_tables(
            wide,
            n_tables,
            ["id", "v", "nv", *[f"tb{t}" for t in range(n_tables)]],
        )
    else:
        # bound: corpus × n_tables rows (post-explode entry relation —
        # id, v double[dims], nv, tb*), one per query invocation,
        # dropped with the DataFrame
        entries = random_hyperplane_buckets(
            corpus, n_planes, n_tables, id_col, vec_col,
            wide=True, carry_vec=("v", "nv"),
        ).localCheckpoint(eager=True)
    return _bucket_blas_pairs(entries, n_tables, threshold)


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

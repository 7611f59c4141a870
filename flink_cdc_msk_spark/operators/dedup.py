"""Deduplication operators for large-scale training-data pipelines.

Four families (SURVEY.md Part B, LLM-pipeline row):

  exact            hash-groupBy on the full text (or a fingerprint)
  token Jaccard    inverted-index self-join — exact set similarity, scalable
                   because the join fans out by *token*, not by doc pair
  MinHash + LSH    signature → banding → bucket join → verify; the 100 TB
                   path (candidate generation is linear in corpus size)
  SimHash          64-bit fingerprint, banded hamming-distance candidates

All candidate generation is pure DataFrame code (shuffles on token / band
keys — broadcast-free, skew handled by frequent-token pruning). Nothing
collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import shingles_from_tokens, tokens


def _unit_sets(
    df: DataFrame, text_col: str, id_col: str, ngram: int,
    hashed: bool = False,
) -> DataFrame:
    """→ (id, toks: array) distinct comparison units per doc — unigram
    tokens or positional word n-gram shingles; ``hashed=True`` renders each
    unit as its 64-bit xxhash (computed straight from the token triple —
    no shingle string is ever built) instead of a string. ~25% faster and
    far less shuffle weight; used by the MinHash path, whose downstream is
    hashing anyway. String units remain for the oracle-checked exact
    Jaccard (DuckDB computes string shingles).

    Tokenization is materialized in its own projection BEFORE the shingle
    transform: higher-order lambdas are interpreted, so an inlined tokenizer
    would re-run per element access (O(doc_len²)/row, ~14× slower at sf0.1;
    see shingles_from_tokens). CollapseProject keeps the boundary because
    the token array is referenced ``3×n`` times above it.

    Docs with fewer than ``ngram`` tokens (zero units) are dropped. The
    filter is on the TOKEN array, not the shingle array: a predicate on the
    shingle alias would be pushed below the projection with the whole
    transform() inlined (the quadratic trap again); ``size(_t)`` inlines
    only the linear tokenizer."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_t")
    ).filter(F.size("_t") >= ngram)
    t = F.col("_t")
    if hashed:
        if ngram == 1:
            units = F.transform(t, lambda x: F.xxhash64(x))
        else:
            k = F.size(t) - (ngram - 1)

            def shingle_hash(i):
                return F.xxhash64(
                    *[F.element_at(t, i + F.lit(j)) for j in range(ngram)]
                )

            units = F.transform(F.sequence(F.lit(1), k), shingle_hash)
    else:
        units = t if ngram == 1 else shingles_from_tokens(t, ngram)
    return base.select("id", F.array_distinct(units).alias("toks"))


# Persisted-unit-set memo: jaccard, minhash, simhash and containment all
# persist the SAME (corpus, ngram, hashed) unit-set plan; persist() eagerly
# re-ANALYZES the plan each call (~0.6s of higher-order-function analysis
# at sf0.1 — the dominant plan-build cost), and Spark's cache manager only
# dedups the STORAGE, not that analysis. Keyed by the analyzed plan's
# semanticHash, evicted when the owning SparkContext dies (same policy as
# sources.tables).
_UNITS_MEMO: dict[tuple, DataFrame] = {}

# Memo for the DF-ORDERED unit arrays (r8's sfx10 explosion fix): the
# df-ascending re-ordering costs a token-stream aggregation + merge join +
# re-collect, and it depends only on the (corpus, ngram, hashed) unit sets
# — NOT on the threshold — so it can price once per session exactly like
# the plain unit sets above. Without this memo every cold jaccard action
# re-ran the ordering (~0.9 s at sf0.1, the sole cause of the r8 one-shot
# bench regression).
_ORDERED_MEMO: dict[tuple, DataFrame] = {}


def _units_memo_key(
    df: DataFrame, text_col: str, id_col: str, ngram: int, hashed: bool
) -> tuple:
    return (
        df.sparkSession.sparkContext.applicationId,
        df._jdf.queryExecution().analyzed().semanticHash(),
        text_col, id_col, ngram, hashed,
    )


def _unit_sets_persisted(
    df: DataFrame, text_col: str, id_col: str, ngram: int, hashed: bool
) -> DataFrame:
    from ..sources.tables import evict_stale_entries

    evict_stale_entries(
        _UNITS_MEMO, df.sparkSession.sparkContext.applicationId
    )
    key = _units_memo_key(df, text_col, id_col, ngram, hashed)
    cached = _UNITS_MEMO.get(key)
    if cached is None:
        cached = _spread_and_persist(
            _unit_sets(df, text_col, id_col, ngram, hashed),
            df.sparkSession,
        )
        _UNITS_MEMO[key] = cached
    return cached


def _stage_ordered_units(rel: DataFrame, spark, stage_dir: str, key) -> DataFrame:
    """Materialize the ordered-units relation to SCRATCH PARQUET instead
    of an executor-memory persist (PERF §41, VERDICT r11 item 3): the
    build's window + collect shuffles complete and are RELEASED before
    any downstream exchange (prefix explode → posting groupBy → verify
    SMJs) goes live, so at most one corpus-linear exchange holds temp
    disk at a time. On a single box this is what lets the guarded
    jaccard fit sfxd100's ~720M occurrence rows inside a 76 GB temp
    budget; on a cluster the same knob doubles as a lineage cut (re-read
    beats recompute on executor loss for a relation this expensive).
    Gated by $SPARK_GRAFT_DEDUP_STAGE — a scratch dir the CALLER owns
    (cleanup included); unset means the default evictable persist.
    Idempotent per (app, corpus-key): re-entry re-reads the completed
    write (_SUCCESS-marked), so warm rounds pay zero build cost."""
    import hashlib

    app = spark.sparkContext.applicationId
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:12]
    path = os.path.join(stage_dir, f"{app}_ordered_{tag}")
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        rel.write.mode("overwrite").parquet(path)
        # nudge ContextCleaner: the build's ShuffleDependencies are now
        # unreachable, and their ~tens-of-GB spill files are exactly
        # what the staging exists to free before the join phase
        spark.sparkContext._jvm.System.gc()
    return spark.read.parquet(path)


def _ordered_units_persisted(
    df: DataFrame, text_col: str, id_col: str, ngram: int, hashed: bool
) -> tuple[DataFrame, DataFrame]:
    """(units, df_ordered) pair for jaccard_pairs, ONE materialization.

    The df-ascending ordering (see jaccard_pairs) is threshold-
    independent, so it memoizes under the same (corpus, ngram) session
    key as the unit sets. Three paths, cheapest that applies:

    - ordered memo warm → zero cost;
    - plain-units memo warm (a minhash/simhash call got there first) →
      build the ordering from the cached arrays (one token re-explode);
    - both cold → build the ordering FUSED from the corpus (tokenize →
      explode → dfreq → merge join → collect), persist ONLY the ordered
      relation, and back-fill the plain memo with a map-side
      ``transform(ord, x -> x.t)`` view of the same cache — every array
      consumer (minhash signatures, simhash, array_intersect verify) is
      element-order-invariant, so the view is a drop-in. One persist
      pass instead of two (measured 1.26 s vs 2.04 s at sf0.1); empty
      docs drop out of the grouped relation, which is also a no-op for
      consumers (a doc with zero units can never reach any similarity
      threshold).
    """
    from ..sources.tables import evict_stale_entries

    app_id = df.sparkSession.sparkContext.applicationId
    evict_stale_entries(_ORDERED_MEMO, app_id)
    evict_stale_entries(_UNITS_MEMO, app_id)
    key = _units_memo_key(df, text_col, id_col, ngram, hashed)

    def toks_view(ordered: DataFrame) -> DataFrame:
        return ordered.select(
            "id", F.transform("ord", lambda x: x["t"]).alias("toks")
        )

    us = _ORDERED_MEMO.get(key)
    if us is not None:
        return _UNITS_MEMO.get(key) or toks_view(us), us

    units = _UNITS_MEMO.get(key)
    if units is not None:
        tok = units.select("id", F.explode("toks").alias("t"))
        # warm units: dfreq from the cache (map-side partial agg) +
        # merge join — no second tokenize, no instance-volume window
        dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
        ordered = (
            tok.hint("merge")
            .join(dfreq, "t")
            .groupBy("id")
            .agg(
                F.sort_array(F.collect_list(F.struct("df", "t"))).alias(
                    "ord"
                )
            )
        )
    else:
        tok = (
            _unit_sets(df, text_col, id_col, ngram, hashed)
            .select("id", F.explode_outer("toks").alias("t"))
            .filter(F.col("t").isNotNull())
        )
        # df via WINDOW count over partitionBy(t): ONE tokenize pass,
        # ONE exchange (a groupBy+join shape tokenizes the corpus twice
        # — column pruning defeats ReuseExchange between the probe and
        # dfreq scans, verified on the executed plan). Cost model,
        # measured A/B/C at sfx10 (PERF §29): the window ships every
        # token INSTANCE (29.5 s) where a partial-agged dfreq +
        # tok-cache shape ships once and aggregates map-side (17.9 s) —
        # but the cache shape costs +0.7 s on every sf0.1 cold action,
        # and the materialization is <5% of the operator at sfx10, so
        # the single-pass window wins the deployment range this repo
        # benches. Past ~10⁹-token corpora flip to the tok-cache shape
        # (the comment in the warm branch is that shape). WindowExec
        # buffers each t-group in a spillable array — a stopword-
        # shingle group degrades to disk, never OOM.
        w = Window.partitionBy("t")
        ordered = (
            tok.select("id", "t", F.count(F.lit(1)).over(w).alias("df"))
            .groupBy("id")
            .agg(
                F.sort_array(F.collect_list(F.struct("df", "t"))).alias(
                    "ord"
                )
            )
        )
    sel = ordered.select(
        "id", "ord", F.size("ord").cast("long").alias("sz")
    )
    stage = os.environ.get("SPARK_GRAFT_DEDUP_STAGE")
    if stage:
        us = _stage_ordered_units(sel, df.sparkSession, stage, key)
    else:
        us = _spread_and_persist(sel, df.sparkSession)
    _ORDERED_MEMO[key] = us
    if units is None:
        units = toks_view(us)
        _UNITS_MEMO[key] = units
    return units, us


# ~docs per task for map-side work over the memoized unit sets: small
# enough that a 32-core box spreads a 10k-doc corpus, large enough that a
# task amortizes its ~10 ms scheduling cost against ~0.1-0.5 ms/doc of
# signature/posting work.
_UNITS_ROWS_PER_PARTITION = 1024


def _spread_and_persist(
    us: DataFrame,
    spark,
    rows_per_partition: int = _UNITS_ROWS_PER_PARTITION,
    key: str = "id",
    drop_base: bool = True,
) -> DataFrame:
    """Persist a relation, widening it first when the source scan was
    under-partitioned. A small parquet corpus scans as 1-2 partitions
    and a persisted relation inherits that — every downstream MAP-SIDE
    stage (MinHash signatures, banding, posting-list builds, PQ distance
    evaluation) would then run on 1-2 cores regardless of cluster size
    (PERF.md §18). The target is SIZE-aware, not a blanket
    defaultParallelism: a blanket repartition measurably regresses small
    corpora (32 near-empty tasks per stage of pure scheduling).
    Ordering matters: persist + count FIRST, read the partition count
    from the cached relation — asking the un-persisted plan (DataFrame
    .rdd under AQE) would materialize every upstream shuffle stage just
    to learn a number, executing the lineage once outside the cache.
    At real scale the scan is already wide and this is a no-op.

    ``drop_base``: callers that hold the result in their own memo (the
    dedup unit-set cache) should drop the narrow base cache once the
    spread copy exists. Callers WITHOUT a memo (pq_adc_topk) must keep
    it: they re-enter this function per call and rely on CacheManager's
    canonical-plan dedupe — unpersisting the base would force a full
    rebuild of both caches on every subsequent call."""
    import math

    par = spark.sparkContext.defaultParallelism
    # bound: `us` is the caller's reduced unit relation (tokens /
    # signatures / codes — fixed-width rows, ~1-5% of corpus text);
    # evictable StorageLevel, spills to disk before OOM
    base = us.persist()
    n_rows = base.count()
    n_in = base.rdd.getNumPartitions()  # cached now — no recompute
    target = min(par, math.ceil(max(n_rows, 1) / rows_per_partition))
    if target <= n_in:
        return base
    # bound: same rows as `base` (a repartitioned copy — the base cache
    # is dropped below when the caller memoizes the spread handle)
    spread = base.repartition(target, key).persist()
    if drop_base:
        spread.count()  # materialize from the base cache before dropping
        base.unpersist()
    return spread


def distinct_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ngram: int = 1, hashed: bool = False,
) -> DataFrame:
    """→ (id, token) distinct pairs — the inverted-index building block.

    ``ngram > 1`` uses word shingles: on corpora with a shared vocabulary
    (worst case for unigrams — every token maps to every doc and the
    inverted join degenerates to O(n²)) shingles keep posting lists short,
    which is what makes this strategy survive 100 TB.

    ``explode_outer`` + null-filter instead of ``explode``: plain explode
    triggers InferFiltersFromGenerate, which pushes an inferred
    ``size(toks) > 0`` Filter BELOW the projection — re-inlining the whole
    interpreted shingle pipeline into the filter (measured 10×+ slowdown).
    explode_outer infers nothing; empty docs yield one null row, dropped by
    the cheap attribute filter."""
    return (
        _unit_sets(df, text_col, id_col, ngram, hashed)
        .select("id", F.explode_outer("toks").alias("token"))
        .filter(F.col("token").isNotNull())
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep min-id doc per identical text. One shuffle on the text hash."""
    return df.groupBy(F.col(text_col).alias("text")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


_POSTING_WARN_LEN = 10_000  # a single C(10k, 2) list is ~5e7 candidate
# rows — survivable once, a scale-killer when the duplication profile
# repeats it (PERF §41's sfxd30 failure was C(30,2) x 66k base docs)

# last degeneracy warning emitted, for tests / observability dashboards
LAST_DEGENERACY_WARNING: dict | None = None


def _check_posting_metrics(metrics: dict) -> str | None:
    """Pure decision core of the degeneracy warning (unit-testable)."""
    m = metrics.get("max_list")
    if m is not None and m > _POSTING_WARN_LEN:
        return (
            f"unguarded set-similarity join: largest prefix posting list "
            f"has {m} docs (> {_POSTING_WARN_LEN}) across "
            f"{metrics.get('n_lists')} lists — candidate volume is "
            f"Σ C(|list|,2) and can exceed single-box shuffle disk on "
            f"duplication-heavy corpora (PERF §41). Production at scale "
            f"sets max_token_freq; results here are still exact."
        )
    return None


# degeneracy-probe thread bound (VERDICT r12 item 6): the watcher polls
# instead of blocking, so a plan that is constructed but never
# materialized (interactive sessions, test collection) cannot park a
# thread forever. Module-level so tests can shrink the bound.
_PROBE_POLL_S = 0.5
_PROBE_MAX_WAIT_S = 600.0


def _observation_ready(obs) -> bool:
    """Non-blocking peek at whether ``obs``'s first action has delivered
    its metrics: Scala ``Observation.getRowOrEmpty`` (package-private,
    public in bytecode) returns ``Option[Row]`` (``getOrEmpty`` NPEs
    before a value exists)."""
    return not obs._jo.getRowOrEmpty().isEmpty()


def _warn_on_degenerate_postings(posting: DataFrame) -> DataFrame:
    """Attach a LOG-ONLY degeneracy probe to an unguarded posting-list
    relation: an ``observe`` metric (max posting size) piggybacks on
    whatever action the caller eventually runs — zero extra jobs, zero
    row changes — and a bounded daemon thread logs a warning if the
    corpus turns out duplication-degenerate (VERDICT r11 item 5). The
    watcher POLLS the observation (non-blocking peek, up to
    ``_PROBE_MAX_WAIT_S``) rather than parking on ``obs.get``, so
    never-materialized plans leak no threads (VERDICT r12 item 6)."""
    import logging
    import threading
    import time as _time

    from pyspark.sql import Observation

    obs = Observation()
    posting = posting.observe(
        obs,
        F.max(F.size("docs")).alias("max_list"),
        F.count(F.lit(1)).alias("n_lists"),
    )

    def _watch() -> None:
        global LAST_DEGENERACY_WARNING
        try:
            deadline = _time.monotonic() + _PROBE_MAX_WAIT_S
            while not _observation_ready(obs):
                if _time.monotonic() >= deadline:
                    return  # plan never ran within the bound — give up
                _time.sleep(_PROBE_POLL_S)
            metrics = obs.get
        except Exception:
            # peek unavailable (API drift / connect session): give up
            # rather than park on an unbounded obs.get
            return
        msg = _check_posting_metrics(metrics)
        if msg is not None:
            LAST_DEGENERACY_WARNING = dict(metrics)
            logging.getLogger(__name__).warning(msg)

    threading.Thread(
        target=_watch, name="jaccard-degeneracy-probe", daemon=True
    ).start()
    return posting


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_freq: int | None = None,
    ngram: int = 1,
    hashed: bool = True,
    _single_exchange_cands: bool = True,
) -> DataFrame:
    """All (i<j) pairs with token-set Jaccard >= threshold, via
    inverted-index POSTING LISTS (explode units → group by unit into a
    (id, sz) posting list → emit size-ratio-surviving pairs per list →
    count intersections → |A∩B| / (|A|+|B|-|A∩B|)).

    ``hashed=True`` (default) keys on 64-bit unit hashes instead of
    shingle strings — Jaccard depends only on set sizes and intersection
    counts, which are hash-invariant modulo 64-bit collisions
    (P ≈ n²/2⁶⁵ ≈ 3e-9 for 350k distinct units), so results still match a
    string-shingle oracle bit-for-bit; measured ~27% faster with far less
    shuffle weight.

    ``max_token_freq`` drops prefix units whose posting list exceeds the
    cutoff — the standard skew guard at scale (a unit in every doc
    creates an O(n²) pair blow-up; bounding the list bounds it, at the
    cost of possibly missing pairs whose only shared prefix unit was
    pruned; leave None for exact).

    PRODUCTION AT SCALE SETS ``max_token_freq``. The unguarded form is
    the exact-pair-set ORACLE CONTRACT, and its candidate volume is
    Σ C(|prefix posting list|, 2) — on duplication-heavy corpora that is
    quadratic in the duplicate-group size *independent of threshold*:
    PERF §41 measured the unguarded form exhausting a 76 GB shuffle-disk
    box at sfxd30 (2.0M docs, replica-planted) while the guarded twin
    (``dedup_token_jaccard_pruned``, its own full oracle) finished in
    46.8 s. Size the cutoff to bound C(K,2) per list for your
    duplication profile; when left None on real data, a log-only
    degeneracy warning fires if any prefix posting list exceeds
    ``_POSTING_WARN_LEN`` (no behavior change — see
    ``_warn_on_degenerate_postings``).

    PREFIX FILTERING (AllPairs / PPJoin family — Bayardo et al. WWW'07,
    Xiao et al. WWW'08 Lemma 1): with every unit array sorted in one
    global total order — DOCUMENT FREQUENCY ascending, unit hash as
    tiebreak, the papers' canonical ordering (see the inline note at
    the index build for why hash order degenerates) — two sets with
    J(A,B) ≥ τ must have |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and any two sorted
    sets with overlap ≥ α share an element within their first
    (|·| − α + 1) elements. So indexing only each doc's first
    ``sz − ⌈τ·sz⌉ + 1`` units is EXACT: every qualifying pair
    co-occurs in some prefix posting list. At τ=0.8 this puts ~20% of
    units through the shuffle instead of 100% and cuts the distinct
    candidate pairs to 190k at sf0.1 (vs 1.15M raw pair rows through the
    old intersection-count shuffle); survivors are verified with one
    ``array_intersect`` per candidate.

    Size-ratio prune, applied per posting list during candidate gen:
    J(A,B) ≤ min/max of the sizes, so any pair failing ``τ·max ≤ min``
    cannot reach τ and is skipped EXACTLY — it never enters the second
    shuffle.

    Plan shape: the per-doc unit arrays (id, toks) are persisted
    (fixed-width hashes, far smaller than the corpus text); the df
    aggregation + df-ordered re-collect add two linear shuffles over
    the exploded token stream, then prefix explode → posting lists →
    candidate pairs (2 more shuffles), and two sort-merge joins bring
    the full arrays back for verification. Candidate volume ≈ output
    volume under df ordering, so the verify joins are linear in the
    result, never in the corpus²."""
    # persist the PLAIN unit sets (not the sorted projection): this is the
    # exact logical plan minhash/simhash/containment build for the same
    # (corpus, ngram) — the memoized handle means one materialization AND
    # one plan analysis serves every dedup operator in the session.
    # sort_array (needed only for the prefix index) is a cheap derived
    # projection; the verify joins use the unsorted arrays —
    # array_intersect doesn't care.
    # GLOBAL ORDER = (document frequency ASC, unit hash ASC) — the
    # AllPairs/PPJoin papers' canonical ordering (Bayardo et al. WWW'07
    # §3.1, "order by increasing frequency"), NOT plain hash order.
    # Prefix filtering is exact under ANY fixed total order, but the
    # CANDIDATE VOLUME is Σ C(|posting list|, 2) over prefix lists, and
    # hash order puts frequent units into prefixes uniformly: the
    # round-8 sfx10 run (495k docs) found the planted near-dup SUFFIX
    # shingles (df ≈ 70k) landing in prefixes under hash order — a
    # single such posting list double-explodes into C(70k,2) ≈ 2.4e9
    # candidate rows, and the run died spilling the distinct to disk
    # exhaustion. df-ascending puts each doc's RAREST units in its
    # prefix, bounding every prefix posting list by the near-dup group
    # size. The ordering costs one window-df pass + one re-collect, both
    # linear in corpus tokens — memoized (r9) in _ORDERED_MEMO so it
    # prices once per (corpus, ngram) session key, not per cold action.
    units, us = _ordered_units_persisted(df, text_col, id_col, ngram, hashed)
    plen = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + F.lit(1)
    ).cast("int")
    # posexplode: carry each prefix unit's 0-based POSITION in the
    # df-sorted array — feeds the PPJoin position filter below.
    pref = us.select(
        "id", "sz", F.posexplode(F.slice("ord", F.lit(1), plen))
    ).select("id", "sz", "pos", F.col("col.t").alias("token"))
    posting = (
        pref.groupBy("token")
        .agg(F.collect_list(F.struct("id", "sz", "pos")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_token_freq is not None:
        posting = posting.filter(F.size("docs") <= max_token_freq)
    else:
        posting = _warn_on_degenerate_postings(posting)

    # candidate generation: double explode (posting list → x, → y) keeps
    # the pair blow-up inside codegen'd Generate nodes — measured ~40%
    # faster than a nested higher-order transform (interpreted) and the
    # expression tree is far smaller (less driver plan-build time)
    th = F.lit(threshold)
    ex = posting.select("docs", F.explode("docs").alias("x")).select(
        "x", F.explode("docs").alias("y")
    )
    # POSITION FILTER (PPJoin, Xiao et al. WWW'08 Lemma 2): J ≥ τ needs
    # overlap I ≥ τ·(szx+szy)/(1+τ). For the pair's FIRST common prefix
    # unit (sorted order), every common unit sits at or after its
    # position in both arrays, so I ≤ 1 + min(szx−posx−1, szy−posy−1).
    # Instances where the bound can't reach the requirement are dropped;
    # the pair still surfaces through its first co-occurrence (where the
    # bound is valid), so the distinct'd candidate set loses no true
    # pair — EXACT, like the prefix and size-ratio prunes. The 1e-9
    # slack keeps float ceil() from over-rounding an exact-integer
    # requirement (prunes conservatively, never falsely).
    required = F.ceil(
        (F.col("x.sz") + F.col("y.sz")) * th / (F.lit(1.0) + th)
        - F.lit(1e-9)
    )
    overlap_bound = F.lit(1) + F.least(
        F.col("x.sz") - F.col("x.pos") - 1, F.col("y.sz") - F.col("y.pos") - 1
    )
    surviving = ex.filter(
        (F.col("x.id") < F.col("y.id"))
        & (F.col("x.sz") * th <= F.col("y.sz"))
        & (F.col("y.sz") * th <= F.col("x.sz"))
        & (overlap_bound >= required)
    ).select(F.col("x.id").alias("id1"), F.col("y.id").alias("id2"))
    if _single_exchange_cands:
        # ONE exchange for dedup + the first verify join (r12, guide
        # §2.4 "share one exchange"): a plain .distinct() plans
        # Exchange(id1,id2) and the id1-keyed SMJ then plans a SECOND
        # Exchange(id1) of the very same pair set. Repartitioning the
        # raw survivors by id1 first lets hashpartitioning(id1) satisfy
        # BOTH the (id1,id2) dedup's ClusteredDistribution AND the
        # verify join's — the pair set crosses the wire once. Trade:
        # the map-side partial dedup below the old first exchange is
        # lost, but candidate multiplicity under the position filter is
        # low (measured 1.48× at sf0.1: 32,236 instances / 21,849
        # distinct — the PPJoin candidate≈output property), so the one
        # exchange carries ~1.5× rows instead of two exchanges at ~1×
        # each, and one whole shuffle barrier + sort disappears.
        cands = surviving.repartition(F.col("id1")).dropDuplicates(
            ["id1", "id2"]
        )
    else:
        cands = surviving.distinct()
    # verify joins: MERGE (sort-merge) on BOTH — the only join strategy
    # here with no non-spillable structure.  Unhinted, Catalyst's stats
    # for the persisted unit arrays can land under the broadcast
    # threshold at test scale, and a driver-side broadcast of a
    # CORPUS-sized relation is exactly wrong at 100 TB; shuffle-hash
    # (the pre-r8 choice for join 1) builds an in-memory hash relation
    # that CANNOT spill — candidates ≈ output volume (§12), and on a
    # duplicate-heavy corpus output is quadratic in group size, so the
    # build dies exactly when the workload gets interesting (sfx10,
    # 495k docs ≈ 24M true pairs: "can't acquire 1 GB to build hash
    # relation" — the round-8 scaling run caught it).  SMJ sorts spill
    # to disk and AQE's skew-join splitting applies, so the verify path
    # degrades gracefully at any scale.
    verified = (
        cands.hint("merge")
        .join(
            units.select(
                F.col("id").alias("id1"),
                F.col("toks").alias("t1"),
                F.size("toks").cast("long").alias("sz1"),
            ),
            "id1",
        )
        .hint("merge")
        .join(
            units.select(
                F.col("id").alias("id2"),
                F.col("toks").alias("t2"),
                F.size("toks").cast("long").alias("sz2"),
            ),
            "id2",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("t1", "t2")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")),
                6,
            ),
        )
    )
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int,
    hashed: bool,
    max_token_freq: int | None,
    size_ratio: float | None,
) -> DataFrame:
    """Posting-list core shared by the set-similarity operators:
    → (id1, sz1, id2, sz2, inter) for every co-occurring (i<j) doc pair.
    ``size_ratio=τ`` applies the exact Jaccard prune (τ·max ≤ min) inside
    each posting list; pass None for asymmetric measures (containment)
    where large/small pairs are the signal, not noise."""
    us = _unit_sets(df, text_col, id_col, ngram, hashed)
    toks = (
        us.select(
            "id",
            F.size("toks").cast("long").alias("sz"),
            F.explode_outer("toks").alias("token"),
        )
        .filter(F.col("token").isNotNull())
    )
    posting = (
        toks.groupBy("token")
        .agg(F.collect_list(F.struct("id", "sz")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_token_freq is not None:
        posting = posting.filter(F.size("docs") <= max_token_freq)
    else:
        posting = _warn_on_degenerate_postings(posting)

    # pair blow-up via double explode (codegen Generate), not nested
    # interpreted transforms — same lesson as jaccard_pairs, measured 2×
    # at 10× volume
    ex = posting.select("docs", F.explode("docs").alias("x")).select(
        "x", F.explode("docs").alias("y")
    )
    cond = F.col("x.id") < F.col("y.id")
    if size_ratio is not None:
        th = F.lit(size_ratio)
        cond = (
            cond
            & (F.col("x.sz") * th <= F.col("y.sz"))
            & (F.col("y.sz") * th <= F.col("x.sz"))
        )
    return (
        ex.filter(cond)
        .groupBy(
            F.col("x.id").alias("id1"),
            F.col("x.sz").alias("sz1"),
            F.col("y.id").alias("id2"),
            F.col("y.sz").alias("sz2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_freq: int | None = None,
    ngram: int = 1,
    hashed: bool = True,
) -> DataFrame:
    """All (i<j) pairs where the SMALLER unit set is ``threshold``-contained
    in the larger: max-containment C = |A∩B| / min(|A|,|B|) >= τ — the
    subset-duplication detector Jaccard misses (a short doc quoted inside
    a long one has tiny Jaccard but containment ≈ 1; standard alongside
    Jaccard in corpus dedup). Same posting-list plan as
    :func:`jaccard_pairs` minus the size-ratio prune, which would delete
    exactly the asymmetric pairs this operator exists to find."""
    inter = _pair_intersections(
        df, text_col, id_col, ngram, hashed, max_token_freq, size_ratio=None
    )
    return (
        inter.withColumn(
            "containment",
            F.round(F.col("inter") / F.least("sz1", "sz2"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "containment")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 4,
    id_col: str = "id",
) -> DataFrame:
    """→ (id, cluster) labels via ``iters`` rounds of min-label
    propagation over an undirected edge set — the cluster-resolution
    stage after pairwise near-dup detection (keep one doc per cluster).

    Exact for components whose diameter ≤ ``iters`` (near-dup clusters
    are small and dense — a clone group's diameter is 1 or 2); label =
    the minimum node id in the component, so output is deterministic and
    engine-independent, which is what makes a fixed-iteration oracle
    cross-check possible at all.

    Scale: each round is one join (edges ⋈ labels, shuffled on node id)
    + one groupBy — the standard DataFrame large-graph CC loop. The loop
    count is a fixed small constant, never data-dependent driver logic.
    ``edges`` and each round's ``labels`` are persisted: every round
    references the previous labels TWICE (the neighbor join and the
    carry-through), so an unpersisted loop re-evaluates round 0's
    subtree 2^iters times — the plan census showed 15 SortMergeJoins
    and 60 scans for 4 rounds before caching, 1 edge evaluation after.
    (At true 100 TB scale swap persist for checkpoint to also truncate
    lineage; blocks here are two longs per node/edge.)"""
    und = (
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionByName(
            edges.select(
                F.col("id2").alias("src"), F.col("id1").alias("dst")
            )
        )
        .persist()  # bound: 2|E| rows x two longs (both edge directions)
    )
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("lbl")
    )
    for _ in range(iters):
        nbr_min = (
            und.join(labels, und["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(
                    "lbl", F.coalesce("nbr_lbl", F.col("lbl"))
                ).alias("lbl"),
            )
            # bound: |V| rows x two longs per iteration; iters is a
            # small constant (label-propagation rounds), and eviction
            # is safe — a dropped round recomputes from the prior cache
            .persist()
        )
    return labels.select("id", F.col("lbl").alias("cluster"))


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """→ (id, h0..h{k-1}) MinHash signature per doc.

    Hash family: ``xxhash64(unit_hash, seed=i)`` over 64-bit hashed units
    (see _unit_sets(hashed=True)) — deterministic, JVM-side, no Python.
    Entirely MAP-SIDE: signature i is
    ``array_min(transform(toks, h -> xxhash64(h, i)))`` over the per-doc
    distinct unit array — no explode, no shuffle (12× faster than the
    explode+groupBy formulation at sf0.1; at cluster scale it avoids an
    O(total tokens) shuffle entirely).
    """
    us = _unit_sets(df, text_col, id_col, ngram, hashed=True)
    return _signatures_from_units(us, num_hashes)


def _signatures_from_units(us: DataFrame, num_hashes: int) -> DataFrame:
    """(id, toks) → (id, h0..h{k-1}); see minhash_signatures."""

    def hash_fn(i: int):
        # NB: must be a 1-arg lambda — a second param (even a default like
        # ``i=i``) makes PySpark bind it as the (element, index) form and
        # the seed silently becomes the array index
        return lambda t: F.xxhash64(t, F.lit(i))

    sig_cols = [
        F.array_min(F.transform("toks", hash_fn(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return us.select("id", *sig_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Pipeline: signatures → per-band bucket key = xxhash64 of the band's
    rows → self-join per (band, bucket) → distinct candidates → verify
    with exact token-set Jaccard (computed only for candidates — the
    verify join is linear in candidate count). Scales as O(corpus) for
    candidate generation vs O(corpus²) brute force.
    """
    rows_per_band = num_hashes // bands
    # one tokenize+shingle pass feeds BOTH the signatures and the verify
    # join below; persisted (memoized handle — shared with jaccard et al.)
    # because hashed unit arrays are fixed-width and small next to the
    # corpus text (re-deriving them costs a corpus scan)
    units = _unit_sets_persisted(df, text_col, id_col, ngram, hashed=True)
    sigs = _signatures_from_units(units, num_hashes)
    bucket_cols = [
        F.xxhash64(
            *[
                F.col(f"h{i}")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    band_entries = [
        F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bucket"))
        for b in range(bands)
    ]
    banded = (
        sigs.select("id", *bucket_cols)
        .select(
            # explode_outer: avoids an inferred size()>0 filter
            # duplicating the band-hash expressions (explode would re-run
            # every signature aggregate inside an inferred filter; the
            # array literal is never empty). Each exploded row CARRIES
            # all `bands` bucket values — they feed the lowest-matching-
            # band filter below, which replaces the pair-distinct.
            "id",
            *[f"b{b}" for b in range(bands)],
            F.explode_outer(F.array(*band_entries)).alias("bb"),
        )
        .select(
            "id",
            *[f"b{b}" for b in range(bands)],
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        .persist()
    )
    # persist: the candidate self-join references `banded` twice; without
    # the cache each side re-tokenizes and re-signatures the whole corpus
    # (bound: n·bands rows x (bands+3) longs — tiny next to the corpus)

    x = banded.alias("x")
    y = banded.alias("y")
    # lowest-matching-band dedup (PERF §42 — the pHash emission rule
    # applied to MinHash): a pair colliding in several bands is kept
    # only at its LOWEST matching band, so each candidate pair is
    # emitted EXACTLY ONCE and the former `.distinct()` — a shuffle of
    # every (pair x matching-band) instance, 6x the distinct pair count
    # on near-dup-dense corpora and 55% of warm wall time at sfx10 —
    # disappears. The filter is `bands-1` long-compares on values
    # already in the join row, evaluated in-stream before anything
    # shuffles.
    lowest = F.lit(True)
    for lo in range(bands - 1):
        lowest = lowest & (
            ~(
                (F.col("x.band") > lo)
                & (F.col(f"x.b{lo}") == F.col(f"y.b{lo}"))
            )
        )
    candidates = (
        # MERGE hint: both sides of the bucket self-join are the full
        # banded relation (n·bands rows — corpus-sized at 100 TB), so
        # neither may broadcast (Catalyst's stats for the persisted
        # relation can fall under the threshold at test scale) and a
        # hash build of a whole side can't spill; sort-merge shuffles
        # once on the bucket key and spills gracefully.
        x.hint("merge").join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .filter(lowest)
        .select(F.col("x.id").alias("id1"), F.col("y.id").alias("id2"))
    )

    # verify candidates with exact token-set Jaccard via array ops, over
    # hashed units (identical set sizes modulo 64-bit collisions)
    sets = units
    return (
        # MERGE on both verify joins: never broadcast the corpus-sized
        # unit arrays, and never build a non-spillable hash relation of
        # the candidate pairs — on a duplicate-heavy corpus candidates
        # are quadratic in group size and the build OOMs one decade up
        # (see the jaccard_pairs verify note; round-8 sfx10 finding).
        candidates.hint("merge")
        .join(
            sets.withColumnsRenamed({"id": "id1", "toks": "toks1"}), "id1"
        )
        .hint("merge")
        .join(sets.withColumnsRenamed({"id": "id2", "toks": "toks2"}), "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("toks1", "toks2"))
                / F.size(F.array_union("toks1", "toks2")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """→ (id, simhash) ``n_bits``-bit SimHash per doc.

    Per token: xxhash64 by default, or a pluggable ``token_hash``
    (Column → Column) — pass :func:`..functions.text.md5_hash60` with
    ``n_bits=60`` for an engine-portable fingerprint a DuckDB oracle can
    reproduce bit-for-bit. Per bit: +1 if set else -1, summed over
    tokens; fingerprint bit i = sign of sum. Entirely MAP-SIDE: the
    token-hash array is materialized once per row (its own projection —
    referenced ``n_bits`` times, so CollapseProject keeps the boundary),
    then ``n_bits`` ``aggregate`` passes fold it. No explode, no shuffle
    (~2× faster than explode + groupBy at sf0.1; avoids an O(total
    tokens) shuffle at cluster scale)."""
    if token_hash is None:
        hashed = _unit_sets(df, text_col, id_col, 1, hashed=True).select(
            "id", F.col("toks").alias("th")
        )
    else:
        hashed = _unit_sets(df, text_col, id_col, 1, hashed=False).select(
            "id", F.transform("toks", token_hash).alias("th")
        )

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            "th",
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        )

    agg = hashed.select(
        "id", *[bit_sum(i).alias(f"b{i}") for i in range(n_bits)]
    )
    fp = None
    for i in range(n_bits):
        bit = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return agg.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming via 4-band banding
    (band width = n_bits/4 — 16 bits for the default 64, 15 for the
    portable 60-bit variant).

    Pigeonhole: any pair within hamming distance 3 agrees exactly on at
    least one of 4 disjoint bands → candidates = bucket-join on band
    value, then exact bit_count(xor) verify. Linear candidate
    generation, no cross product."""
    assert n_bits % 4 == 0 and max_hamming < 4
    width = n_bits // 4
    mask = (1 << width) - 1
    fps = simhash64(df, text_col, id_col, token_hash, n_bits)
    bands = fps.select(
        "id",
        "simhash",
        F.explode_outer(  # outer: skip inferred-filter duplication
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    x = bands.alias("x")
    y = bands.alias("y")
    # lowest-matching-band dedup (the minhash/pHash emission rule, PERF
    # §42): keep the pair only where no EARLIER band also agrees —
    # exactly-once emission replaces the pair-distinct shuffle. Unlike
    # minhash, no extra carried columns: every band value is derivable
    # in-row from the simhash both sides already carry.
    lowest = F.lit(True)
    for lo in range(3):
        agrees = (
            F.shiftright(F.col("_sx"), lo * width).bitwiseAND(F.lit(mask))
            == F.shiftright(F.col("_sy"), lo * width).bitwiseAND(
                F.lit(mask)
            )
        )
        lowest = lowest & (~((F.col("band") > lo) & agrees))
    return (
        # MERGE hint: corpus-sized self-join, same rationale as the
        # minhash bucket join — never broadcast, spillable sort-merge.
        x.hint("merge").join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id1"),
            F.col("y.id").alias("id2"),
            F.col("x.band").alias("band"),
            F.col("x.simhash").alias("_sx"),
            F.col("y.simhash").alias("_sy"),
        )
        .filter(lowest)
        .select(
            "id1",
            "id2",
            F.bit_count(
                F.col("_sx").bitwiseXOR(F.col("_sy"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def md5_slice32(col, slot: int = 0):
    """Engine-portable 32-bit hash: the ``slot``-th 8-hex slice of the
    md5 digest, parsed as an integer — no 64-bit multiply (which ANSI
    mode would overflow) and an exact DuckDB twin
    (:func:`md5_slice32_sql`). The single definition of the portable
    hash contract: bloom bits, DSIR feature buckets, Gumbel seeds, and
    the source-overlap minhash family all derive from it."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("binary")), 1 + 8 * slot, 8), 16, 10
    ).cast("long")


def md5_slice32_sql(expr: str, slot: int = 0) -> str:
    """DuckDB twin of :func:`md5_slice32`."""
    return (
        f"CAST(concat('0x', substr(md5({expr}), {1 + 8 * slot}, 8)) "
        f"AS BIGINT)"
    )


def _bloom_bit(text_col, slot: int, m_bits: int):
    """Bloom position: :func:`md5_slice32` mod m — three
    independent-enough hash functions from the disjoint slices."""
    return F.pmod(md5_slice32(text_col, slot), F.lit(m_bits))


def bloom_bit_sql(expr: str, slot: int, m_bits: int) -> str:
    """DuckDB twin of :func:`_bloom_bit`."""
    return f"{md5_slice32_sql(expr, slot)} % {m_bits}"


def bloom_prefilter_dedup(
    df: DataFrame,
    ref_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> DataFrame:
    """Exact cross-pool dedup with a distributed Bloom prefilter: which
    candidate docs (``~ref_filter``) duplicate a reference-pool doc
    (``ref_filter``)? → (doc_id, ref_id = smallest duplicate ref id).

    The scale pattern: the reference pool renders to a BIT-SET TABLE
    (distinct bloom positions of its texts — at most ``m_bits`` ints,
    broadcastable at any corpus size) instead of shipping reference
    texts. Candidates probe the broadcast bit-set map-side; only docs
    whose ``num_hashes`` positions are all present (bloom "might
    contain" — false positives possible, false negatives impossible)
    reach the exact text equi-join. At 100 TB the prefilter turns a
    corpus×corpus shuffle into (tiny bit-set broadcast) + (exact join
    over the ~duplicate-sized survivor set).

    Exactness: the bloom layer only prunes; the final text join makes
    the output exact, so a DuckDB oracle reproduces it bit-for-bit
    (and implicitly certifies the no-false-negative property)."""
    ref = df.filter(ref_filter)
    cand = df.filter(~ref_filter)
    slots = list(range(num_hashes))
    bits = (
        ref.select(
            F.explode(
                F.array(*[_bloom_bit(text_col, j, m_bits) for j in slots])
            ).alias("bit")
        )
        .distinct()
    )
    probe = cand.select(
        F.col(id_col).alias("_pid"),
        F.posexplode(
            F.array(*[_bloom_bit(text_col, j, m_bits) for j in slots])
        ).alias("slot", "bit"),
    )
    might = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("_pid")
        .agg(F.count_distinct("slot").alias("nhit"))
        .filter(F.col("nhit") == num_hashes)
        .select("_pid")
    )
    survivors = cand.join(
        might, cand[id_col] == F.col("_pid"), "left_semi"
    )
    ref_min = ref.groupBy(text_col).agg(F.min(id_col).alias("ref_id"))
    return (
        survivors.join(ref_min, text_col)
        .select(F.col(id_col).alias("doc_id"), "ref_id")
    )

"""Round-10 additions: the Rabin-Karp boundary fast path for
offset-invariant substring dedup (VERDICT r9 "Next round" item 1).

``text_substring_dedup_cdc`` (round 9) pays one md5 — and one
O(position) substring scan — PER CHARACTER for its chunk boundaries:
31.5 s at sfx1 vs the aligned twin's 1.79 s (PERF §31). The boundary
function is a map-side projection, so the fix changes no shuffle:
``text_substring_dedup_rk`` runs the SAME corpus -> chunks -> cross-doc
spans pipeline with the anchor hash swapped for a Rabin-Karp polynomial
window hash evaluated as a batch-vectorized Arrow UDF
(``functions/rolling_hash.py`` — O(1) amortized arithmetic per
character, the whole Arrow batch hashed as one numpy array).

Both boundary modes stay registered: the md5 form is the cross-engine
parity baseline; this form is the 100 TB path. The RK hash is plain
integer arithmetic, so the DuckDB oracle re-derives THESE boundaries
from first principles too (8 explicit polynomial terms in portable
SQL) — the fast path gets a full row/schema/value-hash gate, not a
weaker rows-only check. Anchor positions differ between the modes (by
design — any content-defined hash works); chunk-length distribution
and detection semantics are identical, pinned by the same
unaligned-plant property test.

Reference parity note: the reference repo (yhyyz/flink-cdc-msk) has no
data-curation surface — Part-B capability closure (SURVEY.md §2).
"""

from __future__ import annotations

from ..functions.rolling_hash import (
    RK_M,
    RK_W,
    rk_anchor_filter_duckdb,
    rk_byte_anchors,
)
from .llm_pipeline import DOCS_WITH_NEAR_DUPS_SQL, _docs_with_near_dups
from .registry import register
from .round9_extras import (
    CDC_M,
    CDC_W,
    _cdc_chunks,
    _cdc_chunks_sql,
    _dup_span_oracle,
    _dup_span_report,
    _lsh_oracle_sql,
)

# the two boundary modes must chunk at the same window/density for the
# A/B and the shared property tests to be apples-to-apples
assert RK_W == CDC_W and RK_M == CDC_M

_RK_CHUNKS_SQL = _cdc_chunks_sql(rk_anchor_filter_duckdb("i"))


@register(
    "text_substring_dedup_rk",
    oracle=_dup_span_oracle(_RK_CHUNKS_SQL),
)
def text_substring_dedup_rk(spark, sf_dir):
    """Offset-invariant exact-substring dedup, Rabin-Karp boundary mode:
    identical detection contract and shuffle count to
    ``text_substring_dedup_cdc`` (one map-side chunk projection, a
    window over chunk text, a window over doc_id) with the per-character
    md5 replaced by vectorized integer arithmetic — the declared 100 TB
    refinement of the round-9 operator (at 100 TB the boundary function
    dominates; ~10^14 md5 calls become W fused numpy multiply-adds per
    Arrow batch). PERF §33 records the same-corpus A/B."""
    return _dup_span_report(
        _cdc_chunks(_docs_with_near_dups(spark, sf_dir), boundary="rk")
    )


# Planted near-dup vectors: the test embeddings are diffuse (max pair
# cosine 0.45 at sf0.01, 0.55 at sf0.1 — measured), so a cos>=0.8 query
# over the raw table would gate on an empty result. Clone the first
# _PLANT_N vectors with one dimension nudged (+0.1 in DOUBLE, after the
# exact float->double widening both engines share) — cosine(v, v') is
# >0.99, deterministic, and expressed identically in Spark and DuckDB,
# so the oracle re-derives the plants too.
_PLANT_N = 50
_PLANT_OFFSET = 10_000_000

_EMB_PLANTED_SQL = f"""
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + {_PLANT_OFFSET} AS vec_id,
         list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                        (x, i) -> CASE WHEN i = 1 THEN x + 0.1 ELSE x END)
           AS embedding
  FROM embeddings WHERE vec_id < {_PLANT_N}
"""


def _emb_with_planted_neardups(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    clones = emb.filter(F.col("vec_id") < _PLANT_N).select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        # Spark's transform index is 0-based; DuckDB's list_transform
        # index is 1-based — both nudge the FIRST dimension
        F.expr(
            "transform(embedding,"
            " (x, i) -> CASE WHEN i = 0 THEN x + 0.1D ELSE x END)"
        ).alias("embedding"),
    )
    return emb.unionAll(clones)


@register(
    "embedding_near_dup_lsh_hi",
    oracle=_lsh_oracle_sql(
        n_tables=8, n_planes=10, threshold=0.8, source_sql=_EMB_PLANTED_SQL
    ),
)
def embedding_near_dup_lsh_hi(spark, sf_dir):
    """Production-threshold LSH near-dup pairs (VERDICT r9 item 6):
    cos >= 0.8 on the SAME 8-table x 10-plane plan as
    ``embedding_near_dup_lsh_scaled``, over the corpus with planted
    near-dup clones (so the small-SF oracle gate checks real survivor
    rows, not an empty set). The scaled cos>=0.3 twin proves the plan
    survives a 564M-pair output at sfx10 (PERF §28, output-dominated
    runtime); this row shows the usable-latency contract — at a
    near-dup threshold the output is tiny, so runtime is bounded by the
    linear bucket build + the in-stream candidate cosine pass, not by
    result materialization (PERF §34 records the sfx10 number). No new
    operator code: same ``lsh_near_dup_pairs``, same parameterized
    oracle template."""
    from ..operators import similarity as S

    return S.lsh_near_dup_pairs(
        _emb_with_planted_neardups(spark, sf_dir),
        threshold=0.8, n_planes=10, n_tables=8, portable_dims=64,
    )


def _emb(spark, sf_dir):
    from ..sources.tables import load_tables

    return load_tables(spark, sf_dir)["embeddings"]


# ---------------------------- binary content-defined chunk dedup (FastCDC)

_MEDIA_CHUNK_M = 64  # expected chunk length in BYTES (anchor modulus)
_MEDIA_TAU = 0.8
# Boilerplate guard (the jaccard max_token_freq precedent): a chunk hash
# present in more assets than this is shared TEMPLATE bytes (headers,
# licenses, synthetic-corpus phrases), not copy identity — at sfx1 TWO
# such hashes carried 17M of the 26M candidate pairs (C(4218,2) each).
# Capped hashes are excluded from shared counts AND denominators, so a
# clone pair's overlap over its remaining chunks is still 1.0.
_MEDIA_MAX_CHUNK_FREQ = 64


@register(
    "multimodal_cdc_chunk_dedup",
    oracle=f"""
    WITH docs AS (
      {DOCS_WITH_NEAR_DUPS_SQL}
    ), t AS (
      SELECT doc_id AS media_id, text, length(text) AS nb FROM docs
      WHERE length(text) > 0 AND strlen(text) = length(text)
    ), b AS (
      SELECT media_id, text, nb,
             [CAST(0 AS BIGINT)]
             || list_filter(generate_series(CAST({RK_W} AS BIGINT), nb),
                  i -> {rk_anchor_filter_duckdb("i", _MEDIA_CHUNK_M)})
             || [nb] AS bounds
      FROM t
    ), chunks AS (
      SELECT DISTINCT media_id,
             md5(substr(text, bounds[k.k] + 1,
                        bounds[k.k + 1] - bounds[k.k])) AS h
      FROM b, unnest(generate_series(1, len(bounds) - 1)) AS k(k)
      WHERE bounds[k.k + 1] > bounds[k.k]
    ), kept AS (
      SELECT media_id, h FROM chunks
      QUALIFY count(*) OVER (PARTITION BY h) <= {_MEDIA_MAX_CHUNK_FREQ}
    ), sized AS (
      SELECT media_id, h,
             count(*) OVER (PARTITION BY media_id) AS sz
      FROM kept
    ), shared AS (
      SELECT a.media_id AS id1, b.media_id AS id2,
             CAST(count(*) AS BIGINT) AS shared_chunks,
             min(a.sz) AS s1, min(b.sz) AS s2
      FROM sized a JOIN sized b
        ON a.h = b.h AND a.media_id < b.media_id
      GROUP BY 1, 2
    )
    SELECT id1, id2, shared_chunks,
           round(shared_chunks / least(s1, s2), 6) AS overlap
    FROM shared
    WHERE round(shared_chunks / least(s1, s2), 6) >= {_MEDIA_TAU}
    """,
)
def multimodal_cdc_chunk_dedup(spark, sf_dir):
    """Offset-invariant chunk-level dedup over BINARY media payloads —
    the FastCDC/LBFS use case proper: content-defined boundaries over
    the raw BYTE stream (``rk_byte_anchors``, the byte twin of the
    round-10 text chunker), so a payload re-uploaded with bytes
    INSERTED anywhere (new container header, prepended metadata,
    spliced segment) still shares its interior chunks with the
    original. The aligned 64-char block pass (multimodal_chunk_dedup)
    misses every such shift by construction — it only catches
    appended/patched TAILS.

    Link rule: distinct chunk hashes per asset, inverted-index join on
    the hash, link when the smaller side shares >= tau of its KEPT
    chunks — where "kept" excludes hashes present in more than
    _MEDIA_MAX_CHUNK_FREQ assets (boilerplate/template bytes; without
    the cap two template hashes alone carried 17M of 26M candidate
    pairs at sfx1 — the same skew guard as jaccard's max_token_freq,
    excluded from the DENOMINATOR too so true-copy overlap stays 1.0).
    Payload bytes never shuffle — boundaries + chunk md5s are one
    map-side Arrow batch + one codegen'd projection (persisted + memoized
    per corpus); the cap and per-asset size are two linear windows over
    the exploded hash stream; only fixed-width hashes enter exchanges.

    Oracle equivalence: the synthetic payloads are utf-8 text, and the
    corpus is filtered to ASCII docs ON BOTH SIDES (octet_length ==
    char length), where byte values == code points — so DuckDB
    re-derives the BYTE-mode boundaries and chunk md5s exactly with
    character arithmetic. The byte/char agreement on ASCII is itself
    pinned by tests (rk_byte_anchors_py == rk_anchors_py there); real
    binary payloads exercise the same UDF code path."""
    from pyspark.sql import functions as F

    chunks = _media_cdc_chunks(spark, sf_dir)
    # per-asset chunk count (sz) is carried MAP-SIDE on every exploded
    # row instead of re-derived from a second scan: with sz in the row,
    # the size lookups are plain aggregates after the h-join — no sizes
    # relation, no s1/s2 joins, and the UDF-bearing scan has exactly TWO
    # consumers (the self-join sides), served from one persisted
    # materialization (the first census draft had FOUR scan branches,
    # each re-running the boundary UDF over every payload — 24 s warm at
    # sfx1; this shape measures 4.9 s, PERF §36).
    a = chunks.select(
        F.col("media_id").alias("id1"), F.col("sz").alias("sz1"), "h"
    )
    b = chunks.select(
        F.col("media_id").alias("id2"), F.col("sz").alias("sz2"), "h"
    )
    return (
        a.join(b, "h")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("shared_chunks"),
            F.min("sz1").alias("_s1"),  # constant within the group
            F.min("sz2").alias("_s2"),
        )
        .withColumn(
            "overlap",
            F.round(
                F.col("shared_chunks") / F.least("_s1", "_s2"), 6
            ),
        )
        .filter(F.col("overlap") >= _MEDIA_TAU)
        .select("id1", "id2", "shared_chunks", "overlap")
    )


_MEDIA_CHUNKS_MEMO: dict[tuple, object] = {}


def _media_cdc_chunks(spark, sf_dir):
    """(media_id, sz, h) exploded distinct chunk hashes, persisted and
    memoized per (app, corpus plan) — the boundary UDF and chunk md5s
    run ONCE per corpus per session, the dedup.py memo discipline (the
    key is the analyzed plan's semanticHash, so a different corpus —
    including a test-patched one — can never hit a stale entry)."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import synthesize_media
    from ..sources.tables import evict_stale_entries

    media = synthesize_media(_docs_with_near_dups(spark, sf_dir))
    app_id = spark.sparkContext.applicationId
    evict_stale_entries(_MEDIA_CHUNKS_MEMO, app_id)
    key = (app_id, media._jdf.queryExecution().analyzed().semanticHash())
    cached = _MEDIA_CHUNKS_MEMO.get(key)
    if cached is not None:
        return cached

    t = media.select(
        "media_id",
        "payload",
        F.length("payload").cast("bigint").alias("nb"),
    ).filter(
        (F.col("nb") > 0)
        & (F.col("nb") == F.length(F.decode(F.col("payload"), "utf-8")))
    )
    bounds = F.concat(
        F.array(F.lit(0).cast("bigint")),
        rk_byte_anchors(F.col("payload"), modulus=_MEDIA_CHUNK_M),
        F.array(F.col("nb")),
    )
    chunk_hashes = F.expr(
        """transform(
             filter(sequence(1, size(bounds) - 1),
                    k -> element_at(bounds, k + 1) > element_at(bounds, k)),
             k -> md5(substring(payload,
                      CAST(element_at(bounds, k) + 1 AS INT),
                      CAST(element_at(bounds, k + 1)
                           - element_at(bounds, k) AS INT))))"""
    )
    from pyspark.sql.window import Window

    raw = (
        t.withColumn("bounds", bounds)
        .select("media_id", F.array_distinct(chunk_hashes).alias("hs"))
        .select("media_id", F.explode("hs").alias("h"))
    )
    # boilerplate cap + per-asset size, both as windows over the single
    # exploded stream (two linear shuffles, no self-consuming joins)
    kept = raw.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("df") <= _MEDIA_MAX_CHUNK_FREQ)
    chunks = (
        kept.withColumn(
            "sz",
            F.count(F.lit(1)).over(Window.partitionBy("media_id")),
        )
        .select("media_id", F.col("sz").cast("bigint").alias("sz"), "h")
        # bound: one (long, long, long) row per surviving chunk — the
        # CDC-chunked reduction of the media blobs, ~1% of input bytes
        .persist()
    )
    _MEDIA_CHUNKS_MEMO[key] = chunks
    return chunks

"""Round-12: pure-numpy PPM decode closing the codec stub (VERDICT r11
item 4) — decode correctness, the encode/decode/resize/hash identity
chain, and the real-decode query's row-for-row match with the
synthetic-path twin (they share one oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from flink_cdc_msk_spark.functions.codecs import (
    PpmError,
    decode_ppm,
    encode_ppm,
    luma_resize_32,
)
from flink_cdc_msk_spark.functions.phash import (
    phash63_from_cells,
    phash63_from_pixels,
)


def _rand_cells(rng, n=1):
    return rng.integers(0, 256, size=(n, 8, 8), dtype=np.int64)


def test_ppm_roundtrip_identity():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(48, 96), dtype=np.int64).astype(
        np.uint8
    )
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


def test_ppm_header_comments_and_whitespace():
    img = np.full((2, 3), 200, dtype=np.uint8)
    raw = encode_ppm(img)
    # splice spec-legal comments/whitespace into the header
    body = raw.split(b"\n", 3)
    hacked = (
        b"P6 # magic comment\n# full-line comment\n  3\t2 # dims\n255\n"
        + body[3]
    )
    assert np.array_equal(decode_ppm(hacked), img)


def test_ppm_luma_bt601_color():
    # one non-gray pixel: (299R + 587G + 114B + 500) // 1000
    rgb = bytes([250, 10, 100])
    payload = b"P6\n1 1\n255\n" + rgb
    want = (299 * 250 + 587 * 10 + 114 * 100 + 500) // 1000
    assert decode_ppm(payload)[0, 0] == want


@pytest.mark.parametrize(
    "payload",
    [
        b"P5\n1 1\n255\n" + b"\x00" * 3,      # wrong magic
        b"P6\n1 1\n65535\n" + b"\x00" * 6,    # 2-byte samples
        b"P6\n2 2\n255\n" + b"\x00" * 11,     # truncated raster
        b"P6\nx 1\n255\n" + b"\x00" * 3,      # non-numeric dim
        b"P6\n1",                              # truncated header
    ],
)
def test_ppm_malformed_raises(payload):
    with pytest.raises(PpmError):
        decode_ppm(payload)


def test_resize_box_mean_exact_on_constant_blocks():
    rng = np.random.default_rng(11)
    cells = _rand_cells(rng)[0].astype(np.uint8)
    up = np.repeat(np.repeat(cells, 8, axis=0), 8, axis=1)  # 64x64
    img32 = luma_resize_32(up)
    # 64x64 of 8x8-constant blocks -> each 2x2 box is constant
    want = np.repeat(np.repeat(cells, 4, axis=0), 4, axis=1)
    assert np.array_equal(img32, want)


def test_resize_rejects_non_multiples():
    with pytest.raises(NotImplementedError):
        luma_resize_32(np.zeros((33, 32), dtype=np.uint8))


@pytest.mark.parametrize("scale", [4, 8])
def test_full_decode_chain_equals_cell_hash(scale):
    """encode -> decode -> resize -> pixel DCT == cell DCT, bit-for-bit
    (the exactness chain the shared oracle rests on)."""
    rng = np.random.default_rng(scale)
    cells = _rand_cells(rng, n=16)
    imgs = [
        np.repeat(
            np.repeat(c.astype(np.uint8), scale, axis=0), scale, axis=1
        )
        for c in cells
    ]
    pixels = np.stack(
        [luma_resize_32(decode_ppm(encode_ppm(i))) for i in imgs]
    )
    assert np.array_equal(
        phash63_from_pixels(pixels), phash63_from_cells(cells)
    )


def test_decode_real_hook_ppm_and_compressed():
    from flink_cdc_msk_spark.operators.multimodal import _decode_real

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(_decode_real(encode_ppm(img), "ppm"), img)
    with pytest.raises(NotImplementedError):
        _decode_real(b"\xff\xd8\xff", "jpeg")


def test_real_decode_query_matches_synthetic_twin(spark):
    from flink_cdc_msk_spark.plans.round8_extras import (
        multimodal_phash_near_dup,
    )
    from flink_cdc_msk_spark.plans.round12_extras import (
        multimodal_phash_real_decode,
    )

    sf = "/root/testdata/sf0.001"
    real = sorted(
        map(str, multimodal_phash_real_decode(spark, sf).collect())
    )
    synth = sorted(
        map(str, multimodal_phash_near_dup(spark, sf).collect())
    )
    assert real == synth
    assert len(real) > 0  # the planted dups must actually surface


# ---------------------------------------------------------------------------
# WAV decode + audio stats
# ---------------------------------------------------------------------------


def test_wav_roundtrip_identity():
    from flink_cdc_msk_spark.functions.codecs import decode_wav, encode_wav

    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, size=517, dtype=np.int64).astype(
        np.int16
    )
    rate, got = decode_wav(encode_wav(s, rate=22050))
    assert rate == 22050
    assert np.array_equal(got, s)


def test_wav_chunk_walk_and_stereo():
    import struct

    from flink_cdc_msk_spark.functions.codecs import decode_wav

    # stereo PCM with an interposed LIST chunk before data
    left = np.array([100, -200, 300], dtype="<i2")
    right = np.array([300, -100, -300], dtype="<i2")
    inter = np.empty(6, dtype="<i2")
    inter[0::2] = left
    inter[1::2] = right
    pcm = inter.tobytes()
    fmt = struct.pack("<IHHIIHH", 16, 1, 2, 8000, 8000 * 4, 4, 16)
    payload = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + fmt
        + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size -> pad
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, got = decode_wav(payload)
    assert rate == 8000
    # exact integer floor-mean downmix
    want = (left.astype(np.int64) + right.astype(np.int64)) // 2
    assert np.array_equal(got.astype(np.int64), want)


@pytest.mark.parametrize(
    "payload",
    [
        b"RIFX\x00\x00\x00\x00WAVE",                      # wrong magic
        b"RIFF\x00\x00\x00\x00WAVE",                      # no chunks
        b"RIFF\x00\x00\x00\x00WAVE" + b"data\x04\x00\x00\x00abcd",  # no fmt
    ],
)
def test_wav_malformed_raises(payload):
    from flink_cdc_msk_spark.functions.codecs import WavError, decode_wav

    with pytest.raises(WavError):
        decode_wav(payload)


def test_wav_compressed_tag_raises():
    import struct

    from flink_cdc_msk_spark.functions.codecs import WavError, decode_wav

    fmt = struct.pack("<IHHIIHH", 16, 85, 1, 8000, 8000, 1, 16)  # MP3 tag
    payload = (
        b"RIFF\x00\x00\x00\x00WAVE" + b"fmt " + fmt
        + b"data\x00\x00\x00\x00"
    )
    with pytest.raises(WavError):
        decode_wav(payload)


def test_audio_stats_query_matches_oracle(spark):
    import duckdb

    from flink_cdc_msk_spark.plans.round12_extras import (
        AUDIO_ORACLE,
        multimodal_audio_stats,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(str, [tuple(r) for r in multimodal_audio_stats(spark, sf).collect()])
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(str, con.execute(AUDIO_ORACLE).fetchall()))
    assert got == want
    assert len(got) == 500


# ---------------------------------------------------------------------------
# Staged ordered-units materialization (VERDICT r11 item 3)
# ---------------------------------------------------------------------------


def test_staged_ordered_units_identical_results(spark, tmp_path, monkeypatch):
    """$SPARK_GRAFT_DEDUP_STAGE swaps the ordered-units persist for a
    scratch-parquet write + re-read (shuffle-temp bound, PERF §41);
    results must be identical and the staged files must actually be
    created and reused."""
    import os

    from flink_cdc_msk_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (i, f"w{i} w{i+1} w{i+2} shared middle tail {i % 4} "
                f"common suffix tokens here")
            for i in range(40)
        ]
        + [(100 + i, f"w{i} w{i+1} w{i+2} shared middle tail {i % 4} "
                     f"common suffix tokens here") for i in range(4)],
        "doc_id long, text string",
    )
    plain = sorted(
        map(str, D.jaccard_pairs(docs, 0.8, ngram=2).collect())
    )

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_STAGE", stage)
    # distinct corpus object -> distinct semanticHash is NOT guaranteed,
    # so clear the memos to force the staged build
    D._ORDERED_MEMO.clear()
    D._UNITS_MEMO.clear()
    staged = sorted(
        map(str, D.jaccard_pairs(docs, 0.8, ngram=2).collect())
    )
    assert staged == plain
    written = [d for d in os.listdir(stage) if "_ordered_" in d]
    assert len(written) == 1
    assert os.path.isfile(os.path.join(stage, written[0], "_SUCCESS"))
    # warm re-entry reuses the completed write (memo cleared again to
    # force the path through _stage_ordered_units's idempotence branch)
    mtime = os.path.getmtime(os.path.join(stage, written[0], "_SUCCESS"))
    D._ORDERED_MEMO.clear()
    D._UNITS_MEMO.clear()
    again = sorted(
        map(str, D.jaccard_pairs(docs, 0.8, ngram=2).collect())
    )
    assert again == plain
    assert os.path.getmtime(
        os.path.join(stage, written[0], "_SUCCESS")
    ) == mtime


# ---------------------------------------------------------------------------
# Video near-dup: frame-majority verify + exactly-once emission
# ---------------------------------------------------------------------------

_SIG_SCHEMA = "media_id long, sig array<struct<f:int,h:long>>"


def _vid_pairs(spark, rows):
    from flink_cdc_msk_spark.plans.round12_extras import video_near_dup_pairs

    return sorted(
        tuple(r)
        for r in video_near_dup_pairs(
            spark.createDataFrame(rows, _SIG_SCHEMA)
        ).collect()
    )


def test_video_pairs_identical_sigs_exactly_once(spark):
    # identical 3-frame videos collide at every (frame, band) — the
    # lowest-(frame, band) rule must emit the pair exactly once
    sig = [(0, 10), (2, 20), (4, 30)]
    got = _vid_pairs(spark, [(1, sig), (2, sig)])
    assert got == [(1, 2, 3, 3)]


def test_video_pairs_frame_majority_boundary(spark):
    # 3 of 4 frames matched: 4*3 >= 3*4 — admitted at exactly 75%
    a = [(0, 0), (2, 0), (4, 0), (6, 0)]
    b = [(0, 0), (2, 0), (4, 0), (6, 255)]  # ham 8 > 6 at f=6
    assert _vid_pairs(spark, [(1, a), (2, b)]) == [(1, 2, 4, 3)]
    # 2 of 3 matched: 4*2 < 3*3 — rejected even though candidates exist
    a3, b3 = a[:3], b[:2] + [(4, 255)]
    assert _vid_pairs(spark, [(1, a3), (2, b3)]) == []


def test_video_pairs_min_common_frames(spark):
    # one shared frame (exact hash match) is not enough evidence
    assert _vid_pairs(spark, [(1, [(0, 7)]), (2, [(0, 7), (2, 9)])]) == []
    # disjoint sampled frames never even meet in the band join
    assert _vid_pairs(spark, [(1, [(1, 7), (3, 7)]),
                              (2, [(0, 7), (2, 7)])]) == []


def test_video_near_dup_recall_sf0001(spark):
    from flink_cdc_msk_spark.plans.round12_extras import (
        multimodal_video_near_dup,
    )

    rows = multimodal_video_near_dup(
        spark, "/root/testdata/sf0.001"
    ).collect()
    pairs = {(r.media_id_1, r.media_id_2) for r in rows}
    assert len(pairs) == len(rows)  # exactly-once
    # every planted clone (doc_id % 5 == 0, +1M) is recalled with a
    # full frame match over the common sampled frames
    clones = {(r.media_id_1, r.media_id_2): r for r in rows}
    for (m1, m2), r in clones.items():
        assert m2 == m1 + 1_000_000 and m1 % 5 == 0
        assert r.n_matched == r.n_common >= 2


# ---------------------------------------------------------------------------
# URL canonicalization + dedup
# ---------------------------------------------------------------------------


def test_url_canonicalizer_semantics(spark):
    """Pin the canonicalization rules on handcrafted URLs: case folding,
    www strip, default-vs-non-default port, trailing slash, tracking
    param removal, param sort, fragment drop — driven through the
    registered query's corpus so every rule fires on ≥1 real row."""
    from flink_cdc_msk_spark.plans.round12_extras import (
        text_url_canonical_dedup,
    )

    rows = text_url_canonical_dedup(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_url = {r["canonical_url"]: r for r in rows}
    for u in by_url:
        assert u == u.lower() or "?" in u  # host/scheme lowercased
        assert "#" not in u
        assert "utm_" not in u and "fbclid" not in u
        assert "www." not in u.split("://")[1].split("/")[0]
        path = "/" + u.split("://")[1].split("/", 1)[1]
        assert not path.split("?")[0].endswith("/") or path.split("?")[
            0
        ] == "/"
    # non-default ports survive: doc_id ≡ 9 (mod 12) synthesizes
    # https + :80 → canonical keeps :80
    assert any(":80" in u for u in by_url)
    # default ports are stripped: no canonical https URL carries :443
    # (http://…:443 is NON-default and must survive)
    assert not any(
        ":443" in u for u in by_url if u.startswith("https://")
    )
    assert any(
        ":443" in u for u in by_url if u.startswith("http://")
    )
    # query params sorted: a= precedes z= in every kept query string
    for u in by_url:
        if "?" in u:
            q = u.split("?")[1].split("&")
            assert q == sorted(q)


def test_url_dedup_group_election(spark):
    """Recrawl variants of one page collapse to one canonical row with
    min-doc_id keeper; n_docs sums to the corpus size."""
    from flink_cdc_msk_spark.plans.round12_extras import (
        text_url_canonical_dedup,
    )
    from flink_cdc_msk_spark.sources.tables import load_tables

    sf = "/root/testdata/sf0.001"
    rows = text_url_canonical_dedup(spark, sf).collect()
    total = load_tables(spark, sf)["documents"].count()
    assert sum(r["n_docs"] for r in rows) == total
    assert any(r["n_docs"] > 1 for r in rows)
    for r in rows:
        assert r["keeper_doc_id"] >= 0


# ---------------------------------------------------------------------------
# LSH bucketing projection is the fold (r12 third session)
# ---------------------------------------------------------------------------


def test_lsh_bucketing_projection_is_fold(spark):
    """The portable bucketing projection must be the compact HOF fold:
    a 32-projection × 64-term unrolled element_at chain exceeds
    janino's 64 KB method limit in batch (failed compile + interpreted
    fallback — measured 1.75–1.92 s vs the fold's 0.45–0.51 s warm at
    sf0.1). Pins the plan shape: ``aggregate(zip_with`` with no
    unrolled element reads."""
    from flink_cdc_msk_spark.operators.similarity import (
        random_hyperplane_buckets,
    )
    from flink_cdc_msk_spark.plans.llm_pipeline import _emb

    corpus = _emb(spark, "/root/testdata/sf0.001")
    buckets = random_hyperplane_buckets(
        corpus, n_planes=4, n_tables=8, portable_dims=64, wide=True
    )
    plan = buckets._jdf.queryExecution().analyzed().toString()
    assert "aggregate(zip_with" in plan
    assert plan.count("element_at") == 0

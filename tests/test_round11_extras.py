"""Round-11: streaming source-overlap twin (VERDICT r10 item 8)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def test_streaming_source_overlap_matches_batch(spark):
    # the lossless-fold argument, pinned end-to-end at sf0.001: the
    # streamed replay's folded signatures must reproduce the batch
    # sketch query's rows EXACTLY (element-wise min of per-batch
    # partials == whole-corpus signature; shared emission tail)
    from flink_cdc_msk_spark.plans.round10b_extras import (
        text_source_overlap_sketch,
    )
    from flink_cdc_msk_spark.plans.round11_extras import (
        streaming_source_overlap,
    )

    sf = "/root/testdata/sf0.001"
    assert sorted(map(str, streaming_source_overlap(spark, sf).collect())) == \
        sorted(map(str, text_source_overlap_sketch(spark, sf).collect()))


def test_minhash_partial_fold_is_lossless(spark):
    # the algebra itself, isolated: signatures of a union == element-
    # wise min of the parts' signatures, for an arbitrary 3-way split
    from flink_cdc_msk_spark.functions import text as T
    from flink_cdc_msk_spark.plans.round10b_extras import (
        _SIG_K,
        source_minhash_sigs,
    )

    docs = spark.createDataFrame(
        [
            (i, f"s{i % 2}", f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i%5}")
            for i in range(30)
        ],
        "doc_id long, source string, text string",
    )

    def occ(df):
        return df.select(
            "source",
            F.explode(
                T.shingles_from_tokens(T.tokens("text"), 3)
            ).alias("sh"),
        )

    whole = {
        r.source: [r[f"h{i}"] for i in range(_SIG_K)]
        for r in source_minhash_sigs(occ(docs)).collect()
    }
    parts = [
        source_minhash_sigs(occ(docs.filter(F.col("doc_id") % 3 == k)))
        for k in range(3)
    ]
    folded = {}
    for p in parts:
        for r in p.collect():
            cur = folded.setdefault(r.source, [None] * _SIG_K)
            for i in range(_SIG_K):
                v = r[f"h{i}"]
                cur[i] = v if cur[i] is None else min(cur[i], v)
    assert folded == whole


def test_pruned_jaccard_detection_contract(spark):
    # the guard's documented miss-mode, constructed: ten docs share the
    # SAME text (pairwise jaccard 1.0), so every unit has df=10; with
    # max_token_freq=5 every posting is pruned and NO pair surfaces —
    # while two docs sharing a rare tail still pair up. Production
    # sizes K to the duplication profile; the oracle mirrors the same
    # rule, so the driver gate certifies both engines miss identically.
    from flink_cdc_msk_spark.operators.dedup import jaccard_pairs

    common = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, common) for i in range(10)]
        + [(20, common + " iota kappa"), (21, common + " iota kappa")],
        "doc_id long, text string",
    )
    out = jaccard_pairs(
        docs, threshold=0.8, ngram=3, hashed=False, max_token_freq=5
    ).collect()
    pairs = {(r.id1, r.id2) for r in out}
    # the rare-tail pair survives (its junction shingles have df=2)...
    assert (20, 21) in pairs
    # ...and no pair among the 10 all-common docs does (df=10 > K=5
    # prunes every shared posting), despite jaccard 1.0
    assert not any(i < 10 and j < 10 for i, j in pairs)

    unpruned = jaccard_pairs(
        docs, threshold=0.8, ngram=3, hashed=False
    ).collect()
    assert len({(r.id1, r.id2) for r in unpruned}) == 45 + 1  # C(10,2)+1


# ---------------------------------------------------------------------------
# Round 12: bounded partials store (VERDICT r11 item 1)
# ---------------------------------------------------------------------------


def _batch_docs(spark, i, n_rows=4):
    rows = [
        (
            i * 100 + j,
            f"src{(i + j) % 3}",
            f"stream shingle w{i} w{i+j} w{j} common tail words here "
            f"{'pad ' * (j % 3)}",
        )
        for j in range(n_rows)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def test_overlap_partials_store_stays_bounded(spark, tmp_path):
    """VERDICT r11 item 1: >=20 batches through the production maintain
    body -> live generation count stays <= OVERLAP_KEEP_GENS + 1 at
    every step, stored row count stays O(sources x gens), and the folded
    readout is BIT-IDENTICAL to a never-compacted reference store's."""
    import os

    from flink_cdc_msk_spark.plans.round11_extras import (
        OVERLAP_KEEP_GENS,
        maintain_overlap_partials,
        overlap_partials_readout,
    )

    store = str(tmp_path / "bounded")
    ref = str(tmp_path / "unbounded")
    body = maintain_overlap_partials(spark, store)
    n_sources = 3
    for i in range(22):
        bdf = _batch_docs(spark, i)
        body(bdf, i)
        # reference store: same partials, never folded
        from flink_cdc_msk_spark.plans.round10b_extras import _sig_cols
        from flink_cdc_msk_spark.functions import text as T
        from pyspark.sql import functions as F2

        bdf.select(
            "source",
            F2.explode(
                T.shingles_from_tokens(T.tokens("text"), 3)
            ).alias("sh"),
        ).groupBy("source").agg(*_sig_cols()).write.mode(
            "overwrite"
        ).parquet(f"{ref}/batch_id={i}")

        live = [e for e in os.listdir(store) if e.startswith("batch_id=")]
        assert len(live) <= OVERLAP_KEEP_GENS + 1, (i, sorted(live))

    ref_dirs = [e for e in os.listdir(ref) if e.startswith("batch_id=")]
    assert len(ref_dirs) == 22  # the defect shape the fold deletes
    # flat-state bound: rows, not just dirs
    n_rows = spark.read.parquet(store).count()
    assert n_rows <= (OVERLAP_KEEP_GENS + 1) * n_sources
    got = {
        r.source: tuple(r[f"h{i}"] for i in range(32))
        for r in overlap_partials_readout(spark, store).collect()
    }
    want = {
        r.source: tuple(r[f"h{i}"] for i in range(32))
        for r in overlap_partials_readout(spark, ref).collect()
    }
    assert got == want


def test_overlap_fold_crash_points(spark, tmp_path):
    """A crash inside the FOLDED swap never loses signature state: at
    each crash point, recover_store heals the store and the readout
    equals the never-compacted reference's (the staging dir holds the
    min-folded rows — recovery must treat them as the sole copy)."""
    import json
    import os
    import shutil

    from flink_cdc_msk_spark.plans.round11_extras import (
        fold_overlap_partials,
        maintain_overlap_partials,
        overlap_partials_readout,
    )
    from flink_cdc_msk_spark.streaming.store_maint import recover_store

    def build(root):
        body = maintain_overlap_partials(spark, root)
        for i in range(3):  # stays under the fold threshold
            body(_batch_docs(spark, i), i)
        return root

    ref = build(str(tmp_path / "ref"))
    want = sorted(map(str, overlap_partials_readout(spark, ref).collect()))

    for stage in ("pre_manifest", "pre_rename_in", "staged", "mid_swap"):
        store = build(str(tmp_path / f"crash_{stage}"))
        upto = 2
        dirs = sorted(
            d
            for d in os.listdir(store)
            if d.startswith("batch_id=") and int(d.split("=")[1]) < upto
        )
        state = spark.read.option("basePath", store).parquet(store)
        from pyspark.sql import functions as F2

        folded = fold_overlap_partials(
            state.filter(F2.col("batch_id") < upto).drop("batch_id")
        )
        tmp = f"{store}.compact_tmp"
        folded.repartition(1).write.mode("overwrite").parquet(tmp)
        if stage != "pre_manifest":
            with open(f"{store}/.compact_manifest.json", "w") as fh:
                json.dump({"upto": upto, "folded": dirs}, fh)
        if stage in ("staged", "mid_swap"):
            os.rename(tmp, f"{store}/batch_id=-2")
        if stage == "mid_swap":
            shutil.rmtree(os.path.join(store, dirs[0]))

        outcome = recover_store(store)
        assert outcome in ("rolled_back", "completed"), (stage, outcome)
        got = sorted(
            map(str, overlap_partials_readout(spark, store).collect())
        )
        assert got == want, stage


# ---------------------------------------------------------------------------
# Round 12: unguarded-jaccard degeneracy warning (VERDICT r11 item 5)
# ---------------------------------------------------------------------------


def test_posting_degeneracy_decision_core():
    from flink_cdc_msk_spark.operators import dedup as D

    assert D._check_posting_metrics({"max_list": None, "n_lists": 0}) is None
    assert (
        D._check_posting_metrics(
            {"max_list": D._POSTING_WARN_LEN, "n_lists": 5}
        )
        is None
    )
    msg = D._check_posting_metrics(
        {"max_list": D._POSTING_WARN_LEN + 1, "n_lists": 5}
    )
    assert msg and "max_token_freq" in msg and "PERF" in msg


def test_degeneracy_probe_fires_without_changing_results(spark):
    """The observe probe is log-only: unguarded results are identical
    with the probe attached (it always is when max_token_freq=None),
    and on a degenerate corpus the warning hook records the metrics."""
    import time

    from flink_cdc_msk_spark.operators import dedup as D

    old_len = D._POSTING_WARN_LEN
    D._POSTING_WARN_LEN = 3  # make the tiny corpus 'degenerate'
    D.LAST_DEGENERACY_WARNING = None
    try:
        common = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [(i, common) for i in range(10)],
            "doc_id long, text string",
        )
        rows = sorted(
            (r.id1, r.id2)
            for r in D.jaccard_pairs(docs, 0.8).collect()
        )
        assert len(rows) == 45  # C(10,2): exact contract untouched
        deadline = time.time() + 10
        while D.LAST_DEGENERACY_WARNING is None and time.time() < deadline:
            time.sleep(0.05)  # the probe logs from a daemon thread
        assert D.LAST_DEGENERACY_WARNING is not None
        assert D.LAST_DEGENERACY_WARNING["max_list"] == 10
    finally:
        D._POSTING_WARN_LEN = old_len
        D.LAST_DEGENERACY_WARNING = None


def test_degeneracy_probe_thread_is_bounded(spark):
    """VERDICT r12 item 6: a jaccard plan that is constructed but never
    materialized must not park its probe thread forever — the watcher
    polls the observation with a bound and exits when nothing runs."""
    import threading
    import time

    from flink_cdc_msk_spark.operators import dedup as D

    pre = {
        t.ident
        for t in threading.enumerate()
        if t.name == "jaccard-degeneracy-probe"
    }
    old = D._PROBE_MAX_WAIT_S
    D._PROBE_MAX_WAIT_S = 1.0
    try:
        docs = spark.createDataFrame(
            [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
        )
        D.jaccard_pairs(docs, 0.8)  # plan constructed, NO action
        def new_probes():
            return [
                t
                for t in threading.enumerate()
                if t.name == "jaccard-degeneracy-probe"
                and t.ident not in pre
            ]
        assert new_probes(), "probe thread should have started"
        deadline = time.time() + 15
        while new_probes() and time.time() < deadline:
            time.sleep(0.1)
        assert not new_probes(), "probe thread parked past its bound"
    finally:
        D._PROBE_MAX_WAIT_S = old


def test_degeneracy_probe_gives_up_when_peek_fails(spark, monkeypatch):
    """If the non-blocking peek itself raises, the watcher returns at
    once instead of parking on an unbounded ``obs.get`` for a plan that
    never runs."""
    import threading

    from flink_cdc_msk_spark.operators import dedup as D

    def broken_peek(obs):
        raise RuntimeError("peek unavailable")

    monkeypatch.setattr(D, "_observation_ready", broken_peek)
    pre = set(threading.enumerate())
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
    )
    D.jaccard_pairs(docs, 0.8)  # plan constructed, NO action
    probes = [
        t
        for t in threading.enumerate()
        if t.name == "jaccard-degeneracy-probe" and t not in pre
    ]
    for t in probes:
        t.join(2.0)
    assert not [t for t in probes if t.is_alive()], "probe parked on obs.get"

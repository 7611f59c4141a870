"""Self-tests of the benchmark at tiny sizes (about two minutes):

    python3 -m pytest cdcbench/test_selfcheck.py -q

run from the repository root.  They check the reference router against the
engine's ``route_mysql_cdc`` on edge events, and that every workload runs
end to end with no failed output, untraced and traced.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import cdc  # noqa: E402
import common  # noqa: E402
import feed  # noqa: E402
import headline  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
from refroute import INT_MIN, ReferenceRouter, java_hash  # noqa: E402

CATALOG = json.dumps([
    {"db": "shop", "table": "orders", "primary_key": "id"},
    {"db": "shop", "table": "order_.*", "primary_key": "order_id,line_no"},
    {"db": "shop", "table": "order_items", "primary_key": "order_id,line_no",
     "column_max_length": "note=5"},
    {"db": "shop", "table": "skus", "primary_key": "sku"},
    {"db": "crm", "table": "notes", "primary_key": ""},
])


def min_value_suffix(prefix: str) -> str:
    """Seven chars in 'A'..'_' that make ``hashCode(prefix + suffix)`` equal
    Integer.MIN_VALUE: solve the base-31 digits of the residue."""
    k, a = 7, ord("A")
    weights = [31 ** (k - 1 - i) for i in range(k)]
    rhs = (INT_MIN - 31 ** k * java_hash(prefix) - a * sum(weights)) % 2**32
    digits = []
    for w in weights:
        digits.append(rhs // w)
        rhs %= w
    return "".join(chr(a + d) for d in digits)


def envelope(db, table, op, before, after, ts=1):
    src = {"db": db, "table": table, "ts_ms": ts}
    return json.dumps({"before": before, "after": after, "source": src,
                       "op": op, "ts_ms": ts}, separators=(",", ":"))


def edge_lines() -> list[str]:
    sku = "X" + min_value_suffix("shop.skus.X")
    assert java_hash(f"shop.skus.{sku}") == INT_MIN
    row = {"order_id": 7, "line_no": 2, "note": "abcd"}
    lines = [
        envelope("shop", "orders", "c", None, {"id": 1, "note": "x"}),
        envelope("shop", "orders", "d", {"id": 2, "note": "y"}, None),
        envelope("shop", "orders", "u", {"id": 3}, {"id": 3, "note": "z"}),
        envelope("shop", "order_events", "c", None, row),
        envelope("shop", "skus", "c", None, {"sku": sku}),
        envelope("crm", "notes", "c", None, {"id": 9}),
        envelope("crm", "unrouted", "c", None, {"id": 10}),
        envelope("Shop", "orders", "c", None, {"id": 11}),
    ]
    for n in (4, 5, 6, 0):  # truncation at N=5: below, exactly, above, empty
        r = dict(row, note="n" * n)
        lines.append(envelope("shop", "order_items", "c", None, r))
        lines.append(envelope("shop", "order_items", "d", r, None))
    return lines


@pytest.fixture(scope="module", autouse=True)
def _remove_run_dir():
    yield
    shutil.rmtree(common.WORK, ignore_errors=True)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", run.DRIVER_MEM)
    from common import start_session

    s = start_session(2, False)
    yield s
    s.stop()


@pytest.mark.parametrize("catalog", [CATALOG, feed.catalog_json()])
def test_reference_router_matches_engine(spark, catalog):
    from flink_cdc_msk_spark.config import TableRouting
    from flink_cdc_msk_spark.operators.route import route_mysql_cdc

    lines = edge_lines() + [feed.render(e, i, i) for i, e in
                            enumerate(feed.events(5, 300, 20))]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    got = Counter(
        (r.partition_key, r.topic, r.partition, r.value)
        for r in route_mysql_cdc(df, TableRouting.parse(catalog), topic_prefix="cdc_",
                                 num_partitions=12).collect())
    ref = ReferenceRouter(catalog, "cdc_", 12)
    assert got == Counter(ref.route(x) for x in lines)


def test_reference_router_edges():
    ref = ReferenceRouter(CATALOG, "cdc_", 12)
    out = [ref.route(x) for x in edge_lines()]
    assert out[1][0] == "shop.orders.2"  # delete reads `before`
    assert out[3][0] == "shop.order_events.7.2"  # composite key, regex rule
    assert out[4][2] == INT_MIN % 12  # pmod at Integer.MIN_VALUE
    assert out[5][0] == "crm.notes.no_pk" and out[6][0] == "crm.unrouted.no_pk"
    assert out[7][1] == "cdc_shop"  # topic lowers the db
    notes = [json.loads(o[3])[side]["note"] for o, side in
             zip(out[8:], ["after", "before"] * 4)]
    assert notes == ["nnnn", "nnnn", "nnnnn", "nnnnn", "nnnnn", "nnnnn", "", ""]
    assert any(java_hash(o[0]) < 0 for o in out)


@pytest.fixture
def tiny(monkeypatch):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # each run builds its own sessions
        active.stop()
    monkeypatch.setattr(cdc, "CATCHUP_EVENTS", 4_000)
    monkeypatch.setattr(cdc, "WARM_DRAINS", 1)
    monkeypatch.setattr(cdc, "TAIL_WARM_BATCHES", 2)
    monkeypatch.setattr(cdc, "TAIL_RATE", 100)
    monkeypatch.setattr(tables, "SIZES", {k: max(20, v // 10) for k, v in tables.SIZES.items()})
    monkeypatch.setattr(headline, "HEADLINE", headline.HEADLINE[:4] + ["cdc_latest_state"])


@pytest.mark.parametrize("workload", ["cdc_catchup", "cdc_tail_upsert"])
def test_workload_end_to_end(tiny, workload):
    res = run.run(workload, seed=7, seconds=3.0, trace=False)
    assert res["attempted"] > 0 and res["failed"] == 0
    assert all(v > 0 for v in res["e2e"].values())


def test_traced_catchup(tiny):
    res = run.run("cdc_catchup", seed=8, seconds=3.0, trace=True)
    assert res["failed"] == 0
    layers = res["layers"]
    assert layers["route.python_ms"] == 0  # no truncation: no Python
    assert layers["sink.records"] > 0 and layers["catchup.eps_1core"] > 0
    assert layers["exec.task_ms"] > 0  # the headline queries' layers
    assert all(layers[f"query.{n}.warm_s"] > 0 for n in headline.HEADLINE)


def test_traced_tail(tiny):
    res = run.run("cdc_tail_upsert", seed=8, seconds=3.0, trace=True)
    assert res["failed"] == 0
    layers = res["layers"]
    assert layers["route.python_ms"] > 0  # the truncating table runs the Arrow UDF
    assert layers["sink.records"] > 0 and layers["compaction.merge_ms_p50"] > 0

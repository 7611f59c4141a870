"""Golden envelope routing tests (SURVEY.md §5 strategy; FIXTURES.md §B).

Each fixture reproduces the reference map semantics at
MySQLCDC2AWSMSK.scala:95-168 / MongoCDC2AWSMSK.scala:79-102; expected
outputs are hand-computed from that code.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_cdc_msk_spark.config import TableRouting
from flink_cdc_msk_spark.functions.java_hash import (
    java_partition,
    java_partition_py,
    java_string_hashcode,
    java_string_hashcode_py,
)
from flink_cdc_msk_spark.operators.route import route_mongo_cdc, route_mysql_cdc

ROUTING = TableRouting.parse(
    json.dumps(
        [
            {"db": "test_db", "table": "product", "primary_key": "pid"},
            {
                "db": "test_db",
                "table": "product_01",
                "primary_key": "pid",
                "column_max_length": "col1=10|col2=20",
            },
            {
                "db": "tpcc",
                "table": "order_line",
                "primary_key": "ol_w_id,ol_d_id,ol_o_id,ol_number",
            },
            {"db": "test_db", "table": "prodx.*", "primary_key": "pid"},
            {"db": "test_db", "table": "nopk_table", "primary_key": ""},
        ]
    )
)


def mysql_event(
    db="test_db", table="product", op="c", before=None, after=None, ts=1678634463898
):
    return json.dumps(
        {
            "before": before,
            "after": after,
            "source": {
                "version": "1.6.4.Final",
                "connector": "mysql",
                "name": "mysql_binlog_source",
                "ts_ms": 1678634463000,
                "snapshot": "false",
                "db": db,
                "sequence": None,
                "table": table,
                "server_id": 57330068,
                "gtid": None,
                "file": "mysql-bin-changelog.007670",
                "pos": 804,
                "row": 0,
                "thread": None,
                "query": None,
            },
            "op": op,
            "ts_ms": ts,
            "transaction": None,
        }
    )


def route(spark, lines, routing=ROUTING, **kw):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    kw.setdefault("topic_prefix", "cdc_")
    kw.setdefault("num_partitions", 12)
    rows = route_mysql_cdc(df, routing, **kw).collect()
    return rows


def test_insert_basic_pk(spark):
    row = mysql_event(after={"pid": 1, "pname": "prodcut-001", "pprice": "125.12"})
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.product.1"
    assert r.topic == "cdc_test_db"
    assert r.db == "test_db" and r.table == "product"
    # value forwarded unchanged (no truncation for this table)
    assert json.loads(r.value) == json.loads(row)
    assert r.partition == java_partition_py("test_db.product.1", 12)


def test_delete_reads_pk_from_before(spark):
    row = mysql_event(op="d", before={"pid": 7, "pname": "x"}, after=None)
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.product.7"


def test_update_reads_pk_from_after(spark):
    row = mysql_event(
        op="u", before={"pid": 7, "pname": "old"}, after={"pid": 7, "pname": "new"}
    )
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.product.7"


def test_composite_pk_joined_with_dots(spark):
    row = mysql_event(
        db="tpcc",
        table="order_line",
        after={"ol_w_id": 1, "ol_d_id": 2, "ol_o_id": 3, "ol_number": 4, "x": "y"},
    )
    [r] = route(spark, [row])
    assert r.partition_key == "tpcc.order_line.1.2.3.4"
    assert r.topic == "cdc_tpcc"


def test_unconfigured_table_no_pk_fallback(spark):
    row = mysql_event(table="unknown_table", after={"a": 1})
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.unknown_table.no_pk"


def test_configured_empty_pk_no_pk_fallback(spark):
    row = mysql_event(table="nopk_table", after={"a": 1})
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.nopk_table.no_pk"


def test_regex_key_unanchored_match(spark):
    # rule key "test_db=prodx.*" matches table prodx_42 via findFirstIn
    row = mysql_event(table="prodx_42", after={"pid": 9})
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.prodx_42.9"


def test_longest_key_first_precedence(spark):
    # "test_db=product_01" (len 18) wins over "test_db=product" (len 15)
    # even though both regexes match "test_db=product_01".
    row = mysql_event(table="product_01", after={"pid": 3, "col1": "short"})
    [r] = route(spark, [row])
    assert r.partition_key == "test_db.product_01.3"


def test_truncation_ge_boundary(spark):
    # column_max_length col1=10: length >= 10 triggers (scala:135) —
    # exactly-10 stays itself, 11 truncates to 10, 9 untouched.
    rows = [
        mysql_event(table="product_01", after={"pid": 1, "col1": "a" * 9}),
        mysql_event(table="product_01", after={"pid": 2, "col1": "b" * 10}),
        mysql_event(table="product_01", after={"pid": 3, "col1": "c" * 11}),
    ]
    # Lines Spark's JSON reader routes to the truncating rule but Python's
    # json rejects: single quotes (allowSingleQuotes), bytes after the
    # closing brace, a leading-zero number (partial PERMISSIVE parse),
    # nesting past Python's recursion limit. Each is forwarded unchanged
    # and untruncated instead of failing the batch.
    head = '{"source":{"db":"test_db","table":"product_01"},"op":"c",'
    poison = [
        rows[2].replace('"', "'"),
        rows[2] + " trailing",
        head + '"after":{"pid":6,"col1":"' + "f" * 11 + '","n":007}}',
        head + '"after":{"pid":7,"col1":"' + "g" * 11 + '","x":'
        + "[" * 995 + "]" * 995 + "}}",
    ]
    routed = route(spark, rows + poison)
    assert len(routed) == len(rows) + len(poison)
    forwarded = [r for r in routed if r.value in poison]
    assert sorted(r.value for r in forwarded) == sorted(poison)
    assert all(r.table == "product_01" for r in forwarded)
    out = {
        r.partition_key: json.loads(r.value)
        for r in routed
        if r.value not in poison
    }
    assert out["test_db.product_01.1"]["after"]["col1"] == "a" * 9
    assert out["test_db.product_01.2"]["after"]["col1"] == "b" * 10
    assert out["test_db.product_01.3"]["after"]["col1"] == "c" * 10


def test_truncation_on_delete_uses_before(spark):
    row = mysql_event(
        table="product_01", op="d", before={"pid": 4, "col2": "z" * 25}, after=None
    )
    [r] = route(spark, [row])
    v = json.loads(r.value)
    assert v["before"]["col2"] == "z" * 20
    assert v["after"] is None  # nulls preserved (serializeNulls parity)


def test_truncation_preserves_null_fields_and_types(spark):
    row = mysql_event(table="product_01", after={"pid": 5, "col1": "x" * 12, "n": 3})
    [r] = route(spark, [row])
    v = json.loads(r.value)
    assert v["before"] is None
    assert v["after"]["n"] == 3  # number type survives re-serialization
    assert v["source"]["gtid"] is None


def test_fixed_topic_when_no_prefix(spark):
    row = mysql_event(after={"pid": 1})
    [r] = route(spark, [row], topic_prefix="", topic="fixed_topic")
    assert r.topic == "fixed_topic"


# ---- Mongo path (MongoCDC2AWSMSK.scala:79-102) ----


def mongo_event(db="test_db", coll="product", doc_key='{"_id": 1.0}', op="insert"):
    return json.dumps(
        {
            "_id": doc_key,
            "operationType": op,
            "fullDocument": '{"price": 2.243}',
            "source": {"ts_ms": 0, "snapshot": "true"},
            "ts_ms": 1684928179757,
            "ns": {"db": db, "coll": coll},
            "to": None,
            "documentKey": doc_key,
            "updateDescription": None,
            "clusterTime": None,
            "txnNumber": None,
            "lsid": None,
        }
    )


def test_mongo_scalar_id(spark):
    df = spark.createDataFrame([(mongo_event(),)], "value string")
    [r] = route_mongo_cdc(df, topic_prefix="m_").collect()
    assert r.partition_key == "test_db.product.1.0"
    assert r.topic == "m_test_db"
    # raw line forwarded untouched (scala:97,100)
    assert r.value == mongo_event()


def test_mongo_nested_object_id_spaces_stripped(spark):
    dk = '{"_id": {"user": "u1", "id": 1.0}}'
    df = spark.createDataFrame([(mongo_event(doc_key=dk),)], "value string")
    [r] = route_mongo_cdc(df, topic="t").collect()
    assert r.partition_key == 'test_db.product.{"user":"u1","id":1.0}'


def test_mongo_missing_id_no_pk(spark):
    df = spark.createDataFrame(
        [(mongo_event(doc_key='{"other": 5}'),)], "value string"
    )
    [r] = route_mongo_cdc(df, topic="t").collect()
    assert r.partition_key == "test_db.product.no_pk"


# ---- java hashCode parity ----


def test_java_hashcode_matches_python_reference(spark):
    samples = [
        "",
        "a",
        "test_db.product.1",
        "tpcc.order_line.1.2.3.4",
        "test_db.orders.no_pk",
        "Ab",  # collides with "BC" in Java — good wraparound probe
        "polygenelubricants",  # famous negative hashCode
        "x" * 50,
        "naïve.日本語",  # 2- and 3-byte UTF-8, still one UTF-16 unit each
        # outside the BMP: Java folds each as two UTF-16 surrogate units
        "emoji😀x",
        "😀",
        "a😀😀b",
        "db.t.\U0010ffff",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r.s: (r.h, r.p)
        for r in df.select(
            "s",
            java_string_hashcode(F.col("s")).alias("h"),
            java_partition(F.col("s"), 12).alias("p"),
        ).collect()
    }
    for s in samples:
        assert got[s][0] == java_string_hashcode_py(s), s
        assert got[s][1] == java_partition_py(s, 12), s
    # known Java values
    assert java_string_hashcode_py("polygenelubricants") == -2147483648
    assert got["polygenelubricants"][1] == 4  # pmod(-2^31, 12), bug-fixed edge
    # "😀" is the units 0xD83D 0xDE00: 0xD83D * 31 + 0xDE00
    assert got["😀"][0] == 1772899
    assert got["emoji😀x"][1] == 7


# ---- key-column parse: edge cases of the before/after images ----

KEY_ROUTING = TableRouting.parse(
    json.dumps(
        [
            {"db": "shop", "table": "orders", "primary_key": "id"},
            {"db": "shop", "table": "lines", "primary_key": "order_id,line_no"},
            # "ID" and "id" from two rules must not clash
            {"db": "shop", "table": "users", "primary_key": "ID"},
            {"db": "shop", "table": "audit"},
        ]
    )
)


def _image_line(table, op, before, after):
    """A Debezium line with ``before``/``after`` spliced in as raw JSON
    text, so an image can repeat a key or be an array or a scalar."""
    return (
        '{"before":%s,"after":%s,"source":{"db":"shop","table":"%s"},"op":"%s"}'
        % (before, after, table, op)
    )


# (case, line, partition_key, partition of 12). A key column reads as its
# JSON text (numbers as Jackson renders them); a PK key repeated in one
# image keeps its last value, as the reference's Gson parse does; a row
# with a null key column takes the rule's no_pk key.
KEY_PARSE_CASES = [
    ("dup_pk_key", _image_line("orders", "c", "null", '{"id":1,"v":"x","id":2}'),
     "shop.orders.2", 11),
    ("dup_non_pk_key",
     _image_line("orders", "u", '{"id":7}', '{"v":"a","id":7,"v":"b"}'),
     "shop.orders.7", 6),
    ("int_pk", _image_line("orders", "c", "null", '{"id":-42}'),
     "shop.orders.-42", 6),
    ("big_int_pk", _image_line("orders", "c", "null", '{"id":12345678901234567890}'),
     "shop.orders.12345678901234567890", 3),
    ("decimal_pk", _image_line("orders", "c", "null", '{"id":1.50}'),
     "shop.orders.1.5", 5),
    ("exponent_pk", _image_line("orders", "c", "null", '{"id":1e3}'),
     "shop.orders.1000.0", 2),
    ("nested_object_pk",
     _image_line("orders", "c", "null", '{"id":{"a":1,"b":[1, 2]}}'),
     'shop.orders.{"a":1,"b":[1,2]}', 8),
    ("array_pk", _image_line("orders", "c", "null", '{"id":[3,"x"]}'),
     'shop.orders.[3,"x"]', 8),
    ("boolean_pk", _image_line("orders", "c", "null", '{"id":true}'),
     "shop.orders.true", 3),
    ("null_pk", _image_line("orders", "c", "null", '{"id":null}'),
     "shop.orders.no_pk", 4),
    ("escaped_string_pk", _image_line("orders", "c", "null", '{"id":"a\\"b.c"}'),
     'shop.orders.a"b.c', 5),
    ("composite_one_null",
     _image_line("lines", "c", "null", '{"order_id":3,"line_no":null}'),
     "shop.lines.no_pk", 6),
    ("composite_missing_one", _image_line("lines", "c", "null", '{"line_no":2}'),
     "shop.lines.no_pk", 6),
    ("missing_pk_column", _image_line("orders", "c", "null", '{"v":1}'),
     "shop.orders.no_pk", 4),
    ("delete_reads_before", _image_line("orders", "d", '{"id":5}', "null"),
     "shop.orders.5", 8),
    ("array_before", _image_line("lines", "d", "[1,2]", "null"),
     "shop.lines.no_pk", 6),
    ("scalar_before", _image_line("orders", "d", "5", '{"id":6}'),
     "shop.orders.no_pk", 4),
    ("scalar_after", _image_line("orders", "c", "null", '"id"'),
     "shop.orders.no_pk", 4),
    ("case_variant_pks_upper",
     _image_line("users", "c", "null", '{"id":"lower","ID":"U1"}'),
     "shop.users.U1", 2),
    ("case_variant_pks_lower",
     _image_line("orders", "c", "null", '{"ID":"X","id":9}'),
     "shop.orders.9", 4),
    ("no_pk_rule", _image_line("audit", "c", "null", '{"id":1}'),
     "shop.audit.no_pk", 6),
    ("unmatched_table", _image_line("zzz", "c", "null", '{"id":1}'),
     "shop.zzz.no_pk", 9),
    ("malformed_line", "not json {", "no_pk", 1),
]


def test_key_column_parse_edge_cases(spark):
    df = spark.createDataFrame(
        [(line,) for _, line, _, _ in KEY_PARSE_CASES], "value string"
    )
    got = {
        r.value: (r.partition_key, r.partition)
        for r in route_mysql_cdc(
            df, KEY_ROUTING, topic="t", num_partitions=12
        ).collect()
    }
    for case, line, key, partition in KEY_PARSE_CASES:
        assert got[line] == (key, partition), case
        assert java_partition_py(key, 12) == partition, case


def test_null_key_column_routes_to_no_pk(spark):
    """A key column that is null must not drop out of the key: a missing
    column, or one lost to a partial parse (a leading-zero number after
    the key), would give ``db.table.``, and the composite keys (1, null)
    and (null, 1) would both give ``db.table.1``. Each takes the rule's
    no_pk key; a complete key is unchanged."""
    cases = [
        (_image_line("orders", "c", "null", '{"v":1}'), "shop.orders.no_pk"),
        # source before the image: the partial parse keeps db and table
        ('{"source":{"db":"shop","table":"orders"},"op":"c",'
         '"after":{"id":6,"n":007}}', "shop.orders.no_pk"),
        (_image_line("lines", "c", "null", '{"order_id":1,"line_no":null}'),
         "shop.lines.no_pk"),
        (_image_line("lines", "c", "null", '{"order_id":null,"line_no":1}'),
         "shop.lines.no_pk"),
        (_image_line("lines", "c", "null", '{"order_id":1,"line_no":1}'),
         "shop.lines.1.1"),
        (_image_line("orders", "c", "null", '{"id":6,"n":7}'), "shop.orders.6"),
    ]
    df = spark.createDataFrame([(line,) for line, _ in cases], "value string")
    got = {
        r.value: r.partition_key
        for r in route_mysql_cdc(df, KEY_ROUTING, topic="t").collect()
    }
    assert [got[line] for line, _ in cases] == [key for _, key in cases]


# ------------------------- config / params (no Spark session needed)


def test_startup_position_mapping():
    from flink_cdc_msk_spark.config import parse_kafka_startup_position as p

    assert p("initial") == {"startingOffsets": "earliest"}  # A2
    assert p("latest") == {"startingOffsets": "latest"}  # A3
    assert p("timestamp:1700000000000") == {  # A6
        "startingTimestamp": "1700000000000"
    }
    # A5: GTID sets don't order against topic offsets — earliest + exact
    # envelope cut (test_gtid_resume_filter_cuts_at_set); unknown grammars
    # still refuse loudly (incl. a truncated non-UUID server field)
    assert p("gtid:3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5") == {
        "startingOffsets": "earliest"
    }
    with pytest.raises(ValueError):
        p("gtid:3E11FA47-71CA-11E1-9E33:1-5")
    with pytest.raises(ValueError):
        p("not-a-position")


def test_startup_binlog_file_pos_mapping():
    """A4 ``file[:pos]``: explicit per-partition offset JSON when an index
    exists; earliest + exact envelope cut when it doesn't."""
    import json

    from flink_cdc_msk_spark.config import (
        parse_binlog_position,
        parse_kafka_startup_position as p,
    )

    assert parse_binlog_position("file:mysql-bin.000003:157") == (
        "mysql-bin.000003", 157
    )
    # pos defaults to 4 (first event after the binlog magic header)
    assert parse_binlog_position("file:mysql-bin.000003") == (
        "mysql-bin.000003", 4
    )
    # with a tracked index: explicit startingOffsets JSON
    opts = p(
        "file:mysql-bin.000003:4",
        topic="cdc_test_db",
        binlog_offset_index={0: 1200, 1: 980},
    )
    assert json.loads(opts["startingOffsets"]) == {
        "cdc_test_db": {"0": 1200, "1": 980}
    }
    # without an index: earliest; the exact cut comes from the envelope
    # filter applied by read_cdc_stream
    assert p("file:mysql-bin.000003:4") == {"startingOffsets": "earliest"}
    with pytest.raises(ValueError):
        parse_binlog_position("file:not-a-pos:xx")


def test_binlog_resume_filter_cuts_at_coordinates(spark):
    """The earliest+filter path is EXACT: events strictly before the
    requested (file, pos) drop; later files and same-file>=pos keep;
    source-less rows (snapshot stand-ins) pass."""
    import json

    from flink_cdc_msk_spark.config import binlog_resume_filter

    rows = [
        ("mysql-bin.000002", 9999, "early_file"),
        ("mysql-bin.000003", 3, "same_file_before"),
        ("mysql-bin.000003", 4, "at_cut"),
        ("mysql-bin.000003", 500, "after_cut"),
        ("mysql-bin.000010", 4, "later_file"),
        (None, None, "snapshot"),
    ]
    df = spark.createDataFrame(
        [
            (
                json.dumps(
                    {"source": {"file": f, "pos": po}, "tag": tag}
                    if f is not None
                    else {"tag": tag}
                ),
            )
            for f, po, tag in rows
        ],
        "value string",
    )
    kept = {
        json.loads(r.value)["tag"]
        for r in df.filter(
            binlog_resume_filter("file:mysql-bin.000003:4")
        ).collect()
    }
    assert kept == {"at_cut", "after_cut", "later_file", "snapshot"}


def test_kafka_properties_passthrough():
    from flink_cdc_msk_spark.config import CDCParams

    params = CDCParams(
        kafka_properties="max.request.size=1073741824, acks=-1"
    )
    assert params.kafka_options() == {
        "kafka.max.request.size": "1073741824",
        "kafka.acks": "-1",
    }
    assert CDCParams().kafka_options() == {}


def test_routing_duplicate_key_last_wins_and_backslash_strip():
    from flink_cdc_msk_spark.config import TableRouting

    r = TableRouting.parse(
        '[{"db":"d","table":"t","primary_key":"a"},'
        '{"db":"d","table":"t","primary_key":"b"}]'
    )
    assert len(r.rules) == 1 and r.rules[0].primary_key == ("b",)
    # scala:71 strips backslashes (KDA property escaping)
    r2 = TableRouting.parse(
        '[{"db":"d\\\\d","table":"t","primary_key":"x"}]'
    )
    assert r2.rules[0].key == "dd=t"


def test_truncation_idempotent_property(spark):
    """Routing an already-routed value is a no-op (SURVEY §5.3): the
    truncation + canonical re-serialization is idempotent, for lengths
    around the >= boundary and multibyte text."""
    rows = [
        mysql_event(
            table="product_01",
            after={"pid": i, "col1": "x" * n, "col2": "é" * m},
        )
        for i, (n, m) in enumerate(
            [(0, 0), (9, 19), (10, 20), (11, 21), (40, 40)]
        )
    ]
    once = route(spark, rows)
    again_in = [r.value for r in once]
    twice = route(spark, again_in)
    assert sorted(r.value for r in once) == sorted(r.value for r in twice)
    assert sorted(r.partition_key for r in once) == sorted(
        r.partition_key for r in twice
    )


@given(
    file=st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz-._0123456789", min_size=1
    ),
    pos=st.integers(min_value=0, max_value=2**48),
)
@settings(max_examples=200, deadline=None)
def test_binlog_position_grammar_roundtrip(file, pos):
    """Property: any file:<name>:<pos> round-trips; bare file:<name>
    defaults pos to 4 (binlog magic-header offset)."""
    from flink_cdc_msk_spark.config import parse_binlog_position

    assert parse_binlog_position(f"file:{file}:{pos}") == (file, pos)
    assert parse_binlog_position(f"file:{file}") == (file, 4)


def test_startup_gtid_mapping_and_set_parse():
    """A5 ``gtid:<set>``: earliest + exact envelope cut (like index-less
    file:pos); the full per-UUID interval structure survives parsing —
    gaps are NOT collapsed (they must replay on resume)."""
    from flink_cdc_msk_spark.config import (
        parse_gtid_set,
        parse_kafka_startup_position as p,
    )

    assert p("gtid:3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5") == {
        "startingOffsets": "earliest"
    }
    assert parse_gtid_set(
        "3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5:11-20,"
        "aaaabbbb-0000-0000-0000-000000000001:1-7"
    ) == {
        "3e11fa47-71ca-11e1-9e33-c80aa9429562": [(1, 5), (11, 20)],
        "aaaabbbb-0000-0000-0000-000000000001": [(1, 7)],
    }
    # touching/overlapping intervals merge; single-txn intervals parse
    assert parse_gtid_set(
        "3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5:6-8:10"
    ) == {"3e11fa47-71ca-11e1-9e33-c80aa9429562": [(1, 8), (10, 10)]}


def test_gtid_set_parse_rejects_malformed():
    """A bare uuid (no intervals), a non-UUID token, junk bounds, or an
    empty interval refuse loudly instead of degrading to an uncut
    full-topic replay."""
    import pytest

    from flink_cdc_msk_spark.config import parse_gtid_set

    U = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    for bad in (
        U,                     # no interval list
        "not-a-uuid:1-5",      # non-UUID server field
        f"{U}:1-x",            # non-numeric bound
        f"{U}:9-5",            # empty interval
        f"{U}:1-5-9",          # too many dashes
    ):
        with pytest.raises(ValueError):
            parse_gtid_set(bad)


def test_gtid_resume_filter_cuts_at_set(spark):
    """Events covered by the executed set drop; later txns, unknown
    server UUIDs (failover!), and gtid-less rows (snapshot/non-GTID
    servers) pass."""
    import json

    from flink_cdc_msk_spark.config import gtid_resume_filter

    U1 = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    U2 = "bbbbbbbb-0000-0000-0000-000000000002"
    rows = [
        (f"{U1}:19", "covered_old"),
        (f"{U1}:20", "covered_edge"),
        (f"{U1}:7", "gap_txn_replays"),
        (f"{U1.upper()}:21", "next_txn_case_insensitive"),
        (f"{U2}:1", "unknown_uuid_failover"),
        (None, "snapshot_no_gtid"),
    ]
    df = spark.createDataFrame(
        [
            (
                json.dumps(
                    {"source": {"gtid": g}, "tag": tag}
                    if g is not None
                    else {"tag": tag}
                ),
            )
            for g, tag in rows
        ],
        "value string",
    )
    kept = {
        json.loads(r.value)["tag"]
        for r in df.filter(
            gtid_resume_filter(f"gtid:{U1}:1-5:11-20")
        ).collect()
    }
    assert kept == {
        "gap_txn_replays",
        "next_txn_case_insensitive",
        "unknown_uuid_failover",
        "snapshot_no_gtid",
    }


def test_gtid_set_parse_property():
    """Property: for any set of (uuid, interval-list) entries the parsed
    structure is sorted, disjoint, non-adjacent, and MEMBERSHIP-exact —
    probing each generated bound ±1 agrees with the raw spans (so merge
    normalization never widens or narrows coverage); whitespace/newlines
    and case are normalized. Mirrors the grammar MySQL SHOW MASTER
    STATUS emits."""
    from hypothesis import given, strategies as st

    from flink_cdc_msk_spark.config import parse_gtid_set

    uuids = st.uuids().map(str)
    intervals = st.lists(
        st.tuples(st.integers(1, 10**9), st.integers(0, 10**6)),
        min_size=1,
        max_size=4,
    )

    @given(st.dictionaries(uuids, intervals, min_size=1, max_size=5))
    def check(entries):
        parts = []
        for u, ivs in entries.items():
            spans = [f"{lo}-{lo + width}" for lo, width in ivs]
            parts.append(f"{u.upper()}:" + ":".join(spans))
        got = parse_gtid_set(", \n".join(parts))
        assert set(got) == {u.lower() for u in entries}
        for u, ivs in entries.items():
            raw = [(lo, lo + width) for lo, width in ivs]
            merged = got[u.lower()]
            # canonical form: sorted, disjoint, gaps of >= 2
            assert merged == sorted(merged)
            for (_, phi), (nlo, _) in zip(merged, merged[1:]):
                assert nlo > phi + 1
            # membership equivalence at every boundary and its neighbors
            probes = {p for lo, hi in raw for p in (lo - 1, lo, hi, hi + 1)}
            for p in probes:
                want_in = any(lo <= p <= hi for lo, hi in raw)
                got_in = any(lo <= p <= hi for lo, hi in merged)
                assert got_in == want_in, (u, p, raw, merged)

    check()


def test_debezium_jsonl_source_quarantines_malformed(spark, tmp_path):
    """The custom Python DataSource must surface unparseable lines as
    op='__malformed__' rows (route.py's quarantine contract), never
    drop or crash on them — and must parallelize one partition per
    file."""
    from flink_cdc_msk_spark.sources.debezium_source import register

    register(spark)
    good = '{"op":"c","ts_ms":5,"source":{"db":"d","table":"t"},"before":null,"after":{"k":1}}'
    (tmp_path / "a.jsonl").write_text(good + "\n{not json}\n")
    (tmp_path / "b.jsonl").write_text(good + "\n")
    df = (
        spark.read.format("debezium_jsonl")
        .option("path", str(tmp_path))
        .load()
    )
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r.op == "__malformed__"]
    assert len(bad) == 1 and bad[0].after_json == "{not json}"
    ok = [r for r in rows if r.op == "c"]
    assert all(r.db == "d" and r.table == "t" and r.ts_ms == 5 for r in ok)
    assert df.rdd.getNumPartitions() == 2


# ---- A21 null guard on the raw line: plan shape and row semantics ----


def test_truncation_plan_runs_python_udf_once(spark):
    """The null guard filters the raw line, so Catalyst has no predicate
    on the UDF's output to push below the routing projection: one
    ArrowEvalPython (one Python pass per row), and no Filter reads a
    Python UDF result."""
    df = spark.createDataFrame(
        [(mysql_event(table="product_01", after={"pid": 1, "col1": "y" * 30}),)],
        "value string",
    )
    out = route_mysql_cdc(df, ROUTING, topic_prefix="cdc_", num_partitions=12)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    filters = [ln for ln in plan.splitlines() if "Filter " in ln]
    assert filters  # the raw-line guard is still there
    assert not [ln for ln in filters if "pythonUDF" in ln], filters


_NO_TRUNC = TableRouting.parse(
    json.dumps([{"db": "test_db", "table": "product.*", "primary_key": "pid"}])
)


@pytest.mark.parametrize("mode", ["pandas", "no_truncation"])
def test_null_lines_dropped_malformed_survive(spark, mode):
    """A21 semantics on both value paths: a null line is dropped; an
    unroutable line (not JSON, or JSON without a source block) survives
    with null db and its original bytes."""
    kw = {"pandas": {}, "no_truncation": {"routing": _NO_TRUNC}}[mode]
    good = mysql_event(table="product_01", after={"pid": 1, "col1": "q" * 12})
    malformed = ["not json at all", '{"op":"c","ts_ms":1}']
    rows = route(spark, [good, None, *malformed], **kw)
    assert len(rows) == 3
    [ok] = [r for r in rows if r.db is not None]
    assert ok.partition_key == "test_db.product_01.1"
    col1 = json.loads(ok.value)["after"]["col1"]
    assert col1 == ("q" * 12 if mode == "no_truncation" else "q" * 10)
    bad = [r for r in rows if r.db is None]
    assert sorted(r.value for r in bad) == sorted(malformed)
    assert all(r.table is None and r.topic is None for r in bad)


def test_mongo_null_lines_dropped(spark):
    df = spark.createDataFrame([(mongo_event(),), (None,)], "value string")
    [r] = route_mongo_cdc(df, topic_prefix="cdc_").collect()
    assert r.value == mongo_event()


def test_invalid_utf8_line_on_truncating_table_forwarded_raw(spark, tmp_path):
    """A line with invalid UTF-8 bytes never crosses to Python (Arrow's
    string conversion would fail the batch): on a truncating table it is
    routed and forwarded byte for byte, untruncated; its valid
    neighbours are still truncated."""
    good = mysql_event(table="product_01", after={"pid": 1, "col1": "g" * 14})
    bad = [
        mysql_event(table=t, after={"pid": 7, "col1": "BAD"})
        .encode()
        .replace(b"BAD", b"a\xff\xfeb" + b"z" * 12)
        for t in ("product_01", "product")
    ]
    path = tmp_path / "lines.txt"
    path.write_bytes(b"\n".join([good.encode(), *bad]) + b"\n")
    out = route_mysql_cdc(
        spark.read.text(str(path)), ROUTING, topic_prefix="cdc_"
    ).select("partition_key", F.col("value").cast("binary").alias("raw"))
    got = {r.partition_key: bytes(r.raw) for r in out.collect()}
    assert got == {
        "test_db.product_01.1": json.dumps(
            json.loads(good.replace("g" * 14, "g" * 10)), separators=(",", ":")
        ).encode(),
        "test_db.product_01.7": bad[0],
        "test_db.product.7": bad[1],
    }


def _zip_package(path, pkg, modules):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for m in modules:
            z.writestr(f"{pkg}/{m}.py", f"NAME = {m!r}\n")


def test_drop_spark_zip_importers(tmp_path, monkeypatch):
    """The truncation UDF's worker-side helper drops the cached zip
    importers over Spark's archives (here a jar in ``$SPARK_HOME/jars``),
    so ``importlib.invalidate_caches()`` re-reads no Spark archive; a
    sibling module still imports from it. A non-Spark zip's importer is
    kept and keeps its per-task refresh."""
    import importlib
    import sys
    import zipimport

    from flink_cdc_msk_spark.operators import route as route_mod

    (tmp_path / "jars").mkdir()
    spark_jar = str(tmp_path / "jars" / "spk.jar")
    user_zip = str(tmp_path / "user.zip")
    _zip_package(spark_jar, "spkpkg", ["a", "b"])
    _zip_package(user_zip, "usrpkg", ["a", "b"])
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    monkeypatch.syspath_prepend(spark_jar)
    monkeypatch.syspath_prepend(user_zip)
    for m in ("spkpkg", "spkpkg.a", "spkpkg.b", "usrpkg", "usrpkg.a"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    importlib.import_module("spkpkg.a")
    importlib.import_module("usrpkg.a")

    def archives():
        return [
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]

    assert archives().count(spark_jar) == 2  # the jar and its package
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    route_mod._drop_spark_zip_importers()
    importlib.invalidate_caches()
    assert importlib.import_module("spkpkg.b").NAME == "b"
    if sys.version_info < (3, 12):
        assert spark_jar not in reads
        assert user_zip in reads
        assert archives().count(user_zip) == 2
    for m in ("spkpkg", "spkpkg.a", "spkpkg.b", "usrpkg", "usrpkg.a"):
        sys.modules.pop(m, None)

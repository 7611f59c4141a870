"""Change-event envelope schemas (SURVEY.md §1.1-§1.3).

The reference moves raw Debezium/Mongo JSON strings end-to-end
(DataStreamSource[String], MySQLCDC2AWSMSK.scala:93). Here the payload gets a
declared nested StructType so Catalyst can prune/push down. The
table-agnostic compaction envelope keeps ``before``/``after`` as
``map<string,string>``: the reference reads row fields opaquely-stringly
(``getAsString``) and must work for any table without a per-table schema.
Routing knows its rules, so its envelope reads only the rules' primary-key
columns, as string struct fields (:func:`mysql_envelope_route_schema`).
"""

from __future__ import annotations

from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Hand-pruned envelope views for hot paths. from_json ignores JSON fields
# absent from the schema, so parsing with a subset schema is semantically
# identical for the fields consumed — and measurably faster (~16% on the
# compaction path): Catalyst's OptimizeJsonExprs does NOT prune nested
# from_json schemas in these access shapes (verified in the optimized
# plan), so the pruning is explicit.


def mysql_envelope_route_schema(key_columns) -> StructType:
    """Routing's envelope (A13-A18): source.db, source.table, op, and
    before/after as a struct of ``key_columns`` (the union of the rules'
    primary-key columns), each ``StringType``.

    Jackson skips every other row field instead of building two maps per
    row. A struct field and a map value share Spark's JSON ``StringType``
    converter (a number, boolean or nested value becomes its JSON text),
    so each key column reads the string a ``map<string,string>`` parse
    would. The one difference is a key repeated inside one image: the
    struct keeps the last value, as the reference's Gson does; a map keeps
    the first."""
    row = StructType([StructField(c, StringType()) for c in key_columns])
    source = StructType(
        [StructField("db", StringType()), StructField("table", StringType())]
    )
    return StructType(
        [
            StructField("before", row),
            StructField("after", row),
            StructField("source", source),
            StructField("op", StringType()),
        ]
    )


# Compaction consumes: before/after, op, ts_ms.
MYSQL_ENVELOPE_COMPACT_SCHEMA = StructType(
    [
        StructField("before", MapType(StringType(), StringType())),
        StructField("after", MapType(StringType(), StringType())),
        StructField("op", StringType()),
        StructField("ts_ms", LongType()),
    ]
)


def mysql_envelope_keyed_schema(
    key_fields: dict[str, "type"], payload_fields: dict[str, "type"]
) -> StructType:
    """Typed minimal envelope for TABLE-SPECIFIC hot paths (the latest-
    state compaction knows its table): before carries only the key
    fields, after the key + consumed payload fields, both as typed
    structs instead of string maps. from_json skips JSON fields absent
    from the schema, so this parses ~10% faster than the map form
    (measured at sf0.1) while producing identical values. The map-based
    compaction schema above remains the table-AGNOSTIC surface."""
    before = StructType([StructField(k, t()) for k, t in key_fields.items()])
    after = StructType(
        [StructField(k, t()) for k, t in {**key_fields, **payload_fields}.items()]
    )
    return StructType(
        [
            StructField("before", before),
            StructField("after", after),
            StructField("op", StringType()),
            StructField("ts_ms", LongType()),
        ]
    )

# Mongo change-stream envelope — sample at MongoCDC2AWSMSK.scala:95-96.
# documentKey stays a raw string: the reference regex-extracts `_id` from the
# string form because `_id` may be scalar OR a nested object (scala:86-92).
MONGO_ENVELOPE_SCHEMA = StructType(
    [
        StructField("_id", StringType()),
        StructField("operationType", StringType()),
        StructField("fullDocument", StringType()),
        StructField(
            "source",
            StructType(
                [
                    StructField("ts_ms", LongType()),
                    StructField("snapshot", StringType()),
                ]
            ),
        ),
        StructField("ts_ms", LongType()),
        StructField(
            "ns",
            StructType(
                [StructField("db", StringType()), StructField("coll", StringType())]
            ),
        ),
        StructField("to", StringType()),
        StructField("documentKey", StringType()),
        StructField("updateDescription", StringType()),
        StructField("clusterTime", StringType()),
        StructField("txnNumber", LongType()),
        StructField("lsid", StringType()),
    ]
)

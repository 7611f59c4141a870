"""The core parse-route-truncate operator (SURVEY.md A13-A21).

Reference: the per-record ``map`` closure at MySQLCDC2AWSMSK.scala:95-168
(EMR twin emr/MySQLCDC2AWSMSK.scala:87-160, Mongo variant
MongoCDC2AWSMSK.scala:79-102). Re-expressed as a composition of narrow
Catalyst expressions:

  * JSON field extraction  → ``from_json`` + struct access (A14); by
    default ``before``/``after`` parse as a struct of only the rules'
    primary-key columns, all strings, so Jackson skips the rest of the row
  * longest-match regex config lookup → generated ``coalesce(when(rlike))``
    chain in longest-key-first config order (A15)
  * delete-aware composite PK extraction → ``when(op='d', before[k])
    .otherwise(after[k])`` + ``concat_ws('.')``; a null key column
    gives the ``no_pk`` key (A16)
  * column truncation → vectorized (Arrow) pandas UDF doing the JSON
    surgery, applied ONLY when the routing table actually configures
    ``column_max_length`` (A17, A20)
  * partition-key synthesis + ``no_pk`` fallback (A18)
  * Mongo ``_id`` regex extraction (A19)

Everything except the truncation rewrite stays JVM-side inside whole-stage
codegen — no shuffle, no Python. The operator is a narrow map over the
stream/batch, so it scales linearly with partitions and preserves the
reference's invariant (README.md:6): all events of one (db, table, pk) carry
the same partition key.

Fidelity note on re-serialization: the reference re-serializes EVERY MySQL
event through Gson (compact JSON, nulls preserved — scala:38,142,165), which
is a whitespace-level canonicalization. Here a line is re-serialized
(Gson-canonical) exactly when it matches a rule with ``column_max_length``;
every other line is forwarded unchanged (JSON-semantically identical,
byte-identical for already-compact input).
"""

from __future__ import annotations

import functools
import json
import operator
import os
import sys
import zipimport

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from ..config import TableRouting
from ..envelope import MONGO_ENVELOPE_SCHEMA, mysql_envelope_route_schema
from ..functions.java_hash import java_partition

# Reference regex for Mongo `_id` (scalar or nested object), scala:86.
MONGO_ID_PATTERN = r'"_id":\s*([\d.]+|\{[^}]+\})'


def _first_match_chain(
    probe: Column, routing: TableRouting, value_of
) -> Column | None:
    """``coalesce(when(probe rlike key_i, value_of(rule_i)), ...)`` over the
    longest-first rule list — first regex match wins, exactly the
    ``breakable`` probe loop at scala:104-112. Returns None if no rules."""
    whens = [
        F.when(probe.rlike(rule.key), value_of(rule)) for rule in routing.rules
    ]
    return F.coalesce(*whens) if whens else None


def _make_trunc_udf():
    """Arrow-batched JSON truncation (A17+A20).

    Given (line, op, cml) where ``cml`` is the matched rule's
    ``col=N|col2=M`` string: parse the envelope, and for each configured
    column present and non-null on the delete-aware side with
    ``len(value) >= N`` (the reference's ``>=`` edge, scala:135 — a
    string of exactly N chars is "truncated" to itself), replace it with
    ``value[:N]``; re-serialize compact with nulls preserved (Gson
    ``serializeNulls`` parity, scala:38). A null line (one the caller
    forwards raw) stays null.

    Spark's JSON reader routes some lines Python's ``json`` rejects:
    single quotes (``allowSingleQuotes``), bytes after the closing
    ``}``, a leading-zero number (parsed partially in PERMISSIVE mode),
    nesting deeper than Python's recursion limit. Such a line is
    forwarded unchanged, untruncated, like every other line the route
    cannot parse (see :func:`_finish`), instead of failing the batch.
    """

    @pandas_udf("string")
    def truncate_json(
        line: pd.Series, op: pd.Series, cml: pd.Series
    ) -> pd.Series:
        _drop_spark_zip_importers()
        out = []
        for ln, o, c in zip(line, op, cml):
            if ln is not None:
                try:
                    ln = _truncated(ln, o, c)
                except (ValueError, RecursionError):
                    pass
            out.append(ln)
        return pd.Series(out)

    return truncate_json


def _drop_spark_zip_importers() -> None:
    """Take the zip importers over Spark's own archives out of
    ``sys.path_importer_cache``.

    A Python worker runs ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``, for the task's
    ``addPyFile`` zips). Before Python 3.12 that makes each cached
    ``zipimporter`` re-read its whole archive's directory: ``pyspark.zip``,
    the py4j zip and a Spark jar, once per package imported from them,
    16 reads and ~0.3 s of every task here. Those archives do not change
    while a worker lives; a dropped importer is rebuilt on the next
    import from ``zipimport._zip_directory_cache`` without a read. Other
    zips (user ``addPyFile`` archives) keep their per-task refresh. From
    3.12 on the refresh is lazy and this is a no-op."""
    if sys.version_info >= (3, 12):
        return
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and _is_spark_archive(
            finder.archive
        ):
            del cache[key]


@functools.cache
def _is_spark_archive(archive: str) -> bool:
    """Whether ``archive`` is the zip ``pyspark`` or ``py4j`` was loaded
    from, or a jar in ``$SPARK_HOME/jars``."""
    import py4j
    import pyspark

    if archive in {
        getattr(m.__loader__, "archive", None) for m in (pyspark, py4j)
    }:
        return True
    home = os.environ.get("SPARK_HOME")
    return bool(home) and os.path.dirname(
        os.path.realpath(archive)
    ) == os.path.realpath(os.path.join(home, "jars"))


def _truncated(line: str, op: str, cml: str) -> str:
    obj = json.loads(line)
    target = obj.get("before" if op == "d" else "after")
    if isinstance(target, dict):
        for pair in cml.split("|"):
            col, n = pair.split("=")[0], int(pair.split("=")[1])
            v = target.get(col)
            if isinstance(v, str) and v != "" and len(v) >= n:
                target[col] = v[:n]
    return json.dumps(obj, separators=(",", ":"))


def route_mysql_cdc(
    df: DataFrame,
    routing: TableRouting,
    *,
    value_col: str = "value",
    topic: str = "",
    topic_prefix: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Debezium JSON lines → routed CDC records.

    Output columns: ``db, table, partition_key, topic[, partition], value``
    — the ``CDCKafkaModel`` (model/CDCModel.scala:4) plus sink routing.
    Works identically on batch and streaming DataFrames (same expressions).
    """
    # A21 null guard, on the raw line (see _finish)
    df = df.filter(F.col(value_col).isNotNull())

    # before/after parse only the rules' key columns, as strings
    # (envelope.mysql_envelope_route_schema); Catalyst doesn't prune
    # a nested from_json schema here by itself
    key_columns = list(
        dict.fromkeys(c for rule in routing.rules for c in rule.primary_key)
    )
    env = F.from_json(F.col(value_col), mysql_envelope_route_schema(key_columns))
    df = df.withColumn("_env", env).withColumns(
        {
            "db": F.col("_env.source.db"),
            "table": F.col("_env.source.table"),
            "op": F.col("_env.op"),
        }
    )
    pk_side = F.when(F.col("op") == "d", F.col("_env.before")).otherwise(
        F.col("_env.after")
    )
    # A struct field name resolves case-insensitively by default, so
    # "ID" and "id" from two rules would be ambiguous: rename the
    # fields by position (a struct-to-struct cast) and read each key
    # column from its own slot.
    slot = {c: c for c in key_columns}
    if len({c.lower() for c in key_columns}) < len(key_columns):
        slot = {c: f"_{i}" for i, c in enumerate(key_columns)}
        pk_side = pk_side.cast(
            StructType([StructField(n, StringType()) for n in slot.values()])
        )
    # the key side as a column of its own: each rule reads its key columns
    # twice (null check and key), and Catalyst keeps a non-trivial
    # expression read more than once in its own projection, evaluated
    # once per row. Inlined into a 16-rule chain it grew the generated
    # code ~70% and slowed the route 15-25%.
    df = df.withColumn("_pk", pk_side)
    pk_side = F.col("_pk")

    probe = F.concat(F.col("db"), F.lit("="), F.col("table"))
    no_pk = F.concat_ws(".", F.col("db"), F.col("table"), F.lit("no_pk"))

    def rule_key(rule):
        # db.table + mkString(".") over the rule's PK columns
        # (scala:113-121,141). A key column that is null (missing from
        # the row, or lost to a partial parse) would drop out of
        # concat_ws and make distinct keys collide, so such a row takes
        # the no_pk key (the reference would throw).
        if not rule.primary_key:
            return no_pk
        cols = [pk_side[slot[c]] for c in rule.primary_key]
        return F.when(
            functools.reduce(operator.or_, [c.isNull() for c in cols]), no_pk
        ).otherwise(F.concat_ws(".", F.col("db"), F.col("table"), *cols))

    key_chain = _first_match_chain(probe, routing, rule_key)
    partition_key = F.coalesce(key_chain, no_pk) if key_chain is not None else no_pk

    if any(r.column_max_length for r in routing.rules):
        cml = F.coalesce(
            _first_match_chain(
                probe, routing, lambda rule: F.lit(rule.max_length_str)
            ),
            F.lit(""),
        )
        # Only lines of a truncating rule cross to Python, and only
        # valid UTF-8 (Arrow's string->pandas conversion fails the whole
        # batch on anything else); every other line crosses as null and
        # is forwarded raw.
        line = F.col(value_col)
        value_out = F.coalesce(
            _make_trunc_udf()(
                F.when((cml != "") & F.is_valid_utf8(line), line),
                F.col("op"),
                cml,
            ),
            line,
        )
    else:
        # No truncation configured anywhere → the reference's gson
        # re-serialization is a pure canonicalization; forward unchanged
        # and keep the whole operator JVM-side.
        value_out = F.col(value_col)

    out = df.withColumns(
        {"partition_key": partition_key, "value_out": value_out}
    )
    return _finish(out, topic, topic_prefix, num_partitions)


def route_mongo_cdc(
    df: DataFrame,
    *,
    value_col: str = "value",
    topic: str = "",
    topic_prefix: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Mongo change-stream JSON lines → routed CDC records
    (MongoCDC2AWSMSK.scala:79-102). The raw line is forwarded untouched
    (scala:97,100 — no truncation, no re-serialization on the Mongo path)."""
    # A21 null guard, on the raw line (see _finish)
    df = df.filter(F.col(value_col).isNotNull())

    env = F.from_json(F.col(value_col), MONGO_ENVELOPE_SCHEMA)
    df = df.withColumn("_env", env).withColumns(
        {
            "db": F.col("_env.ns.db"),
            "table": F.col("_env.ns.coll"),
            "op": F.col("_env.operationType"),
        }
    )
    # A19: `_id` from documentKey — scalar ([\d.]+) or nested object
    # ({[^}]+}), spaces stripped from the capture (scala:86-92).
    pk_value = F.regexp_replace(
        F.regexp_extract(F.col("_env.documentKey"), MONGO_ID_PATTERN, 1),
        " ",
        "",
    )
    partition_key = F.when(
        pk_value != "",
        F.concat_ws(".", F.col("db"), F.col("table"), pk_value),
    ).otherwise(F.concat_ws(".", F.col("db"), F.col("table"), F.lit("no_pk")))

    out = df.withColumns(
        {"partition_key": partition_key, "value_out": F.col(value_col)}
    )
    return _finish(out, topic, topic_prefix, num_partitions)


def _finish(
    df: DataFrame, topic: str, topic_prefix: str, num_partitions: int | None
) -> DataFrame:
    # A27: dynamic topic = prefix + lower(db) when prefix set, else fixed
    # topic (FlinkCDCSimpleTopicSelector.scala:8-12; selection scala:191-220).
    topic_col = (
        F.concat(F.lit(topic_prefix), F.lower(F.col("db")))
        if topic_prefix
        else F.lit(topic)
    )
    cols = {
        "topic": topic_col,
        "value": F.col("value_out"),
    }
    if num_partitions is not None:
        # A25: partition-number parity with the reference's
        # Math.abs(hashCode % n) (FlinkCDCSimplePartitioner.scala:13).
        cols["partition"] = java_partition(F.col("partition_key"), num_partitions)
    out_cols = ["db", "table", "partition_key", "topic"] + (
        ["partition"] if num_partitions is not None else []
    ) + ["value"]
    # A21: the reference's null guard (emr/MySQLCDC2AWSMSK.scala:160)
    # sits at the top of route_mysql_cdc / route_mongo_cdc, on the raw
    # line, not here on ``value``. Both value forms (the truncation UDF
    # and the pass-through) are null exactly when the raw line is, so
    # both drop the same rows. But a predicate on ``value`` is pushed
    # below this projection with the whole value expression inlined
    # (PushPredicateThroughProject): on the truncation path that plans a
    # second ArrowEvalPython, its inputs re-parsing the line with
    # from_json, and the UDF runs twice per row. On the raw column it
    # stays a plain filter over the scan.
    # Unroutable lines (no JSON, no source block) survive with null
    # db/table/topic: the reference's Gson parse would throw and fail the
    # job; here the caller quarantines or drops them (query
    # cdc_route_malformed pins the drop). A routable line the truncation
    # UDF cannot parse is forwarded unchanged for the same reason.
    return df.withColumns(cols).select(*out_cols)

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
    .otherwise(after[k])`` + ``concat_ws('.')`` (A16)
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
is a whitespace-level canonicalization. When no truncation applies we forward
the original line unchanged (JSON-semantically identical, byte-identical for
already-compact input); pass ``reserialize="always"`` for strict
canonical-output parity (runs the Arrow UDF on every row).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from ..config import TableRouting
from ..envelope import (
    MONGO_ENVELOPE_SCHEMA,
    MYSQL_ENVELOPE_SCHEMA,
    mysql_envelope_route_schema,
)
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


def _make_trunc_udf(routing: TableRouting, always: bool):
    """Arrow-batched JSON truncate+reserialize (A17+A20).

    Given (line, op, cml) where ``cml`` is the matched rule's
    ``col=N|col2=M`` string (empty ⇒ no truncation configured): parse the
    envelope, and for each configured column present and non-null on the
    delete-aware side with ``len(value) >= N`` (the reference's ``>=`` edge,
    scala:135 — a string of exactly N chars is "truncated" to itself),
    replace it with ``value[:N]``; re-serialize compact with nulls preserved
    (Gson ``serializeNulls`` parity, scala:38).
    """

    @pandas_udf("string")
    def trunc_reserialize(
        line: pd.Series, op: pd.Series, cml: pd.Series
    ) -> pd.Series:
        out = []
        for ln, o, c in zip(line, op, cml):
            if not c and not always:
                out.append(ln)
                continue
            obj = json.loads(ln)
            if c:
                side = "before" if o == "d" else "after"
                target = obj.get(side)
                if isinstance(target, dict):
                    for pair in c.split("|"):
                        col, n = pair.split("=")[0], int(pair.split("=")[1])
                        v = target.get(col)
                        if isinstance(v, str) and v != "" and len(v) >= n:
                            target[col] = v[: int(n)]
            out.append(json.dumps(obj, separators=(",", ":")))
        return pd.Series(out)

    return trunc_reserialize


def _jvm_reserialize(
    value_col: str,
    routing: TableRouting,
    probe: Column,
    payload_schema,
) -> Column:
    """A17+A20 JVM fast path (VERDICT r8 item 6): for envelopes whose
    row schema is DECLARED, truncation + canonical re-serialization is
    ``from_json`` → ``withField`` surgery → ``to_json`` — whole-stage
    codegen, no Python worker on the CDC hot path.

    Byte-parity contract (what "declared" certifies, verified once per
    topic by the golden tests): the producer emits payload fields in
    the declared order (``to_json`` renders struct fields in schema
    order), and nulls are preserved (``ignoreNullFields=false`` ==
    Gson ``serializeNulls``, scala:38). One deliberate delta from the
    pandas mode, toward Gson: non-ASCII is emitted raw UTF-8 (Python
    ``json.dumps`` escapes it).

    SCHEMA-DRIFT WARNING (ADVICE r9): the from_json → to_json
    round-trip DROPS every payload/envelope field absent from the
    declared schema — on a drifted topic this path loses those columns
    on EVERY row, not merely "cannot truncate" them (the pandas mode
    forwards the full parsed JSON and is the correct mode for drifting
    topics). Run :func:`payload_schema_drift` against a sample of the
    topic before declaring a schema, and re-run it on schema-change
    events; the golden tests pin the drop behavior."""
    # env is an ATTRIBUTE (bound by route_mysql_cdc via withColumn), not
    # the from_json expression itself: the coalesce(when(...)) chain
    # references the envelope many times, and inlining the parse there
    # re-evaluates from_json per reference (conditional branches defeat
    # codegen subexpression elimination — measured 3.6× SLOWER than the
    # pandas mode before this binding; Catalyst's CollapseProject keeps
    # the projections separate exactly because the expensive expression
    # is multiply-referenced, so the parse runs once per row).
    env = F.col("_fullenv")
    declared = {f.name for f in payload_schema.fields}

    def truncated(side: Column, rule) -> Column:
        out = side
        for col, n in rule.column_max_length:
            if col not in declared:
                continue
            v = out[col]
            out = out.withField(
                col,
                F.when(
                    v.isNotNull() & (v != "") & (F.length(v) >= n),
                    F.substring(v, 1, n),
                ).otherwise(v),
            )
        return F.when(side.isNotNull(), out)  # null side stays null

    def per_rule(rule) -> Column:
        if not rule.column_max_length:
            return env
        is_del = env["op"] == "d"
        return (
            env.withField(
                "before",
                F.when(is_del, truncated(env["before"], rule)).otherwise(
                    env["before"]
                ),
            ).withField(
                "after",
                F.when(is_del, env["after"]).otherwise(
                    truncated(env["after"], rule)
                ),
            )
        )

    chain = [
        F.when(probe.rlike(rule.key), per_rule(rule))
        for rule in routing.rules
    ]
    routed_env = F.coalesce(*chain, env) if chain else env
    # malformed lines are forwarded raw, matching the pandas mode: the
    # A21 quarantine keys off null db/table and must still see the
    # original bytes. PERMISSIVE from_json yields an all-null struct
    # (not a null) for garbage, so the detector is the required
    # `source` block — an envelope without it is unroutable either way.
    return F.when(
        env.isNull() | env["source"].isNull(), F.col(value_col)
    ).otherwise(F.to_json(routed_env, {"ignoreNullFields": "false"}))


def payload_schema_drift(
    df: DataFrame, payload_schema, value_col: str = "value"
) -> DataFrame:
    """Drift guard for the JVM fast path (ADVICE r9): returns
    ``(undeclared_column, n_rows)`` for every payload field that appears
    in the topic's before/after images but is ABSENT from
    ``payload_schema`` — exactly the fields :func:`_jvm_reserialize`
    would silently drop. Empty result == the declared schema covers the
    topic and the fast path is loss-free.

    Run it on a bounded sample (``df.limit(n)``) as a pre-flight, or on
    a whole batch as a loud gate (``assert drift.isEmpty()``). Payload
    values are parsed as MAP<STRING,STRING>, so only top-level field
    NAMES are inspected — sufficient for MySQL row images, which are
    flat."""
    declared = sorted(f.name for f in payload_schema.fields)
    keys = F.from_json(
        F.col(value_col),
        "STRUCT<before: MAP<STRING,STRING>, after: MAP<STRING,STRING>>",
    )
    observed = F.array_distinct(
        F.concat(
            F.coalesce(F.map_keys(keys["before"]), F.array()),
            F.coalesce(F.map_keys(keys["after"]), F.array()),
        )
    )
    undeclared = F.array_except(
        observed, F.array(*[F.lit(c) for c in declared])
    )
    return (
        df.select(F.explode(undeclared).alias("undeclared_column"))
        .groupBy("undeclared_column")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def route_mysql_cdc(
    df: DataFrame,
    routing: TableRouting,
    *,
    value_col: str = "value",
    topic: str = "",
    topic_prefix: str = "",
    num_partitions: int | None = None,
    reserialize: str = "needed",  # "needed" | "always"
    rebalance: int | None = None,
    payload_schema=None,
) -> DataFrame:
    """Debezium JSON lines → routed CDC records.

    Output columns: ``db, table, partition_key, topic[, partition], value``
    — the ``CDCKafkaModel`` (model/CDCModel.scala:4) plus sink routing.
    Works identically on batch and streaming DataFrames (same expressions).

    ``payload_schema`` (a StructType for the row fields in producer
    order) selects the JVM re-serialization fast path — see
    :func:`_jvm_reserialize`; without it, truncation runs in the
    byte-parity Arrow pandas UDF.

    CAUTION: the fast path re-emits only DECLARED fields — a stale
    ``payload_schema`` on a drifted topic silently sheds the new
    columns from every re-serialized row (ADVICE r9). Validate with
    :func:`payload_schema_drift` before declaring, and leave
    ``payload_schema=None`` (pandas byte-parity mode, which forwards
    the full parsed JSON) for topics that drift.
    """
    # A21 null guard, on the raw line (see _finish)
    df = df.filter(F.col(value_col).isNotNull())
    if rebalance:
        # A12: `source.rebalance` (scala:95) — round-robin skew breaker.
        df = df.repartition(rebalance)

    if payload_schema is not None:
        # JVM fast path: ONE full-schema parse per row serves routing AND
        # re-serialization (the pandas path's pruned parse would be a
        # second Jackson pass over every byte)
        full_schema = StructType(
            [
                f if f.name not in ("before", "after")
                else type(f)(f.name, payload_schema)
                for f in MYSQL_ENVELOPE_SCHEMA.fields
            ]
        )
        declared = {f.name for f in payload_schema.fields}
        df = df.withColumn(
            "_fullenv", F.from_json(F.col(value_col), full_schema)
        ).withColumns(
            {
                "db": F.col("_fullenv.source.db"),
                "table": F.col("_fullenv.source.table"),
                "op": F.col("_fullenv.op"),
            }
        )
        pk_side = F.when(
            F.col("op") == "d", F.col("_fullenv.before")
        ).otherwise(F.col("_fullenv.after"))

        def pk_value(rule, side):
            # a PK column outside the declared schema degrades to null
            # (dropped from the key) — same as on the default path for a
            # column missing from the row
            vals = [
                side[c].cast("string")
                if c in declared
                else F.lit(None).cast("string")
                for c in rule.primary_key
            ]
            return F.concat_ws(".", *vals)
    else:
        # before/after parse only the rules' key columns, as strings
        # (envelope.mysql_envelope_route_schema); Catalyst doesn't prune
        # a nested from_json schema here by itself
        key_columns = list(
            dict.fromkeys(c for rule in routing.rules for c in rule.primary_key)
        )
        env = F.from_json(
            F.col(value_col), mysql_envelope_route_schema(key_columns)
        )
        df = df.withColumn("_env", env).withColumns(
            {
                "db": F.col("_env.source.db"),
                "table": F.col("_env.source.table"),
                "op": F.col("_env.op"),
            }
        )
        pk_side = F.when(
            F.col("op") == "d", F.col("_env.before")
        ).otherwise(F.col("_env.after"))
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

        def pk_value(rule, side):
            # mkString(".") over the rule's PK columns (scala:113-121,141);
            # a column missing from the row is null and drops out of the
            # key (the reference would throw)
            return F.concat_ws(".", *[side[slot[c]] for c in rule.primary_key])

    probe = F.concat(F.col("db"), F.lit("="), F.col("table"))
    no_pk = F.concat_ws(".", F.col("db"), F.col("table"), F.lit("no_pk"))

    key_chain = _first_match_chain(
        probe,
        routing,
        lambda rule: (
            F.concat_ws(
                ".", F.col("db"), F.col("table"), pk_value(rule, pk_side)
            )
            if rule.primary_key
            else no_pk
        ),
    )
    partition_key = F.coalesce(key_chain, no_pk) if key_chain is not None else no_pk

    needs_trunc = any(r.column_max_length for r in routing.rules)
    if needs_trunc or reserialize == "always":
        if payload_schema is not None:
            value_out = _jvm_reserialize(
                value_col, routing, probe, payload_schema
            )
        else:
            cml_chain = _first_match_chain(
                probe, routing, lambda rule: F.lit(rule.max_length_str)
            )
            cml = (
                F.coalesce(cml_chain, F.lit(""))
                if cml_chain is not None
                else F.lit("")
            )
            udf = _make_trunc_udf(routing, always=reserialize == "always")
            value_out = udf(F.col(value_col), F.col("op"), cml)
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
    rebalance: int | None = None,
) -> DataFrame:
    """Mongo change-stream JSON lines → routed CDC records
    (MongoCDC2AWSMSK.scala:79-102). The raw line is forwarded untouched
    (scala:97,100 — no truncation, no re-serialization on the Mongo path)."""
    # A21 null guard, on the raw line (see _finish)
    df = df.filter(F.col(value_col).isNotNull())
    if rebalance:
        df = df.repartition(rebalance)

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
    # line, not here on ``value``. Every value form (the truncation UDF,
    # the JVM re-serialization, the pass-through) is null exactly when
    # the raw line is, so both drop the same rows. But a predicate on
    # ``value`` is pushed below this projection with the whole value
    # expression inlined (PushPredicateThroughProject): on the pandas
    # truncation path that plans a second ArrowEvalPython, its inputs
    # re-parsing the line with from_json, and the UDF runs twice per row.
    # On the raw column it stays a plain filter over the scan.
    # Unroutable lines (no JSON, no source block) survive with null
    # db/table/topic: the reference's Gson parse would throw and fail the
    # job; here the caller quarantines or drops them (query
    # cdc_route_malformed pins the drop).
    return df.withColumns(cols).select(*out_cols)

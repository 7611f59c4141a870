"""Routing config + job params.

Reproduces the reference's ``table_pk`` "catalog" semantics
(MySQLCDC2AWSMSK.scala:71-86) and its flat job-parameter model
(model/ParamsModel.scala:5-16, util/ParameterToolUtils.scala:18-83).

Key semantics (all verified against the reference source):
  * config is a JSON array of ``{"db","table","primary_key"
    [,"column_max_length"]}`` objects; backslashes are stripped before
    parsing (``params.tablePK.replace("\\\\","")``, scala:71).
  * the lookup key is ``db + "=" + table`` and is treated as a **regex**,
    matched with ``findFirstIn`` (unanchored substring search) against the
    event's ``db=table`` string (scala:104-112).
  * keys are probed **longest first** (``sortBy(- _.length)``, scala:86);
    the first match wins.
  * ``column_max_length`` is a ``|``-separated list of ``col=N`` pairs
    (scala:122-140).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field


@dataclass(frozen=True)
class TableRule:
    """One routing rule: regex key ``db=table`` → PK columns + truncations."""

    key: str  # the "db=table" regex
    primary_key: tuple[str, ...] = ()  # () ⇒ no_pk fallback
    column_max_length: tuple[tuple[str, int], ...] = ()  # ((col, maxlen), ...)

    @property
    def max_length_str(self) -> str:
        """Back to the reference's ``col1=10|col2=20`` wire form."""
        return "|".join(f"{c}={n}" for c, n in self.column_max_length)


@dataclass
class TableRouting:
    """Ordered routing table: rules sorted longest-key-first (scala:86)."""

    rules: list[TableRule] = field(default_factory=list)

    @classmethod
    def parse(cls, table_pk_json: str) -> "TableRouting":
        # scala:71 strips backslashes before parsing (KDA property escaping).
        raw = json.loads(table_pk_json.replace("\\", ""))
        by_key: dict[str, TableRule] = {}
        for item in raw:
            key = f"{item['db']}={item['table']}"
            pk = tuple(c for c in item.get("primary_key", "").split(",") if c)
            cml: tuple[tuple[str, int], ...] = ()
            if item.get("column_max_length"):
                cml = tuple(
                    (p.split("=")[0], int(p.split("=")[1]))
                    for p in item["column_max_length"].split("|")
                )
            # later duplicate key overwrites earlier (mutable.Map.put)
            by_key[key] = TableRule(key, pk, cml)
        rules = sorted(by_key.values(), key=lambda r: -len(r.key))
        return cls(rules=rules)

    def lookup(self, db: str, table: str) -> TableRule | None:
        """Driver-side lookup mirroring the task-side regex probe
        (scala:104-112): unanchored search, longest key first."""
        probe = f"{db}={table}"
        for rule in self.rules:
            if re.search(rule.key, probe):
                return rule
        return None


@dataclass
class CDCParams:
    """Flat job parameters (model/ParamsModel.scala:5-16).

    Only the fields that affect dataflow semantics; infra-only knobs
    (brokers, AWS profile/region) pass through to connector options.
    """

    broker_list: str = "localhost:9092"
    table_pk: str = "[]"
    kafka_properties: str = ""  # "k=v,k=v" producer passthrough (scala:179-186)
    position: str = "initial"  # initial|latest|file:pos|gtid:...|timestamp:ms
    server_time_zone: str = "Etc/GMT"
    chunk_size: int = 8096  # snapshot split size (scala:255-258)
    parallel: int = 4

    @property
    def routing(self) -> TableRouting:
        return TableRouting.parse(self.table_pk)

    def kafka_options(self) -> dict[str, str]:
        """Producer property passthrough → ``kafka.*`` writer options
        (scala:179-186; README.md:46-47)."""
        opts: dict[str, str] = {}
        if self.kafka_properties:
            for pair in self.kafka_properties.split(","):
                if "=" in pair:
                    k, v = pair.split("=", 1)
                    opts[f"kafka.{k.strip()}"] = v.strip()
        return opts


BINLOG_POS_DEFAULT = 4  # reference: pos defaults to 4 (scala:233-238)


def parse_binlog_position(position: str) -> tuple[str, int]:
    """``file:<binlog-file>[:<pos>]`` → (file, pos); pos defaults to 4
    (the first event after the binlog magic header, matching the
    reference's ``StartupOptions.specificOffset`` default,
    MySQLCDC2AWSMSK.scala:229-238)."""
    body = position.split(":", 1)[1]
    if ":" in body:
        file, pos_s = body.rsplit(":", 1)
        return file, int(pos_s)
    return body, BINLOG_POS_DEFAULT


def parse_kafka_startup_position(
    position: str,
    topic: str | None = None,
    binlog_offset_index: dict[int, int] | None = None,
    gtid_offset_index: dict[int, int] | None = None,
) -> dict[str, str]:
    """Map the reference's startup-position grammar (scala:224-244) onto
    Spark Kafka-source options (SURVEY.md A2-A6).

    ``initial``   → earliest (snapshot semantics come from the batch union,
                    see sources/jdbc.py)
    ``latest``    → latest
    ``timestamp:<ms>`` → startingTimestamp
    ``file[:pos]`` (A4) → binlog coordinates are a MySQL-wire concept, so a
        Debezium-topic replay maps them in one of two ways:

        - With ``binlog_offset_index`` (a ``{kafka_partition: kafka_offset}``
          map recorded by whatever tracks the topic — e.g. the consumer
          checkpoint that saw the binlog position commit) and ``topic``:
          explicit per-partition ``startingOffsets`` JSON — the efficient
          resume, no re-read.
        - Without an index: ``startingOffsets=earliest`` and the EXACT
          cut is enforced on the event payload via
          :func:`binlog_resume_filter` (Debezium envelopes carry
          ``source.file``/``source.pos``), which
          ``sources/kafka.read_cdc_stream`` applies automatically. Exact
          semantics at the cost of scanning the topic head — the
          documented trade until an offset index exists.

    ``gtid:<set>`` (A5) → like index-less ``file:pos``: GTID sets don't
    order against topic offsets, so read from earliest and enforce the
    exact cut on the envelope payload via :func:`gtid_resume_filter`
    (Debezium carries ``source.gtid``), applied automatically by
    ``sources/kafka.read_cdc_stream``. With ``gtid_offset_index``
    (round 10 — the direct-seek answer to the replay cost the earliest
    form pays): a ``{kafka_partition: kafka_offset}`` SEEK HINT maps to
    explicit per-partition ``startingOffsets``, skipping the topic
    head. Unlike the binlog index, the hint need only be AT OR BEFORE
    the cut — the envelope gtid filter still runs on top (the reference
    seeks the MySQL source directly, MySQLCDC2AWSMSK.scala:239-240; on
    a Kafka replay the filter is what certifies exactness, the index
    just bounds the scan).
    """
    import json as _json

    if position == "initial":
        return {"startingOffsets": "earliest"}
    if position == "latest":
        return {"startingOffsets": "latest"}
    if position.startswith("timestamp:"):
        return {"startingTimestamp": position.split(":", 1)[1]}
    if position.startswith("file:"):
        if binlog_offset_index is not None and topic:
            per_part = {
                str(p): int(o) for p, o in sorted(binlog_offset_index.items())
            }
            return {"startingOffsets": _json.dumps({topic: per_part})}
        parse_binlog_position(position)  # validate the grammar eagerly
        return {"startingOffsets": "earliest"}
    if position.startswith("gtid:"):
        parse_gtid_set(position.split("gtid:", 1)[1])  # validate eagerly
        if gtid_offset_index is not None and topic:
            per_part = {
                str(p): int(o) for p, o in sorted(gtid_offset_index.items())
            }
            return {"startingOffsets": _json.dumps({topic: per_part})}
        return {"startingOffsets": "earliest"}
    raise ValueError(
        f"startup position {position!r} has no Kafka-source analog"
    )


def binlog_resume_filter(position: str):
    """Column predicate implementing the exact ``file:pos`` cut on Debezium
    envelope JSON: keep events at or after the requested binlog
    coordinates. Binlog file names (``mysql-bin.NNNNNN``) are zero-padded
    and rotate in lexicographic order, so string comparison orders files
    correctly — the same total order MySQL itself uses."""
    from pyspark.sql import functions as F

    file, pos = parse_binlog_position(position)
    ev_file = F.get_json_object("value", "$.source.file")
    ev_pos = F.get_json_object("value", "$.source.pos").cast("long")
    # events with no source block (e.g. synthetic snapshot rows) pass
    return (
        ev_file.isNull()
        | (ev_file > file)
        | ((ev_file == file) & (ev_pos >= pos))
    )


_GTID_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def parse_gtid_set(gtid_set: str) -> dict[str, list[tuple[int, int]]]:
    """Parse a MySQL executed-GTID-set string
    (``uuid:1-100[:105-110],uuid2:1-7``) into {server_uuid: sorted merged
    [(lo, hi), ...] interval list}. The FULL interval structure is kept —
    a gapped executed set (``uuid:1-100:105-110``) leaves txns 101-104
    genuinely uncovered, and :func:`gtid_resume_filter` must replay them
    (the reference, MySQLCDC2AWSMSK.scala:239-240, passes the set
    verbatim to the connector and loses nothing; collapsing to the
    per-UUID max would silently drop the gap on resume).

    The grammar is validated eagerly — a non-UUID server field, a missing
    interval list, a non-numeric bound, or ``lo > hi`` raises ValueError
    instead of degrading to an uncut full-topic replay."""
    covered: dict[str, list[tuple[int, int]]] = {}
    for part in gtid_set.replace("\n", "").split(","):
        part = part.strip()
        if not part:
            continue
        fields = part.split(":")
        uuid, intervals = fields[0].strip(), fields[1:]
        if not _GTID_UUID_RE.match(uuid):
            raise ValueError(
                f"GTID set part {part!r}: {uuid!r} is not a server UUID"
            )
        if not intervals:
            raise ValueError(
                f"GTID set part {part!r} has no transaction intervals"
            )
        spans = []
        for iv in intervals:
            bounds = iv.split("-")
            if len(bounds) > 2 or not all(
                b.strip().isdigit() for b in bounds
            ):
                raise ValueError(
                    f"GTID set part {part!r}: bad interval {iv!r}"
                )
            lo = int(bounds[0])
            hi = int(bounds[-1])
            if lo > hi:
                raise ValueError(
                    f"GTID set part {part!r}: empty interval {iv!r}"
                )
            spans.append((lo, hi))
        merged = covered.setdefault(uuid.lower(), [])
        merged.extend(spans)
    # normalize: sort and merge touching/overlapping intervals per UUID
    for uuid, spans in covered.items():
        spans.sort()
        out = [spans[0]]
        for lo, hi in spans[1:]:
            plo, phi = out[-1]
            if lo <= phi + 1:
                out[-1] = (plo, max(phi, hi))
            else:
                out.append((lo, hi))
        covered[uuid] = out
    return covered


def timestamp_resume_filter(position: str):
    """Column predicate implementing the A6 ``timestamp:<ms>`` startup
    as an exact cut on the Debezium envelope: keep events whose SOURCE
    timestamp (``source.ts_ms`` — the binlog event time at the
    database, what the reference's StartupOptions.timestamp(ms) seeks
    to, MySQLCDC2AWSMSK.scala:242-243) is at or after the requested
    millisecond. Events without a source block (synthetic snapshot
    stand-ins) pass — no coordinate to cut on.

    Division of labor mirrors the A5 gtid path: the Kafka reader's
    ``startingTimestamp`` seeks by BROKER record timestamp (append
    time), which bounds the scan but only approximates the source cut
    — producer lag reorders the two clocks near the boundary. This
    filter on top certifies exactness; applied automatically by
    ``sources/kafka.read_cdc_stream``."""
    from pyspark.sql import functions as F

    raw = position.split("timestamp:", 1)[-1]
    try:
        cut_ms = int(raw)
    except ValueError:
        raise ValueError(
            f"timestamp startup position must be epoch millis, got {raw!r}"
        ) from None
    ev_ts = F.get_json_object("value", "$.source.ts_ms").cast("long")
    return ev_ts.isNull() | (ev_ts >= F.lit(cut_ms))


def gtid_resume_filter(gtid_set: str):
    """Column predicate implementing the A5 ``gtid:<set>`` startup as an
    exact cut on the Debezium envelope (``source.gtid`` carries
    ``server_uuid:txno`` per event): keep events whose transaction is NOT
    covered by the executed set — i.e. txno outside every interval of
    that server UUID's list (gap txns in ``uuid:1-100:105-110`` replay),
    and everything from unknown UUIDs (a failed-over primary's new UUID
    must replay from its start).
    Events without a gtid (snapshot rows, non-GTID servers) pass — no
    coordinates to cut on.

    GTID sets are a MySQL-wire concept with no Kafka-offset analog, so
    like the index-less ``file:pos`` path this reads the topic from
    earliest and enforces the cut on the payload — exact semantics at
    the cost of scanning the topic head."""
    from pyspark.sql import functions as F

    covered = parse_gtid_set(gtid_set.split("gtid:", 1)[-1])
    ev_gtid = F.get_json_object("value", "$.source.gtid")
    uuid = F.lower(F.substring_index(ev_gtid, ":", 1))
    txno = F.substring_index(ev_gtid, ":", -1).cast("long")
    # Membership is tested per interval (not per-UUID max): a gapped
    # executed set must replay the gap txns.  The OR chain is tiny —
    # one between() per merged interval — and folds into a single
    # codegen'd boolean expression.
    covered_pred = F.lit(False)
    for k, spans in sorted(covered.items()):
        in_spans = F.lit(False)
        for lo, hi in spans:
            in_spans = in_spans | txno.between(F.lit(lo), F.lit(hi))
        covered_pred = covered_pred | ((uuid == F.lit(k)) & in_spans)
    return ev_gtid.isNull() | ~covered_pred

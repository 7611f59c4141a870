"""Pure-Python reference for the MySQL CDC route (Debezium line -> Kafka record).

Written from the reference job's semantics, not from the engine's code, so the
CDC workloads can check the engine against something that cannot share its
bugs:

- catalog keys ``db=table`` are regexes, probed longest key first with an
  unanchored search; a later duplicate key replaces an earlier one;
- the partition key is ``db.table.pk1.pk2`` read from ``before`` for deletes
  and ``after`` otherwise (a missing column drops out of the key), or
  ``db.table.no_pk`` when the matched rule has no key or nothing matches;
- the topic is ``prefix + lower(db)``;
- the partition is Java's ``Math.abs(key.hashCode() % n)``, except at
  ``Integer.MIN_VALUE`` where the engine returns the non-negative modulus;
- ``column_max_length`` cuts a string column of length ``>= N`` to N
  characters on the delete-aware side, after which the whole envelope is
  re-serialized as compact ``json.dumps``; without any truncation rule in the
  catalog the line is forwarded unchanged.
"""

from __future__ import annotations

import json
import re

INT_MIN = -(2**31)


def java_hash(s: str) -> int:
    """``String.hashCode``: 31-polynomial over UTF-16 code units, int32 wrap."""
    h = 0
    b = s.encode("utf-16-be")
    for i in range(0, len(b), 2):
        h = (31 * h + (b[i] << 8 | b[i + 1])) & 0xFFFFFFFF
    return h - 2**32 if h & 0x80000000 else h


def java_partition(key: str, n: int) -> int:
    h = java_hash(key)
    if h == INT_MIN:
        return h % n  # Python % is the non-negative modulus here
    return abs(int(h - n * int(h / n)))  # Java % truncates toward zero


def spark_str(v) -> str | None:
    """A JSON scalar as Spark's ``map<string,string>`` parse renders it."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return json.dumps(v, separators=(",", ":"))


class ReferenceRouter:
    def __init__(self, catalog: str, topic_prefix: str, num_partitions: int):
        by_key: dict[str, tuple[tuple[str, ...], tuple[tuple[str, int], ...]]] = {}
        for item in json.loads(catalog.replace("\\", "")):
            pk = tuple(c for c in item.get("primary_key", "").split(",") if c)
            cml = tuple(
                (p.split("=")[0], int(p.split("=")[1]))
                for p in item.get("column_max_length", "").split("|") if p
            )
            by_key[f"{item['db']}={item['table']}"] = (pk, cml)
        self.rules = sorted(
            ((re.compile(k), pk, cml) for k, (pk, cml) in by_key.items()),
            key=lambda r: -len(r[0].pattern),
        )
        self.prefix = topic_prefix
        self.n = num_partitions
        self._matched: dict[str, tuple | None] = {}

    def rule_for(self, db: str, table: str) -> tuple | None:
        """First rule, longest key first, whose regex occurs in ``db=table``."""
        probe = f"{db}={table}"
        if probe not in self._matched:
            self._matched[probe] = next(
                (r for r in self.rules if r[0].search(probe)), None)
        return self._matched[probe]

    def route(self, line: str) -> tuple[str, str, int, str]:
        """-> (key, topic, partition, value) for one well-formed envelope."""
        env = json.loads(line)
        db, table, op = env["source"]["db"], env["source"]["table"], env["op"]
        rule = self.rule_for(db, table)
        side = env["before"] if op == "d" else env["after"]
        if rule is not None and rule[1]:
            vals = [spark_str((side or {}).get(c)) for c in rule[1]]
            pk = ".".join(v for v in vals if v is not None)
            key = f"{db}.{table}.{pk}"
        else:
            key = f"{db}.{table}.no_pk"
        value = line
        if rule is not None and rule[2]:
            if isinstance(side, dict):
                for col, n in rule[2]:
                    v = side.get(col)
                    if isinstance(v, str) and v and len(v) >= n:
                        side[col] = v[:n]
            value = json.dumps(env, separators=(",", ":"))
        return key, self.prefix + db.lower(), java_partition(key, self.n), value

"""Seeded Debezium MySQL change feeds and the routing catalogs they are read with.

Sixteen tables in three databases, single and composite primary keys, one
regex rule per table (two tables share ``Inventory=stock_[0-9]+``) and two
``no_pk`` tables.  Every row carries an ``id`` unique across all tables, so a
single latest-state table keyed by ``id`` can hold every table's rows.

Events follow each key's life: the first change of a key is ``c``, later ones
``u`` (before = previous after image) or ``d`` (before = last image), and a
deleted key comes back with ``c``.  One change of a live key in twenty is a
delete, the share of the repository's simulated feed
(``flink_cdc_msk_spark/sources/cdc_sim.py`` deletes every twentieth key).  Two key samplers: uniform over the key
space (catch-up backlog) and Zipf-skewed (binlog tail), both driven by one
``random.Random(seed)`` so a generator process and the checker regenerate the
same sequence.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass

TRUNC_COLUMN = "note"
TRUNC_LEN = 16
ID_STRIDE = 10_000_000  # id = table_index * ID_STRIDE + row number


@dataclass(frozen=True)
class Table:
    db: str
    name: str
    rule: str  # the catalog's db=table regex that routes this table
    pk: tuple[str, ...]  # () => no_pk


TABLES = (
    Table("shop", "orders", "shop=orders", ("id",)),
    Table("shop", "order_items", "shop=order_items", ("order_id", "line_no")),
    Table("shop", "order_events", "shop=order_.*", ("id",)),
    Table("shop", "customers", "shop=customers", ("id",)),
    Table("shop", "customer_addresses", "shop=customer_addresses",
          ("customer_id", "addr_no")),
    Table("shop", "products", "shop=products", ("sku",)),
    Table("shop", "product_prices", "shop=product_prices", ("sku", "region")),
    Table("shop", "carts", "shop=cart.*", ("id",)),
    Table("Inventory", "stock_1", "Inventory=stock_[0-9]+",
          ("warehouse_id", "sku")),
    Table("Inventory", "stock_2", "Inventory=stock_[0-9]+",
          ("warehouse_id", "sku")),
    Table("Inventory", "warehouses", "Inventory=warehouses", ("id",)),
    Table("Inventory", "transfers", "Inventory=transfers", ("id",)),
    Table("crm", "leads", "crm=leads", ("id",)),
    Table("crm", "notes", "crm=notes", ()),
    Table("crm", "tickets", "crm=tickets", ("id",)),
    Table("crm", "audit_log", "crm=audit.*", ()),
)

_STATUSES = ("new", "paid", "packed", "shipped", "returned", "closed")
_REGIONS = ("eu", "us", "apac", "latam")
_WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "romeo",
          "sierra", "tango", "victor", "zulu", "ok", "x")


def catalog_json(truncate_every: int | None = None) -> str:
    """The ``table_pk`` routing catalog: one rule per distinct regex, in
    table order.  ``truncate_every=k`` puts ``note=16`` on every k-th rule,
    which routes every row through the Arrow truncation UDF."""
    rules: dict[str, dict] = {}
    for t in TABLES:
        if t.rule in rules:
            continue
        db, table = t.rule.split("=", 1)
        item = {"db": db, "table": table, "primary_key": ",".join(t.pk)}
        if truncate_every and len(rules) % truncate_every == 0:
            item["column_max_length"] = f"{TRUNC_COLUMN}={TRUNC_LEN}"
        rules[t.rule] = item
    return json.dumps(list(rules.values()))


def _row(rng: random.Random, t_idx: int, k: int, version: int) -> dict:
    """Row image of key ``k`` of table ``t_idx``; PK columns are functions
    of ``k`` so every image of one row keeps its key.  ``note`` lengths sit
    around the truncation edge (N-1, N, N+1) as well as well below/above."""
    row = {"id": t_idx * ID_STRIDE + k}
    t = TABLES[t_idx]
    for c in t.pk:
        if c == "order_id" or c == "customer_id" or c == "warehouse_id":
            row[c] = k // 4
        elif c in ("line_no", "addr_no"):
            row[c] = k % 4
        elif c == "sku":
            row[c] = f"SKU-{k // 4 if 'region' in t.pk else k:06d}"
        elif c == "region":
            row[c] = _REGIONS[k % 4]
    n = rng.choice((TRUNC_LEN - 1, TRUNC_LEN, TRUNC_LEN + 1,
                    rng.randint(0, 40)))
    note = "".join(rng.choice(_WORDS) + " " for _ in range(n // 3 + 1))[:n]
    row.update(
        name=f"{t.name}-{k}",
        note=note,
        status=rng.choice(_STATUSES),
        amount=f"{rng.randint(0, 999_999) / 100:.2f}",
        qty=rng.randint(0, 500),
        version=version,
        updated_at=f"2024-{1 + k % 12:02d}-{1 + version % 28:02d} "
                   f"{k % 24:02d}:{version % 60:02d}:00",
    )
    return row


@dataclass
class Event:
    t_idx: int
    op: str  # c | u | d
    before: dict | None
    after: dict | None

    @property
    def table(self) -> Table:
        return TABLES[self.t_idx]

    @property
    def image(self) -> dict:
        """The delete-aware side: before for deletes, after otherwise."""
        return self.before if self.op == "d" else self.after


class KeySampler:
    """Uniform (``zipf_s=None``) or Zipf-skewed draws of (table, key)."""

    def __init__(self, keys_per_table: int, zipf_s: float | None):
        self.n = keys_per_table * len(TABLES)
        self.cum = None
        if zipf_s is not None:
            acc, cum = 0.0, []
            for r in range(1, self.n + 1):
                acc += r ** -zipf_s
                cum.append(acc)
            self.cum = cum

    def draw(self, rng: random.Random) -> tuple[int, int]:
        if self.cum is None:
            g = rng.randrange(self.n)
        else:
            g = bisect.bisect_left(self.cum, rng.random() * self.cum[-1])
        # rank -> (table, key): ranks interleave tables so hot keys spread
        return g % len(TABLES), g // len(TABLES)


def events(seed: int, n: int, keys_per_table: int,
           zipf_s: float | None = None, delete_share: float = 0.05):
    """Yield ``n`` change events; deterministic in all arguments."""
    rng = random.Random(seed)
    sampler = KeySampler(keys_per_table, zipf_s)
    live: dict[tuple[int, int], dict] = {}
    versions: dict[tuple[int, int], int] = {}
    for _ in range(n):
        key = sampler.draw(rng)
        v = versions.get(key, 0) + 1
        versions[key] = v
        prev = live.get(key)
        if prev is None:
            after = _row(rng, key[0], key[1], v)
            live[key] = after
            yield Event(key[0], "c", None, after)
        elif rng.random() < delete_share:
            del live[key]
            yield Event(key[0], "d", prev, None)
        else:
            after = _row(rng, key[0], key[1], v)
            live[key] = after
            yield Event(key[0], "u", prev, after)


def render(ev: Event, ts_ms: int, pos: int) -> str:
    """One Debezium envelope line (schema block off, nulls kept)."""
    t = ev.table
    return json.dumps(
        {
            "before": ev.before,
            "after": ev.after,
            "source": {
                "version": "1.6.4.Final", "connector": "mysql",
                "name": "mysql_binlog_source", "ts_ms": ts_ms,
                "snapshot": "false", "db": t.db, "sequence": None,
                "table": t.name, "server_id": 57330068, "gtid": None,
                "file": "mysql-bin-changelog.007670", "pos": pos, "row": 0,
                "thread": None, "query": None,
            },
            "op": ev.op,
            "ts_ms": ts_ms,
            "transaction": None,
        },
        separators=(",", ":"),
    )

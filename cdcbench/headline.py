"""The sixteen headline batch queries of the registry, for the
plans/operators layers of the catch-up's traced run.

Closed loop, one client.  One cold pass runs each query once in the fresh
session (memos are per application, so they start empty) and collects its
rows; one warm pass then forces each query with ``count()``.  The collected
cold rows are checked against each query's DuckDB oracle, normalized as the
repository's oracle tests do, after all timing is done.
"""

from __future__ import annotations

import os
import sys
import time

from bench import HEADLINE
from common import fresh_dir
from layers import EventLog, exec_layers
from tests.test_queries_oracle import TABLES, normalize


class Headline:
    def __init__(self, seed: int):
        from tables import generate

        self.data = fresh_dir("headline", "tables")
        generate(self.data, seed)
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.cold: dict[str, float] = {}
        self.warm: dict[str, float] = {}
        self.results: dict[str, tuple] = {}

    def warm_up(self, spark) -> None:
        """Session readiness: open every table, start the Python worker pool,
        and produce the synthetic CDC topic the two cdc_* queries read."""
        from flink_cdc_msk_spark.sources.cdc_sim import synthesize_mysql_events
        from flink_cdc_msk_spark.sources.tables import load_tables

        for df in load_tables(spark, self.data).values():
            df.limit(1).count()
        spark.range(2).mapInPandas(lambda it: it, "id long").count()
        synthesize_mysql_events(spark, self.data).count()

    def run(self, spark, tracer) -> None:
        """The session's cold pass, collected for the oracle check, then one
        warm pass forced with ``count()``, each query in a span."""
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = self.queries[name](spark, self.data)
            self.results[name] = ([tuple(r) for r in df.collect()], df.columns)
            self.cold[name] = time.perf_counter() - t0
        for name in HEADLINE:
            with tracer.span("query", name):
                t0 = time.perf_counter()
                self.queries[name](spark, self.data).count()
                self.warm[name] = time.perf_counter() - t0

    def check(self) -> tuple[int, int]:
        """-> (queries run cold, those whose rows differ from the oracle)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            bad = []
            for name in HEADLINE:
                res = con.execute(self.oracles[name])
                want = normalize(res.fetchall(), [d[0] for d in res.description])
                if name not in self.results or normalize(*self.results[name]) != want:
                    bad.append(name)
        finally:
            con.close()
        if bad:
            print(f"cdcbench: differs from its oracle: {bad}", file=sys.stderr)
        return len(HEADLINE), len(bad)

    def layers(self, elog: EventLog, tracer) -> dict:
        out = {}
        for name in HEADLINE:
            out[f"query.{name}.cold_s"] = self.cold.get(name, 0.0)
            out[f"query.{name}.warm_s"] = self.warm.get(name, 0.0)
        spans = [s for s in tracer.spans if s["name"] == "query"]
        out.update(exec_layers([(elog.window(s["start"], s["end"]), s["end"] - s["start"])
                                for s in spans]))
        out["headline.cold_s"] = sum(self.cold.values())
        return out

"""The two CDC workloads: backlog catch-up and binlog tail with latest-state upsert.

Both drive the package's public streaming surface:

    route_stream_from_directory -> foreachBatch(
        to_kafka_columns(batch) appended to a parquet "topic" directory
        [+ ParquetUpsertSink(num_buckets=16) on the tail])

The parquet directory stands in for the Kafka topic.  Every event is timed
from when it was due (backlog: the start of the drain; tail: its scheduled
creation at the generator) to the return of the ``foreachBatch`` call that
wrote it; the batch -> files map comes from the checkpoint's source log.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime

import feed
import tailgen
from common import Tracer, fresh_dir, median, quantile
from layers import EventLog, p99, progress_layers
from refroute import ReferenceRouter, spark_str

TOPIC_PREFIX = "cdc_"
NUM_PARTITIONS = 12

# catch-up: a uniform-key backlog drained in four equal micro-batches
CATCHUP_EVENTS = 48_000
CATCHUP_FILES = 16
CATCHUP_FILES_PER_BATCH = 4
CATCHUP_KEYS_PER_TABLE = 1_000
# at HEAD on 4 cores a session's drains run at 60-75% of the steady rate
# until some 170k events have passed; warming takes four drains of the backlog
WARM_DRAINS = 4

# tail: open loop at a fixed rate, one table in four truncating `note`
TAIL_RATE = 250  # events/s
# Spark fires a processing-time trigger on multiples of its interval since
# the epoch; the generator starts just after one, so every batch takes the
# events of one whole interval and only the batch's own time varies.  The
# interval leaves the batch (2.3-3.2 s at HEAD on 4 cores) room to finish.
TAIL_TRIGGER_S = 4
TAIL_PHASE_S = 0.025  # generator ticks fall between trigger instants
TAIL_TRUNCATE_EVERY = 4
TAIL_BUCKETS = 16
TAIL_WARM_BATCHES = 3  # live-shaped batches: the JIT and the merge warm up
# Untimed intervals at the start of the live stream.  The query's first batch
# (3.2-4.2 s at HEAD) can overrun the interval and shift the next batch's
# start; two leave that shift outside the timed window.
TAIL_LEAD_IN = 2
# one generator tick's worth of events per file, one interval's files a batch
TAIL_FILES_PER_BATCH = round(TAIL_TRIGGER_S / tailgen.TICK_S)
GEN_LATE_P99_LIMIT_MS = 500


def write_backlog(path: str, lines: list[str], files: int) -> list[int]:
    """Split ``lines`` over ``files`` files; returns events per file."""
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(lines) / files)
    counts = []
    for f in range(files):
        chunk = lines[f * per:(f + 1) * per]
        with open(os.path.join(path, f"backlog-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
        counts.append(len(chunk))
    return counts


def batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """File names the file source planned into one micro-batch.  Every tenth
    source-log entry is compacted into ``<id>.compact`` with all earlier
    batches' files, each row tagged with its batch id."""
    path = os.path.join(checkpoint, "sources", "0", str(batch_id))
    if not os.path.exists(path):
        path += ".compact"
    with open(path) as fh:
        rows = [json.loads(r) for r in fh.read().splitlines()[1:] if r]
    return [os.path.basename(r["path"]) for r in rows if r["batchId"] == batch_id]


def read_topic(path: str) -> Counter:
    """Multiset of (key, topic, partition, value) in a Kafka-column directory."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return Counter()
    t = pq.read_table(path, columns=["key", "value", "topic", "partition"])
    return Counter(zip(
        (k.decode() for k in t.column("key").to_pylist()),
        t.column("topic").to_pylist(),
        t.column("partition").to_pylist(),
        (v.decode() for v in t.column("value").to_pylist()),
    ))


def mismatches(expected: Counter, got: Counter) -> int:
    """Expected records missing or wrong, plus surplus records."""
    missing = sum((expected - got).values())
    return missing + max(0, sum(got.values()) - sum(expected.values()))


def _routed_stream(spark, src: str, catalog: str, files_per_batch):
    from flink_cdc_msk_spark.config import TableRouting
    from flink_cdc_msk_spark.streaming.pipeline import route_stream_from_directory

    return route_stream_from_directory(spark, src, TableRouting.parse(catalog),
                                       files_per_batch, topic_prefix=TOPIC_PREFIX,
                                       num_partitions=NUM_PARTITIONS)


# ------------------------------------------------------------------ catch-up


def drain(spark, src: str, out: str, ck: str, tracer) -> tuple[float, dict, list]:
    """Drain the backlog once with availableNow; returns (start time,
    {batch id: foreachBatch return time}, progress reports)."""
    from flink_cdc_msk_spark.sinks.kafka import to_kafka_columns

    commits: dict[int, float] = {}

    def sink(batch, batch_id):
        with tracer.span("batch", batch_id):
            with tracer.span("sink.write", batch_id):
                batch.write.mode("append").parquet(out)
        commits[batch_id] = time.time()

    kafka = to_kafka_columns(_routed_stream(spark, src, feed.catalog_json(),
                                            CATCHUP_FILES_PER_BATCH))
    start = time.time()
    q = (kafka.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    return start, commits, progress


class Catchup:
    """Closed loop, one consumer: repeated drains of one seeded backlog."""

    def __init__(self, seed: int):
        self.src = fresh_dir("catchup", "src")
        lines = [feed.render(e, 1_700_000_000_000 + i, i) for i, e in
                 enumerate(feed.events(seed, CATCHUP_EVENTS, CATCHUP_KEYS_PER_TABLE))]
        counts = write_backlog(self.src, lines, CATCHUP_FILES)
        self.file_events = {f"backlog-{f:04d}.json": c for f, c in enumerate(counts)}
        self.n = sum(counts)
        self.runs = 0
        self.outputs: list[str] = []

    def _drain(self, spark, tracer):
        self.runs += 1
        base = fresh_dir("catchup", f"run{self.runs}")
        out = os.path.join(base, "topic")
        return out, os.path.join(base, "ck"), drain(
            spark, self.src, out, os.path.join(base, "ck"), tracer)

    def warm_up(self, spark, tracer) -> None:
        """Unmeasured, unchecked drains into their own directories."""
        eps = []
        for _ in range(WARM_DRAINS):
            _, _, (start, commits, _) = self._drain(spark, tracer)
            eps.append(self.n / (max(commits.values()) - start))
        print("cdcbench: catch-up warm-up drains (events/s): "
              + " ".join(f"{e:.0f}" for e in eps), file=sys.stderr)

    def measure(self, spark, seconds: float, tracer) -> dict:
        """Drain until ``seconds`` have passed (at least twice)."""
        eps, p50s, p99s, batches, progress = [], [], [], [], []
        t_end = time.time() + seconds
        while len(eps) < 2 or time.time() < t_end:
            out, ck, (start, commits, prog) = self._drain(spark, tracer)
            self.outputs.append(out)
            lat = []
            for bid, at in commits.items():
                files = batch_files(ck, bid)
                lat.extend([1000 * (at - start)] * sum(self.file_events[f] for f in files))
                batches.append(len(files))
            lat.extend([math.inf] * (self.n - len(lat)))  # never written
            eps.append(self.n / (max(commits.values()) - start))
            p50s.append(quantile(lat, 0.5))
            p99s.append(quantile(lat, 0.99))
            progress.extend(prog)
        print("cdcbench: catch-up drains (events/s): "
              + " ".join(f"{e:.0f}" for e in eps), file=sys.stderr)
        return {"throughput": median(eps), "latency_p50_ms": median(p50s),
                "latency_p99_ms": median(p99s), "progress": progress,
                "files_per_batch_max": max(batches)}

    def check(self) -> tuple[int, int]:
        router = ReferenceRouter(feed.catalog_json(), TOPIC_PREFIX, NUM_PARTITIONS)
        expected = Counter()
        for name in sorted(self.file_events):
            with open(os.path.join(self.src, name)) as fh:
                expected.update(router.route(x) for x in fh.read().splitlines())
        attempted = failed = 0
        for out in self.outputs:
            attempted += self.n
            failed += min(self.n, mismatches(expected, read_topic(out)))
        return attempted, failed

    def eps_1core(self, spark) -> float:
        """One measured drain on a one-core session, after one unmeasured
        one (the JVM is warm by then)."""
        off = Tracer(False)
        self._drain(spark, off)
        out, _, (start, commits, _) = self._drain(spark, off)
        self.outputs.append(out)
        return self.n / (max(commits.values()) - start)

    def layers(self, elog: EventLog, tracer, m: dict) -> dict:
        return cdc_layers(elog, tracer, m)


def cdc_layers(elog: EventLog, tracer, m: dict) -> dict:
    """Route/sink/sources layers from the traced phase's per-batch spans."""
    writes = [s for s in tracer.spans if s["name"] == "sink.write"]
    wins = [elog.window(s["start"], s["end"]) for s in writes]
    out = progress_layers(m["progress"])
    rows_in = sum(w.metric("number of output rows", "Scan text") for w in wins)
    records = sum(w.metric("number of output rows", "Execute InsertInto") for w in wins)
    out.update({
        "sources.backlog_files_max": m["files_per_batch_max"],
        "route.rows_in": rows_in,
        "route.rows_quarantined": rows_in - records,
        "route.task_ms": median([w.task_ms() for w in wins]),
        "route.python_ms": median([w.metric("time to run Python workers") for w in wins]),
        "route.python_rows": sum(w.metric("number of output rows", "ArrowEvalPython")
                                 for w in wins),
        "sink.records": records,
        "sink.bytes_written": sum(w.metric("written output", "Execute InsertInto")
                                  for w in wins),
        "sink.write_ms": median(tracer.durations_ms("sink.write")),
    })
    return out


# ---------------------------------------------------------------------- tail


class Tail:
    """Open loop at TAIL_RATE events/s from a separate generator process."""

    def __init__(self, seed: int):
        self.seed = seed
        self.catalog = feed.catalog_json(TAIL_TRUNCATE_EVERY)
        self.router = ReferenceRouter(self.catalog, TOPIC_PREFIX, NUM_PARTITIONS)
        self.warm_src = fresh_dir("tail", "warm_src")
        warm = [feed.render(e, 1_700_000_000_000 + i, i) for i, e in enumerate(
            tailgen.tail_events(seed + 1, TAIL_WARM_BATCHES * TAIL_RATE * TAIL_TRIGGER_S))]
        write_backlog(self.warm_src, warm, TAIL_WARM_BATCHES * TAIL_FILES_PER_BATCH)
        self.runs = 0
        self.phases: list[dict] = []

    def _paths(self) -> dict:
        self.runs += 1
        base = fresh_dir("tail", f"run{self.runs}")
        return {k: os.path.join(base, k) for k in ("src", "stage", "topic", "state", "ck")}

    def _start(self, spark, p: dict, tracer, available_now: bool, src: str):
        from flink_cdc_msk_spark.sinks.kafka import to_kafka_columns
        from flink_cdc_msk_spark.streaming.compaction import ParquetUpsertSink

        commits: dict[int, float] = {}
        upsert = ParquetUpsertSink(p["state"], ["id"], num_buckets=TAIL_BUCKETS)
        buckets = BucketWatch(p["state"]) if tracer.enabled else None

        def sink(batch, batch_id):
            with tracer.span("batch", batch_id):
                batch.persist()
                try:
                    with tracer.span("sink.write", batch_id):
                        to_kafka_columns(batch).write.mode("append").parquet(p["topic"])
                    if buckets:
                        buckets.before()
                    with tracer.span("compaction.merge", batch_id) as sp:
                        upsert(batch, batch_id)
                    if buckets:
                        sp.update(buckets.after())
                finally:
                    batch.unpersist()
            commits[batch_id] = time.time()

        # the warm-up backlog goes one interval's files per batch; the live
        # tail takes whatever has arrived at each trigger
        routed = _routed_stream(spark, src, self.catalog,
                                TAIL_FILES_PER_BATCH if available_now else None)
        w = routed.writeStream.foreachBatch(sink).option("checkpointLocation", p["ck"])
        if available_now:
            w = w.trigger(availableNow=True)
        else:
            w = w.trigger(processingTime=f"{TAIL_TRIGGER_S} seconds")
        return w.start(), commits

    def warm_up(self, spark, tracer) -> None:
        p = self._paths()
        q, _ = self._start(spark, p, tracer, True, self.warm_src)
        q.awaitTermination()

    def measure(self, spark, seconds: float, tracer) -> dict:
        p = self._paths()
        for d in ("src", "stage"):
            os.makedirs(p[d])
        q, commits = self._start(spark, p, tracer, False, p["src"])
        genlog = os.path.join(os.path.dirname(p["src"]), "gen.log")
        # The lead-in intervals are generated and checked but not timed.
        grid = math.ceil((time.time() + 0.5) / TAIL_TRIGGER_S) * TAIL_TRIGGER_S
        t0 = grid + TAIL_PHASE_S
        timed_from = grid + TAIL_LEAD_IN * TAIL_TRIGGER_S
        # the last event falls on the tick before the window's end, so a
        # window of whole intervals ends on a trigger with nothing left over
        gen_s = timed_from + seconds - t0 - TAIL_PHASE_S
        gen = subprocess.Popen([
            sys.executable, os.path.join(os.path.dirname(__file__), "tailgen.py"),
            "--seed", str(self.seed), "--rate", str(TAIL_RATE), "--t0", repr(t0),
            "--seconds", repr(gen_s),
            "--src", p["src"], "--stage", p["stage"],
            "--log", genlog])
        try:
            gen.wait(timeout=timed_from + seconds - time.time() + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        with open(genlog) as fh:
            files = [ln.split() for ln in fh.read().splitlines() if ln]
        deadline = time.time() + 60
        try:
            while time.time() < deadline:
                done = {f for bid in list(commits) for f in batch_files(p["ck"], bid)}
                # the query reports a batch's progress after foreachBatch
                # returns; stopping before that loses the last batch's report
                last = q.lastProgress
                if (all(f[0] in done for f in files) and last is not None
                        and last.batchId >= max(commits, default=-1)):
                    break
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                time.sleep(0.1)
        finally:
            q.stop()
        progress = [json.loads(x.json) for x in q.recentProgress]
        phase = {"paths": p, "files": files, "t0": t0, "timed_from": timed_from,
                 "commits": commits, "progress": progress}
        self.phases.append(phase)
        return {**self._metrics(phase), "phase": phase}

    def _metrics(self, ph: dict) -> dict:
        """Latency of every event due after the lead-in, from its due
        time to the return of the foreachBatch that wrote it.  Throughput is
        the pipeline's capacity at this rate: timed input rows per second of
        the time their micro-batches took."""
        n = sum(int(f[2]) for f in ph["files"])
        file_of = {f[0]: (int(f[1]), int(f[2])) for f in ph["files"]}
        start_ms = 1000 * ph["timed_from"]
        lat, per_batch = [], []
        for bid, at in ph["commits"].items():
            names = batch_files(ph["paths"]["ck"], bid)
            per_batch.append(len(names))
            for name in names:
                first, cnt = file_of[name]
                due = (tailgen.due_ms(ph["t0"], i, TAIL_RATE)
                       for i in range(first, first + cnt))
                lat.extend(1000 * at - d for d in due if d >= start_ms)
        timed_n = sum(1 for i in range(n)
                      if tailgen.due_ms(ph["t0"], i, TAIL_RATE) >= start_ms)
        lat.extend([math.inf] * (timed_n - len(lat)))  # never written
        # the batch triggered at start_ms carries the last untimed interval
        timed = [p for p in ph["progress"] if p["numInputRows"] and 1000 *
                 datetime.fromisoformat(p["timestamp"]).timestamp()
                 >= start_ms + 500 * TAIL_TRIGGER_S]
        late = [int(f[4]) - int(f[3]) for f in ph["files"]]
        ph.update(n=n, late=late)
        print("cdcbench: tail batches (rows/ms): " + " ".join(
            f"{p['numInputRows']}/{p['durationMs']['triggerExecution']}"
            for p in ph["progress"] if p["numInputRows"]), file=sys.stderr)
        return {"throughput": 1000 * sum(p["numInputRows"] for p in timed) / max(
                    1, sum(p["durationMs"]["triggerExecution"] for p in timed)),
                "latency_p50_ms": quantile(lat, 0.5),
                "latency_p99_ms": quantile(lat, 0.99),
                "progress": ph["progress"],
                "files_per_batch_max": max(per_batch, default=0)}

    def check(self) -> tuple[int, int]:
        """Topic == reference route of every generated event; state ==
        latest image per id with deleted ids absent; generator on time."""
        attempted = failed = 0
        for ph in self.phases:
            evs = list(tailgen.tail_events(self.seed, ph["n"]))
            lines = [feed.render(e, tailgen.due_ms(ph["t0"], i, TAIL_RATE), i)
                     for i, e in enumerate(evs)]
            attempted += 2 * ph["n"]
            failed += min(ph["n"], mismatches(
                Counter(self.router.route(x) for x in lines),
                read_topic(ph["paths"]["topic"])))
            expected = self.latest_state(evs, ph["t0"])
            got = read_state(ph["paths"]["state"])
            bad = sum(1 for k in expected.keys() | got.keys()
                      if expected.get(k) != got.get(k))
            failed += min(ph["n"], bad)
            if p99(ph["late"]) > GEN_LATE_P99_LIMIT_MS:
                failed = attempted  # a late generator voids the run
        return attempted, failed

    def latest_state(self, evs, t0: float) -> dict:
        state: dict[str, tuple] = {}
        for i, e in enumerate(evs):
            img = dict(e.image)
            rule = self.router.rule_for(e.table.db, e.table.name)
            for col, n in (rule[2] if rule else ()):
                v = img.get(col)
                if isinstance(v, str) and v and len(v) >= n:
                    img[col] = v[:n]
            key = str(img["id"])
            if e.op == "d":
                state.pop(key, None)
            else:
                state[key] = (tailgen.due_ms(t0, i, TAIL_RATE), e.op,
                              {k: spark_str(v) for k, v in img.items()})
        return state

    def layers(self, elog: EventLog, tracer, m: dict) -> dict:
        out = cdc_layers(elog, tracer, m)
        ph = m["phase"]  # the traced phase, not the last one run
        merges = [s for s in tracer.spans if s["name"] == "compaction.merge"]
        merge_ms = tracer.durations_ms("compaction.merge")
        state = ph["paths"]["state"]
        out.update({
            "gen.events": ph["n"],
            "gen.late_ms_p99": p99(ph["late"]),
            "gen.late_ms_max": max(ph["late"], default=0),
            "compaction.merge_ms_p50": median(merge_ms),
            "compaction.merge_ms_p99": p99(merge_ms),
            "compaction.touched_bucket_frac": median(
                [s.get("touched", 0) / TAIL_BUCKETS for s in merges]),
            "compaction.rewrite_bytes": sum(s.get("rewrite_bytes", 0) for s in merges),
            "compaction.state_rows_end": len(read_state(state)),
            "compaction.state_bytes_end": dir_bytes(state),
        })
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


class BucketWatch:
    """Which bucket directories a merge replaced, by inode, and their size."""

    def __init__(self, path: str):
        self.path = path
        self.snap: dict[str, int] = {}

    def _inodes(self) -> dict[str, int]:
        if not os.path.isdir(self.path):
            return {}
        return {d: os.stat(os.path.join(self.path, d)).st_ino
                for d in os.listdir(self.path) if d.startswith("bucket=")}

    def before(self) -> None:
        self.snap = self._inodes()

    def after(self) -> dict:
        now = self._inodes()
        touched = [d for d in now.keys() | self.snap.keys()
                   if now.get(d) != self.snap.get(d)]
        return {"touched": len(touched),
                "rewrite_bytes": sum(dir_bytes(os.path.join(self.path, d))
                                     for d in touched if d in now)}


def read_state(path: str) -> dict:
    """Latest-state table -> {id: (ts_ms, op, payload dict)}."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return {}
    t = pq.read_table(path, columns=["id", "ts_ms", "op", "payload"])
    return {k: (ts, op, dict(pl)) for k, ts, op, pl in zip(
        t.column("id").to_pylist(), t.column("ts_ms").to_pylist(),
        t.column("op").to_pylist(), t.column("payload").to_pylist())}


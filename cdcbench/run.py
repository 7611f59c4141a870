"""CDC pipeline benchmark: one workload per run, one JSON result line.

    python3 cdcbench/run.py --workload cdc_catchup --seed 1 --seconds 10 --trace 0

Run from the repository root; inputs are generated from ``--seed`` under
``.cdcbench_work/`` and removed at exit.  Workloads (BENCHMARK.json says why
each):

- ``cdc_catchup``: closed loop, one consumer; repeated availableNow drains of
  a 48k-event Debezium backlog (16 tables, no truncation) into the
  Kafka-column sink.  Throughput is events/s per drain, latency runs from the
  drain's start to the commit of each event's batch; medians over drains.
- ``cdc_tail_upsert``: open loop; a separate generator process writes 250
  events/s (Zipf keys, one table in four truncating a column) and the stream
  triggers every 4 s, on a grid the generator's start is aligned to.  Each
  micro-batch writes Kafka columns and merges into ParquetUpsertSink(16
  buckets).  Latency runs from each event's scheduled creation to the return
  of the foreachBatch that wrote it, after two untimed intervals; throughput
  is timed input rows per second of their micro-batches' time.

``setup_s`` is launch to ready: session start (JVM launch) plus the
workload's warm-up (catch-up: four drains of the backlog; tail: a three-batch
drain through the whole tail pipeline).  Every run checks its outputs
against an independent reference (reference router, latest-state replay)
after timing; mismatches count in ``failed``.  ``--trace 1`` measures
untraced, then again in a second session, set up afresh, that is traced
(spans around each layer call, the Spark event log, ``recentProgress``), and
reports the per-layer metrics instead, with the tracing overhead (event log
included) as the traced p50 latency against the untraced one.  The
catch-up's traced run also runs the sixteen headline batch queries in the
traced session (one cold pass, one warm pass, each checked against its
DuckDB oracle) for the plans/operators layers, and the same drain on one
core, the baseline for parallel efficiency.  Spans and metrics are also
written to ``cdcbench_out/``.  The last stdout line is the result; a context
line (cpus, load probe before and after) precedes it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

DEADLINE_S = 170
DRIVER_MEM = "2g"  # the package defaults to an 8g heap; keep runs small on a shared box


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def stop_jvm() -> None:
    """Stop the py4j gateway JVM started by PySpark and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


T_START = time.perf_counter()


def phase(name: str) -> None:
    """Progress note on stderr: where a run spends its wall time."""
    print(f"cdcbench: {name} at +{time.perf_counter() - T_START:.1f}s",
          file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from pyspark import SparkContext

    import cdc
    import headline
    from common import OUT, WORK, Tracer, peak_rss_mb, start_session
    from layers import EventLog

    kinds = {"cdc_catchup": cdc.Catchup, "cdc_tail_upsert": cdc.Tail}
    wl = kinds[workload](seed)  # seeded inputs, before any timing
    # the headline queries' layers ride on the catch-up's traced run
    hl = headline.Headline(seed) if trace and workload == "cdc_catchup" else None
    phase("inputs generated")
    off = Tracer(False)
    n = cpus()
    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = start_session(n, False)
    t1 = time.perf_counter()
    wl.warm_up(spark, off)
    t2 = time.perf_counter()
    phase("set up")
    m = wl.measure(spark, seconds, off)
    spark.stop()
    phase("measured")
    if trace:
        # The event log is part of what tracing costs, so the traced phase
        # gets a session of its own with the log on; the untraced
        # measurement above is its reference.  The JVM keeps warming across
        # sessions, so the overhead reads low; below zero, it is under that
        # drift (about 5-10% at HEAD).
        tracer = Tracer(True)
        spark = start_session(n, True)
        wl.warm_up(spark, off)
        mt = wl.measure(spark, seconds, tracer)
        if hl:
            hl.warm_up(spark)
            hl.run(spark, tracer)
        spark.stop()
        if hl:
            spark = start_session(1, False)
            layers["catchup.eps_1core"] = wl.eps_1core(spark)
            spark.stop()
        phase("measured traced")
    rss_mb = peak_rss_mb(SparkContext._gateway.proc.pid)  # one JVM for all sessions
    checks = [wl.check()] + ([hl.check()] if hl else [])
    attempted, failed = (sum(c) for c in zip(*checks))
    phase("checked")
    e2e = {
        "setup_s": t2 - t0,
        "throughput": m["throughput"],
        "latency_p50_ms": m["latency_p50_ms"],
        "latency_p99_ms": m["latency_p99_ms"],
    }
    if trace:
        elog = EventLog(os.path.join(WORK, "eventlog"))
        layers.update(wl.layers(elog, tracer, mt))
        if hl:
            layers.update(hl.layers(elog, tracer))
        layers.update({
            "session.start_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "memory.jvm_peak_rss_mb": rss_mb,
            "trace.overhead_pct": 100 * (mt["latency_p50_ms"] / m["latency_p50_ms"] - 1),
        })
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{workload}-{seed}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "layers": layers, "e2e_untraced": e2e,
                       "e2e_traced": {k: mt[k] for k in e2e if k in mt}}, fh)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers}


def result_line(res: dict | None, trace: bool) -> dict:
    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    values = (res or {}).get("layers" if trace else "e2e", {})
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v if math.isfinite(v) else 1e12,
                              "unit": m["unit"]}
    if res is None:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": metrics}
    return {"correct": res["failed"] == 0, "attempted": max(1, res["attempted"]),
            "failed": res["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_catchup", "cdc_tail_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:  # the program under test must be present; no result without it
        import flink_cdc_msk_spark.session  # noqa: F401
        import __spark_entry__  # noqa: F401
        spec()
    except (ImportError, OSError) as e:
        print(f"cdcbench: cannot load the program under test: {e}", file=sys.stderr)
        return 2

    from common import WORK, kill_descendants, load_probe

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)

    printed = threading.Lock()

    def emit(line: dict) -> None:
        if printed.acquire(blocking=False):
            print(json.dumps(line), flush=True)

    def on_deadline() -> None:  # a run must end within 180 s, result or not
        print("cdcbench: deadline reached", file=sys.stderr)
        kill_descendants()
        emit(result_line(None, bool(args.trace)))
        os._exit(1)

    watchdog = threading.Timer(DEADLINE_S, on_deadline)
    watchdog.daemon = True
    watchdog.start()
    probe_pre = load_probe()
    res = None
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
    try:
        stop_jvm()
    except Exception:
        traceback.print_exc()
    kill_descendants()
    probe_post = load_probe()
    shutil.rmtree(WORK, ignore_errors=True)
    watchdog.cancel()
    line = result_line(res, bool(args.trace))
    if args.trace and res is not None:
        for k, v in (("context.cpus", cpus()), ("context.load_probe_pre", probe_pre),
                     ("context.load_probe_post", probe_post)):
            if k in line["metrics"]:
                line["metrics"][k]["value"] = float(v)
    print(json.dumps({"context": {"workload": args.workload, "seed": args.seed,
                                  "cpus": cpus(), "load_probe": {
                                      "pre": probe_pre, "post": probe_post}}}))
    emit(line)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

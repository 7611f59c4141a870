"""Open-loop binlog-tail generator, run as its own process.

Event ``i`` is due at ``t0 + i / rate``; every ``tick`` the generator renders
the events that have come due, stamps each with its due time in ``ts_ms``,
writes them to a staging file and renames it into the source directory, so
the stream never sees a partial file.  The schedule never waits for the
consumer.  One log line per file records its first event, event count, due
time and the time the rename finished; the checker rebuilds the events from
the same seed.

    python3 tailgen.py --seed 1 --rate 250 --t0 <epoch s> --seconds 12 \
        --src DIR --stage DIR --log FILE
"""

from __future__ import annotations

import argparse
import os
import time

import feed

TICK_S = 0.05
# Chosen, not measured from a production binlog: a key space that keeps the
# latest-state table growing through a run, and a moderate skew.
KEYS_PER_TABLE = 4000
ZIPF_S = 1.1


def due_ms(t0: float, i: int, rate: int) -> int:
    """Due time of event ``i`` in epoch ms; distinct per event for rate <= 1000."""
    return int(t0 * 1000) + (i * 1000) // rate


def tail_events(seed: int, n: int):
    return feed.events(seed, n, KEYS_PER_TABLE, zipf_s=ZIPF_S)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    n_total = int(a.seconds * a.rate)
    evs = tail_events(a.seed, n_total)
    log, i, tick = [], 0, 0
    while i < n_total:
        tick += 1
        due = a.t0 + tick * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        first, lines = i, []
        while i < n_total and due_ms(a.t0, i, a.rate) <= due * 1000:
            lines.append(feed.render(next(evs), due_ms(a.t0, i, a.rate), i))
            i += 1
        if not lines:
            continue
        name = f"tail-{tick:06d}.json"
        staged = os.path.join(a.stage, name)
        with open(staged, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(staged, os.path.join(a.src, name))
        log.append(f"{name} {first} {len(lines)} {int(due * 1000)} "
                   f"{int(time.time() * 1000)}")
    with open(a.log, "w") as fh:
        fh.write("\n".join(log) + "\n")


if __name__ == "__main__":
    main()

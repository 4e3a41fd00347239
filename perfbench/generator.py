"""Open-loop event generator for the ``stream_events`` workload.

Run as its own process: ``python3 perfbench/generator.py '<json>'``
with keys ``seed``, ``spool``, ``start`` (epoch seconds of the first
tick), ``first_tick``, ``tick_s``, ``schedule`` ([[events_per_s,
seconds], ...]) and ``report``. The i-th tick is due at ``start + i *
tick_s``; it writes one parquet file of ``events_per_s * tick_s``
events, each stamped with ``gen_ts`` (the wall clock at write), and
never waits for the consumer. The report records rows written and how
late the latest tick started.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import EventSchedule, stream_schema  # noqa: E402


def write_tick(sched: EventSchedule, spool: str, k: int, n: int, tick_s: float) -> None:
    """Write tick ``k`` atomically (hidden temp name, then rename)."""
    schema = stream_schema()
    cols = sched.tick(k, n, tick_s)
    cols["gen_ts"] = [time.time()] * n
    table = pa.table({f.name: pa.array(cols[f.name]) for f in schema}).cast(schema)
    tmp = os.path.join(spool, f".ev-{k:08d}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(spool, f"ev-{k:08d}.parquet"))


def main() -> int:
    cfg = json.loads(sys.argv[1])
    sched = EventSchedule(cfg["seed"])
    tick_s, start = cfg["tick_s"], cfg["start"]
    k, i, rows = cfg.get("first_tick", 0), 0, 0
    late_max = 0.0
    for eps, seconds in cfg["schedule"]:
        n = int(eps * tick_s)
        for _ in range(int(seconds / tick_s)):
            due = start + i * tick_s
            now = time.time()
            if now < due:
                time.sleep(due - now)
            late_max = max(late_max, time.time() - due)
            write_tick(sched, cfg["spool"], k, n, tick_s)
            rows += n
            k += 1
            i += 1
    with open(cfg["report"], "w") as f:
        json.dump({"rows": rows, "ticks": k, "late_ms_max": late_max * 1e3}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

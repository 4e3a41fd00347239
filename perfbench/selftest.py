"""Process-hygiene self-test: no process started by the benchmark may
outlive the command, whether the run succeeds, fails or times out.

    python3 perfbench/selftest.py

Runs ``run.py --workload hygiene`` (a Spark session, a job on Python
workers, and an event generator deliberately left running) three times:
to completion, cut by its own deadline mid-run, and terminated by
SIGTERM mid-run. Every
process the benchmark starts inherits ``PERFBENCH_RUN``; after each
command returns, /proc must hold no process carrying that run's id.
Exits 0 when all cases pass.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def tagged(run_id_prefix: bytes) -> list[int]:
    """Pids of live (non-zombie) processes whose environment carries a
    PERFBENCH_RUN value starting with ``run_id_prefix``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                env = f.read().split(b"\0")
            with open(f"/proc/{entry}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z" and any(e.startswith(b"PERFBENCH_RUN=" + run_id_prefix) for e in env):
            out.append(int(entry))
    return out


def case(name: str, extra: list[str], term_after_s: float | None = None) -> bool:
    tag = f"selftest{os.getpid()}{name}"
    env = dict(os.environ, PERFBENCH_RUN_PREFIX=tag)
    t0 = time.monotonic()
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "hygiene",
         "--seed", "1", "--seconds", "1", "--trace", "0", *extra],
        env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    if term_after_s is not None:
        try:
            p.wait(timeout=term_after_s)
        except subprocess.TimeoutExpired:
            p.terminate()
    p.wait()
    left = tagged(tag.encode())
    ok = not left
    print(f"{name}: exit {p.returncode} in {time.monotonic() - t0:.1f}s, "
          f"{'no process left' if ok else f'processes left: {left}'}")
    return ok


def main() -> int:
    ok = case("complete", [])
    ok &= case("deadline", ["--deadline", "6"])
    ok &= case("sigterm", [], term_after_s=6)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

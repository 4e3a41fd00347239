"""Process-tree helpers read from /proc (psutil is not available).

The supervisor marks itself a child subreaper, so every process the
benchmark starts stays its descendant even after an intermediate parent
exits; ``descendants`` then finds all of them by walking PPid links.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def become_subreaper() -> None:
    try:
        prctl = ctypes.CDLL("libc.so.6", use_errno=True).prctl
    except OSError:
        return
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    prctl(_PR_SET_CHILD_SUBREAPER, 1)


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens: fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(entry)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    ppid = _ppid_map()
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_tree(root: int, pgid: int | None, grace_s: float = 5.0) -> list[int]:
    """SIGTERM, then SIGKILL, the process group and every descendant of
    ``root`` (this process, a subreaper), reaping each; returns the pids
    still alive afterwards (empty on success)."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        if pgid is not None:
            try:
                os.killpg(pgid, sig)
            except (ProcessLookupError, PermissionError):
                pass
        for pid in descendants(root):
            try:
                os.kill(pid, sig)
            except (ProcessLookupError, PermissionError):
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            _reap_children()
            if not descendants(root):
                return []
            time.sleep(0.05)
    _reap_children()
    return descendants(root)

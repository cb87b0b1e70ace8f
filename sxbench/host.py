"""Host-noise probes, provenance, and the process-tree memory watcher.

Run as a script (``python3 host.py watch <pid>``) it samples the
proportional set size (PSS) of ``<pid>`` and every descendant while resumed
(``r`` on standard input; ``p`` pauses it), and prints the peaks of each
resumed interval in MiB, Python processes and JVM apart, as a JSON list when
its standard input closes.  It runs as a separate process so that sampling
takes nothing from the benchmark's own interpreter.
"""

from __future__ import annotations

import hashlib
import json
import os
import select
import subprocess
import sys
import time

SPIN_ITERATIONS = 5_000_000
SPIN_SAMPLES = 5
WATCH_INTERVAL_S = 0.25


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spin_s() -> float:
    """Median wall time of a fixed single-thread loop (about 0.1 s on an idle
    core).  A slow host window shows as a larger value."""
    samples = []
    for _ in range(SPIN_SAMPLES):
        t0 = time.perf_counter()
        acc = 0
        for i in range(SPIN_ITERATIONS):
            acc += i & 7
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return samples[len(samples) // 2]


def snapshot() -> dict:
    """Load average and spin time, taken before and after each run."""
    return {"t": time.time(), "load_avg_1m": os.getloadavg()[0], "spin_s": spin_s()}


def git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def program_digest(root: str) -> str:
    """sha256 over the program's Python files (path and content), so two
    records can be matched to the same code without git."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for sub in ("sparkx", "tools"):
        for d, _, files in os.walk(os.path.join(root, sub)):
            paths += [os.path.join(d, f) for f in files if f.endswith((".py", ".json"))]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_kib(root_pid: int, exclude: int) -> tuple[int, int]:
    """PSS of ``root_pid`` and its descendants, split into (Python processes,
    JVM): the driver interpreter and Python workers on one side, the Spark
    JVM (``java``) on the other."""
    kids, python, jvm, stack = _children(), 0, 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack += kids.get(pid, [])
        if pid == exclude:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kib = int(line.split()[1])
                        break
        except OSError:
            continue
        if is_jvm:
            jvm += kib
        else:
            python += kib
    return python, jvm


class MemoryWatch:
    """Peak PSS of this process tree in each interval between ``resume()``
    and ``pause()``, for the Python processes and the JVM apart; the watcher
    starts paused."""

    def __init__(self):
        self._proc = None

    def start(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "watch", str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def _send(self, command: str) -> None:
        self._proc.stdin.write(command)
        self._proc.stdin.flush()

    def resume(self) -> None:
        self._send("r")

    def pause(self) -> None:
        self._send("p")

    def stop(self) -> list[tuple[float, float]]:
        """(Python processes, JVM) peak of each interval in MiB, in order."""
        proc, self._proc = self._proc, None
        out, _ = proc.communicate(timeout=30)
        if proc.returncode != 0:
            raise RuntimeError(f"memory watcher exited with {proc.returncode}")
        return [tuple(peak) for peak in json.loads(out)]


def _watch(root_pid: int) -> None:
    me, peaks, active = os.getpid(), [], False
    while True:
        if active:
            python, jvm = tree_pss_kib(root_pid, exclude=me)
            peaks[-1] = [max(peaks[-1][0], python / 1024), max(peaks[-1][1], jvm / 1024)]
        ready, _, _ = select.select([sys.stdin], [], [], WATCH_INTERVAL_S if active else None)
        if ready:
            command = os.read(sys.stdin.fileno(), 1)  # unbuffered: select sees every byte
            if not command:
                break
            if command == b"r" and not active:
                peaks.append([0.0, 0.0])
            active = command == b"r"
    print(json.dumps(peaks))


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "watch":
        sys.exit("usage: host.py watch <pid>")
    _watch(int(sys.argv[2]))

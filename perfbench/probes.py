"""Process-tree and host probes read from /proc.

The benchmark's process tree is this Python driver, the JVM it launches
and the PySpark Python workers the JVM forks.  CPU time of the tree is
``utime + stime + cutime + cstime`` summed over its live processes: a
child that exits and is reaped moves its time into its parent's
``cutime``, so nothing is lost or counted twice.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant, via /proc/<pid>/task/*/children."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return out


def _stat(pid: int) -> tuple[str, float] | None:
    """(command name, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after ')' start at index 3 (state): utime=14, stime=15,
    # cutime=16, cstime=17 in proc(5) numbering
    return comm, sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds of the tree, split into ``driver_py`` (``root``),
    ``jvm`` (java processes) and ``py_workers`` (everything else)."""
    split = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        comm, cpu = st
        key = "driver_py" if pid == root else ("jvm" if comm == "java" else "py_workers")
        split[key] += cpu
    return split


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: pages shared between processes
    (forked Python workers) are split among them, not counted again."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


class RssSampler:
    """Background thread keeping the peak resident size (PSS) of the tree."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval, self.peak_mb = root, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


# a twentieth of bench.py's 20M-iteration reference loop, so the two
# probes cost about a second of each run; the reported par_spin_sec is
# scaled back to the full loop so readings stay comparable with bench.py's
SPIN_CODE = """
import time
t0 = time.perf_counter()
x = 0
for i in range(1_000_000):
    x += i
print(20 * (time.perf_counter() - t0))
"""


def par_spin_sec(n: int) -> float:
    """Mean time of the repository's fixed CPU reference loop run in
    ``n`` processes at once (``bench.py``'s ``par_spin_sec``)."""
    procs = [subprocess.Popen([sys.executable, "-c", SPIN_CODE], stdout=subprocess.PIPE, text=True)
             for _ in range(n)]
    times = [float(p.communicate()[0]) for p in procs]
    return sum(times) / len(times)


def host_snapshot(n: int) -> dict:
    return {"load_avg_1m": os.getloadavg()[0], "par_spin_sec": par_spin_sec(n)}


def git_commit(root: str) -> str | None:
    """HEAD of ``root`` when ``root`` is itself a git checkout's top."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def source_digest(root: str) -> str:
    """sha256 over the library's Python sources, for checkouts that
    carry no git metadata."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for top in ("yaetos_spark", "jobs"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]

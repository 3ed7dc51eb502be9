"""Reducers, metric-name rules, the /proc memory sampler and the
environment stamp. Pure Python, no Spark import, so the benchmark's own
tests run without a session."""

from __future__ import annotations

import hashlib
import os
import platform
import re
import statistics
import subprocess
import threading
import time

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# candidate tail percentiles, highest first
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def valid_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, at most
    64 letters, digits, ``_``, ``.`` and ``-``."""
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method), p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or None
    when there are too few samples for any."""
    for p in _TAILS:
        if n * (100.0 - p) >= 1000.0 - 1e-6:
            return p
    return None


def summarize(values) -> dict:
    """Median, quartiles and sample count of ``values``; adds the tail
    percentile when ``tail_percentile`` allows one."""
    xs = [float(v) for v in values]
    if not xs:
        return {"n": 0}
    out = {
        "n": len(xs),
        "median": statistics.median(xs),
        "p25": percentile(xs, 25),
        "p75": percentile(xs, 75),
        "min": min(xs),
        "max": max(xs),
    }
    tail = tail_percentile(len(xs))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(xs, tail)
    return out


# ---------------------------------------------------------------------------
# /proc memory sampler
# ---------------------------------------------------------------------------

def _status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                if k in ("PPid", "VmRSS", "VmHWM", "Name"):
                    out[k] = v.strip()
    except OSError:
        pass
    return out


def _kb(v: str | None) -> int:
    return int(v.split()[0]) if v else 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc's PPid fields,
    each parent before its children."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid is not None:
                children.setdefault(int(ppid), []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def classify(pid: int, root: int) -> str:
    """'driver' for the benchmark process, 'jvm' for java, 'worker' for a
    PySpark daemon or worker, 'other' for anything else in the tree."""
    if pid == root:
        return "driver"
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ")[0]:
        return "jvm"
    if "pyspark" in cmd:
        return "worker"
    return "other"


def tree_rss_kb(procs) -> int:
    """Summed RSS of ``(pid, ppid, kind, rss_kb)`` rows, listed parents
    first. A JVM's child that is still a JVM is a helper it forked and
    has not yet exec()ed: its RSS is the parent's memory, so it is left
    out rather than counted twice."""
    jvms, total = set(), 0
    for pid, ppid, kind, rss in procs:
        if kind == "jvm":
            if ppid in jvms:
                continue
            jvms.add(pid)
        total += rss
    return total


class MemorySampler:
    """Samples the RSS of the benchmark's whole process tree (driver, JVM,
    Python workers) from /proc on a background thread.

    ``tree_peak`` is the largest sampled sum; ``jvm_peak`` and
    ``worker_peak`` use each process's own VmHWM high-water mark, so a
    short spike between samples still counts."""

    def __init__(self, interval: float = 0.25, root: int | None = None):
        self.interval = interval
        self.root = root or os.getpid()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._kinds: dict[tuple, str] = {}
        self.tree_peak_kb = 0
        self.jvm_peak_kb = 0
        self.worker_peak_kb = 0
        self.samples = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        jvm = worker = 0
        procs = []
        for pid in process_tree(self.root):
            st = _status(pid)
            if not st:
                continue
            # keyed by name too: the JVM starts as a launcher script and
            # exec()s java under the same pid
            key = (pid, st.get("Name"))
            kind = self._kinds.get(key)
            if kind is None:
                kind = self._kinds[key] = classify(pid, self.root)
            procs.append((pid, int(st.get("PPid", 0)), kind, _kb(st.get("VmRSS"))))
            hwm = _kb(st.get("VmHWM"))
            if kind == "jvm":
                jvm = max(jvm, hwm)
            elif kind == "worker":
                worker = max(worker, hwm)
        total = tree_rss_kb(procs)
        with self._lock:
            self.samples += 1
            self.tree_peak_kb = max(self.tree_peak_kb, total)
            self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)
            self.worker_peak_kb = max(self.worker_peak_kb, worker)

    def peaks_gb(self) -> dict:
        with self._lock:
            return {
                "tree": self.tree_peak_kb / 2**20,
                "jvm": self.jvm_peak_kb / 2**20,
                "worker": self.worker_peak_kb / 2**20,
                "samples": self.samples,
            }


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL stragglers."""
    import signal

    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while [p for p in alive if _running(p)] and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    txt = _read(f"/proc/{pid}/stat")
    return bool(txt) and txt.rsplit(")", 1)[-1].split()[0] != "Z"


def oom_kills() -> int | None:
    """The cgroup's OOM-kill counter (cgroup v2), or None when unreadable."""
    try:
        with open("/sys/fs/cgroup/memory.events") as f:
            for line in f:
                k, _, v = line.partition(" ")
                if k == "oom_kill":
                    return int(v)
    except OSError:
        return None
    return None


# ---------------------------------------------------------------------------
# environment stamp
# ---------------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def _meminfo_gb() -> float | None:
    txt = _read("/proc/meminfo") or ""
    m = re.search(r"^MemTotal:\s+(\d+) kB", txt, re.M)
    return int(m.group(1)) / 2**20 if m else None


def _git_commit(root: str) -> str | None:
    """The checkout's commit: ``git rev-parse`` when it is a repository,
    else None (an exported checkout carries no history)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def check_sums(sums_path: str) -> list[str]:
    """The files named in a ``sha256sum``-format list (relative to the
    list's directory) that are missing or whose digest differs."""
    root = os.path.dirname(sums_path)
    bad = []
    with open(sums_path) as f:
        for line in f:
            if not line.strip():
                continue
            want, name = line.split(maxsplit=1)
            name = name.strip().lstrip("*")
            try:
                with open(os.path.join(root, name), "rb") as g:
                    got = hashlib.sha256(g.read()).hexdigest()
            except OSError:
                got = None
            if got != want:
                bad.append(name)
    return bad


def source_digest(root: str) -> str:
    """sha1 over the engine's Python sources, which identifies the code
    measured when the checkout carries no git history."""
    h = hashlib.sha1()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(root, "keystone_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        try:
            with open(p, "rb") as f:
                h.update(f.read())
        except OSError:
            pass
    return h.hexdigest()


def env_stamp(root: str) -> dict:
    """The machine and software a run measured on. Call at the start of a
    run; ``finish_stamp`` adds the end-of-run load."""
    try:
        import pyspark
        pyspark_version = pyspark.__version__
    except ImportError:
        pyspark_version = None
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": _meminfo_gb(),
        "loadavg_start": _read("/proc/loadavg"),
        "cpu_pressure_start": _read("/proc/pressure/cpu"),
        "python": platform.python_version(),
        "pyspark": pyspark_version,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": _git_commit(root),
        "oom_kills_start": oom_kills(),
        "started_unix": time.time(),
    }


def finish_stamp(env: dict) -> dict:
    env["loadavg_end"] = _read("/proc/loadavg")
    env["cpu_pressure_end"] = _read("/proc/pressure/cpu")
    env["oom_kills_end"] = oom_kills()
    return env

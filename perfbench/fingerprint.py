"""Host and configuration fingerprint recorded with every result, and
the process counters the harness samples (CPU steal, peak RSS)."""

from __future__ import annotations

import hashlib
import os
import platform
import resource
import shutil
import subprocess


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _stat_fields(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live descendant, including what exited children left in their
    parents' ``cutime``/``cstime``. For the driver JVM this covers the
    local-mode executor threads and the Python workers it forks."""
    ppid: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(entry)
        except OSError:  # exited while listing
            continue
        ppid[int(entry)] = int(f[1])
        ticks[int(entry)] = sum(int(x) for x in f[11:15])
    kids: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        kids.setdefault(parent, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Python driver plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    return (py_kb + _status_kb(jvm_pid, "VmHWM")) / 1024.0


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest(root: str) -> str:
    """sha256 over the engine's .py files: identifies the code under test
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "ugfraud_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def collect(spark, root: str, pass_steal: list[float]) -> dict:
    from ugfraud_spark.plans import session

    conf = spark.sparkContext.getConf()
    # what the engine's own scratch rule picks on the host, without the
    # benchmark's override that keeps every write inside the checkout
    override = os.environ.pop("UGFRAUD_SPARK_LOCAL_DIR", None)
    try:
        engine_scratch = session._scratch_dir()  # noqa: SLF001
    finally:
        if override is not None:
            os.environ["UGFRAUD_SPARK_LOCAL_DIR"] = override
    shm = shutil.disk_usage("/dev/shm").free if os.path.isdir("/dev/shm") else 0
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(_mem_total_bytes() / 1024**3, 2),
        "dev_shm_free_gib": round(shm / 1024**3, 2),
        "spark.local.dir": conf.get("spark.local.dir", None),
        "engine_scratch_dir": engine_scratch,
        "engine_scratch_fell_back": engine_scratch is None,
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.master": spark.sparkContext.master,
        "spark_version": spark.version,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "python_version": platform.python_version(),
        "git_commit": _git_commit(root),
        "engine_source_sha256": _source_digest(root),
        "pass_cpu_steal_share": [round(s, 4) for s in pass_steal],
    }

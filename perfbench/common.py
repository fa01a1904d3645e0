"""Session lifetime, resource readings and sample summaries shared by the
workloads."""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import time

# Status-store retention: every job, stage and SQL execution of a run must
# still be there when the traced run resolves its spans at the end.
_RETAIN = (
    "spark.ui.retainedJobs", "spark.ui.retainedStages",
    "spark.sql.ui.retainedExecutions",
)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, with seconds since the process started."""
    import sys

    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr,
          flush=True)


def box() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"cores": cores, "mem_gib": round(mem_kb / 2**20, 1)}


def driver_mem(mem_gib: float) -> str:
    """Driver heap for ``local[*]``: a quarter of physical memory, capped at
    4g — the program's 32g default exceeds this kind of box, and the
    machine is shared."""
    return f"{max(1, min(4, int(mem_gib // 4)))}g"


def start_session(work: str, cores: int, mem: str):
    """Start the program's own session (``ekati_spark.session.get_spark``)
    through its env contract, with every temporary path inside ``work``.
    Returns (spark, seconds)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "EKATI_SCRATCH_ROOT": os.path.join(work, "scratch"),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--conf {k}=1000000" for k in _RETAIN]
            + [
                f"--conf spark.local.dir={local}",
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                f"--driver-java-options=-Djava.io.tmpdir={tmp}",
                "pyspark-shell",
            ]
        ),
    })
    os.makedirs(os.environ["EKATI_SCRATCH_ROOT"], exist_ok=True)
    t0 = time.perf_counter()
    from ekati_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    return spark, time.perf_counter() - t0


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_session(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it (its Python worker daemons exit with it)."""
    from pyspark import SparkContext

    proc = jvm_proc()
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            kill_jvm(proc)


def kill_jvm(proc, timeout: float = 30.0) -> None:
    try:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=timeout)
    except (subprocess.TimeoutExpired, OSError):
        proc.kill()
        proc.wait(timeout=timeout)


def peak_rss_mb() -> float:
    """High-water resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _proc_ticks(stat_path: str) -> tuple[int, int] | None:
    """(ppid, utime + stime + reaped children's) of one /proc stat file."""
    try:
        with open(stat_path) as fh:
            txt = fh.read()
    except OSError:
        return None
    f = txt[txt.rindex(")") + 2:].split()
    return int(f[1]), sum(int(x) for x in f[11:15])


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds of ``pid`` (default: this process) and all its live
    descendants: this process, the JVM and its Python workers."""
    pid = pid or os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (t := _proc_ticks(f"/proc/{d}/stat")) is not None:
            procs[int(d)] = t
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    ticks, stack = 0, [pid]
    while stack:
        p = stack.pop()
        ticks += procs.get(p, (0, 0))[1]
        stack.extend(kids.get(p, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


# JVM threads whose CPU is warm-up or heap upkeep, not the request's work:
# the JIT compilers and the garbage collector (HotSpot thread names).
_JIT = ("C1 CompilerThre", "C2 CompilerThre")
_GC = ("GC Thread", "G1 ")


class CpuMeter:
    """CPU of this process tree, split into the JVM's JIT-compiler threads,
    its garbage-collector threads, and the rest ("work"). A thread that
    exits keeps its last reading, so its CPU stays accounted."""

    def __init__(self):
        self.last: dict[str, dict[str, int]] = {"jit": {}, "gc": {}}

    def read(self) -> dict:
        total = tree_cpu_s()
        proc = jvm_proc()
        if proc is not None:
            task = f"/proc/{proc.pid}/task"
            for tid in os.listdir(task):
                try:
                    with open(f"{task}/{tid}/comm") as fh:
                        comm = fh.read().strip()
                except OSError:
                    continue
                kind = ("jit" if comm.startswith(_JIT)
                        else "gc" if comm.startswith(_GC) else None)
                if kind and (t := _proc_ticks(f"{task}/{tid}/stat")) is not None:
                    self.last[kind][tid] = t[1]
        hz = os.sysconf("SC_CLK_TCK")
        jit = sum(self.last["jit"].values()) / hz
        gc = sum(self.last["gc"].values()) / hz
        return {"total": total, "jit": jit, "gc": gc, "work": total - jit - gc}


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


class CpuWindow:
    """CPU seconds used by this process tree (by kind, see ``CpuMeter``)
    and the share of machine time the hypervisor stole, summed over the
    intervals between ``resume`` and ``pause``."""

    def __init__(self, meter: CpuMeter | None = None):
        self.meter = meter or CpuMeter()
        self.acc: dict[str, float] = {}
        self.steal = [0, 0]

    def resume(self) -> "CpuWindow":
        self.cpu0, self.ctr0 = self.meter.read(), cpu_counters()
        return self

    def pause(self) -> "CpuWindow":
        cpu, (steal, total) = self.meter.read(), cpu_counters()
        for k in cpu:
            self.acc[k] = self.acc.get(k, 0.0) + cpu[k] - self.cpu0[k]
        self.steal[0] += steal - self.ctr0[0]
        self.steal[1] += total - self.ctr0[1]
        return self

    def result(self) -> dict:
        out = {f"cpu_{k}_s": v for k, v in self.acc.items()}
        out["steal_share"] = self.steal[0] / max(1, self.steal[1])
        return out


def job_count(spark) -> int:
    """Spark jobs submitted so far in this session (the status store
    retains every job of a run)."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def tail_rank(n: int) -> tuple[int, int] | None:
    """(percentile, 1-based nearest rank) of the highest whole percentile
    with at least ten samples beyond it, or None below 11 samples."""
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, max(1, math.ceil(pct / 100 * n))


def summarize(xs: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (None below 11 samples), and the sample count."""
    if not xs:
        return {"n": 0, "p50": None, "tail": None, "tail_pct": None}
    s = sorted(xs)
    tr = tail_rank(len(s))
    return {"n": len(s), "p50": statistics.median(s),
            "tail": s[tr[1] - 1] if tr else None,
            "tail_pct": tr[0] if tr else None}


def named(p50_name: str, tail_name: str | None, summary: dict,
          unit: str = "ms") -> dict:
    """The workload's own metric names for one summarized timing."""
    out = {p50_name: {"value": summary["p50"], "unit": unit, "n": summary["n"]}}
    if tail_name:
        out[tail_name] = {"value": summary["tail"], "unit": unit,
                          "n": summary["n"], "pct": summary["tail_pct"]}
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/underscore
    markers."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size

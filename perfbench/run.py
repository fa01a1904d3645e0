"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 6 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, starts the program's Spark session sized to this machine,
measures, checks every output, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the run's detail record (box, seed, the workload's own metric
names, deterministic counters). Spans and the detail are also written to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the run must end within 180 s

# Per-workload sizes. ``sf`` sizes the generated tables; graph_write
# ingests its own nodes and reads no tables.
WORKLOADS = {
    "graph_serve": {"sf": 0.01, "setup_reps": 3, "n_buckets": 16,
                    "light_ops": 3, "heavy_ops": 4},
    "graph_write": {"sf": None, "setup_reps": 3, "n_buckets": 16,
                    "warm_nodes": 2_000, "ingest_nodes": 100_000,
                    "ingest_reps": 3, "cycles": 2},
    "batch_pipeline": {"sf": 0.001, "setup_reps": 1, "light_reps": 2},
}

END_TO_END = {"setup_s": "s", "light_jobs_per_op": "count",
              "heavy_jobs_per_op": "count"}
# Per-layer metrics, each the median over the run's ops of one class.
LAYER_FIELDS = {
    "build.ms": "ms", "build.jobs": "count", "catalyst.ms": "ms",
    "action.ms": "ms", "action.jobs": "count", "action.stages": "count",
    "action.tasks": "count", "action.queue_ms": "ms",
    "action.executor_run_ms": "ms", "action.executor_cpu_ms": "ms",
    "action.input_bytes": "bytes", "action.shuffle_read_bytes": "bytes",
    "action.shuffle_write_bytes": "bytes", "action.shuffle_records": "count",
    "action.spill_bytes": "bytes", "action.peak_exec_mem_bytes": "bytes",
    "action.exchanges": "count", "action.smj": "count", "action.bhj": "count",
    "other.ms": "ms",
}
PER_LAYER = {
    f"{k}.{c}": u for c in ("light", "heavy") for k, u in LAYER_FIELDS.items()
}
PER_LAYER["trace.overhead_ms"] = "ms"


def program_present() -> bool:
    need = ("ekati_spark/__init__.py", "ekati_spark/server.py",
            "tools/ingest_bench.py", "tools/verify_local.py")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in need)


def setup_paths() -> None:
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def make_ctx(spark, tracer, workload: str, seed: int, seconds: float,
             work: str, sf_dir: str | None, tamper: bool = False,
             **overrides) -> SimpleNamespace:
    cfg = dict(WORKLOADS[workload], **overrides)
    return SimpleNamespace(spark=spark, tracer=tracer, workload=workload,
                           seed=seed, seconds=seconds, work=work,
                           sf_dir=sf_dir, tamper=tamper, **cfg)


def run_workload(ctx) -> dict:
    if ctx.workload == "batch_pipeline":
        from batch import run_batch

        return run_batch(ctx)
    from serve import run_serve, run_write

    return (run_serve if ctx.workload == "graph_serve" else run_write)(ctx)


# -- per-layer ------------------------------------------------------------


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def op_layers(tracer) -> list[dict]:
    """One record per measured op: its class and layer split, from the op's
    root span and the spans and jobs under it."""
    spans = tracer.spans
    kids: dict[int, dict[str, object]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, {})[s.name] = s
    servers = [s for s in spans if s.name == "server.execute" and s.end]
    ops = []
    for root in spans:
        if root.name == "request":
            # the server-side execute of this request: same text, inside it
            inside = [s for s in servers if s.attrs["text"] == root.attrs["text"]
                      and root.start <= s.start and s.end <= root.end]
            if not inside:
                continue
            srv = min(inside, key=lambda s: s.start - root.start)
            parts = kids.get(srv.sid, {})
            action_jobs = srv.jobs
            if action_jobs:
                action_ms = float(max(j.end_ms for j in action_jobs)
                                  - min(j.submit_ms for j in action_jobs))
            else:
                action_ms = 0.0
            op = {"kind": root.attrs["kind"],
                  "props_plan_nodes": srv.attrs.get("props_plan_nodes")}
        elif root.name == "query" and root.attrs["pass_no"] >= 0:
            parts = kids.get(root.sid, {})
            action = parts.get("action")
            if action is None:
                continue
            action_jobs = action.jobs
            action_ms = action.ms
            op = {"kind": root.attrs["query"]}
        else:
            continue
        build, cat = parts.get("build"), parts.get("catalyst")
        parse = parts.get("parse")
        if build is None or cat is None:
            continue
        jobs = list(build.jobs) + list(action_jobs)
        op.update({
            "cls": root.attrs["cls"], "ms": root.ms,
            "parse.ms": parse.ms if parse else 0.0,
            "build.ms": build.ms, "build.jobs": len(build.jobs),
            "catalyst.ms": cat.attrs.get("catalyst_ms", 0.0),
            "action.ms": action_ms, "action.jobs": len(action_jobs),
            "action.exchanges": cat.attrs.get("exchanges", 0),
            "action.smj": cat.attrs.get("smj", 0),
            "action.bhj": cat.attrs.get("bhj", 0),
            "python.udf_ms": sum(j.python_ms for j in jobs),
            "build.input_bytes": sum(j.input_bytes for j in build.jobs),
        })
        for f in ("stages", "tasks", "queue_ms", "executor_run_ms",
                  "executor_cpu_ms", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "shuffle_records", "spill_bytes"):
            op[f"action.{f}"] = sum(getattr(j, f) for j in action_jobs)
        op["action.peak_exec_mem_bytes"] = max(
            [j.peak_exec_mem_bytes for j in action_jobs], default=0)
        covered = op["parse.ms"] + build.ms + cat.ms + action_ms
        op["other.ms"] = max(0.0, root.ms - covered)
        ops.append(op)
    return ops


def layer_metrics(tracer, n_ops: int) -> tuple[dict, list[dict]]:
    ops = op_layers(tracer)
    out = {}
    for name in PER_LAYER:
        if name == "trace.overhead_ms":
            out[name] = tracer.self_s * 1e3 / max(1, n_ops)
            continue
        field, cls = name.rsplit(".", 1)
        out[name] = _median([o[field] for o in ops if o["cls"] == cls])
    return out, ops


def layer_detail(ops: list[dict], workload: str) -> dict:
    """The workload's own layer metrics, by the module names they measure."""
    def med(field, pred=lambda o: True):
        return _median([o[field] for o in ops if pred(o)])

    if workload == "batch_pipeline":
        groups = {"iterative": "heavy", "scan": "light"}
        return {
            g: {"build.s": med("build.ms", lambda o, c=c: o["cls"] == c) / 1e3,
                "build.jobs": med("build.jobs", lambda o, c=c: o["cls"] == c),
                "catalyst.ms": med("catalyst.ms", lambda o, c=c: o["cls"] == c),
                "action.s": med("action.ms", lambda o, c=c: o["cls"] == c) / 1e3,
                "python.udf_ms": med("python.udf_ms", lambda o, c=c: o["cls"] == c)}
            for g, c in groups.items()
        } | {"per_query": {
            k: {f: med(f, lambda o, k=k: o["kind"] == k) for f in (
                "build.ms", "build.jobs", "catalyst.ms", "action.ms",
                "action.jobs", "action.stages", "action.tasks",
                "action.shuffle_records", "action.exchanges", "action.smj",
                "action.bhj", "python.udf_ms")}
            for k in sorted({o["kind"] for o in ops})}}
    gets = [o for o in ops if o["kind"] != "put"]
    detail = {
        "server.overhead_ms": med("other.ms"),
        "parser.parse_ms": med("parse.ms"),
        "compiler.build_ms": {k: med("build.ms", lambda o, k=k: o["kind"] == k)
                              for k in sorted({o["kind"] for o in ops})},
        "compiler.build_jobs": {k: med("build.jobs", lambda o, k=k: o["kind"] == k)
                                for k in sorted({o["kind"] for o in ops})},
        "storage.scan_bytes_per_get": _median(
            [o["action.input_bytes"] + o["build.input_bytes"] for o in gets]),
    }
    if workload == "graph_write":
        detail["compiler.put_ms"] = med("build.ms", lambda o: o["kind"] == "put")
        detail["compiler.props_plan_nodes"] = [
            o["props_plan_nodes"] for o in ops if o["kind"] == "put"]
    return detail


def counters(ops: list[dict]) -> dict:
    """Deterministic counters per op kind: median jobs, stages, tasks,
    Exchange/SMJ/BHJ and shuffle records. Repeat exactly at one seed."""
    out = {}
    for k in sorted({o["kind"] for o in ops}):
        sel = [o for o in ops if o["kind"] == k]
        out[k] = {f: _median([o[f] for o in sel]) for f in (
            "build.jobs", "action.jobs", "action.stages", "action.tasks",
            "action.exchanges", "action.smj", "action.bhj",
            "action.shuffle_records")}
    return out


# -- main -----------------------------------------------------------------


def measure(workload: str, seed: int, seconds: float, trace: bool,
            tamper: bool = False, spark=None, work: str | None = None,
            **overrides) -> tuple[dict, dict]:
    """One run. Returns (result line, detail record). Starts and stops its
    own session unless one is passed in."""
    setup_paths()
    import datagen
    from common import (box, driver_mem, log, peak_rss_mb, start_session,
                        stop_session)
    from spans import Tracer

    b = box()
    own_work = work is None
    work = work or os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cfg = dict(WORKLOADS[workload], **overrides)
    own_session = spark is None
    session_s = 0.0
    mem = driver_mem(b["mem_gib"])
    started: dict = {}
    if own_session:
        # the JVM starts while the inputs are generated
        starter = threading.Thread(target=lambda: started.update(
            zip(("spark", "s"), start_session(work, b["cores"], mem))))
        starter.start()
    sf_dir = None
    if cfg["sf"] is not None:
        sf_dir = datagen.write(seed, cfg["sf"], os.path.join(work, "data"))
    if own_session:
        starter.join()
        if "spark" not in started:
            raise RuntimeError("the Spark session did not start")
        spark, session_s = started["spark"], started["s"]
        log(f"session started in {session_s:.1f}s")
    try:
        tracer = Tracer(spark, trace)
        ctx = make_ctx(spark, tracer, workload, seed, seconds, work, sf_dir,
                       tamper, **overrides)
        res = run_workload(ctx)
        log("workload done")
        rss = peak_rss_mb()
        tracer.resolve()
        log("spans resolved")
        n_ops = len(res["ops"])
        failed = len(res["failures"])
        e2e = {
            "setup_s": session_s + _median(res["setups_s"]),
            "light_jobs_per_op": res["jobs_per_op"]["light"],
            "heavy_jobs_per_op": res["jobs_per_op"]["heavy"],
        }
        own = {"setup_s": {"value": e2e["setup_s"], "unit": "s"},
               "peak_rss_mb": {"value": rss, "unit": "MB"},
               **res["detail"].pop("own_metrics")}
        detail = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "box": b, "driver_mem": mem,
            "data_dir": os.path.relpath(sf_dir, ROOT) if sf_dir else None,
            "sf": cfg["sf"], "session_start_s": session_s,
            "setups_s": res["setups_s"], "metrics": own,
            "latency": {"light_p50_ms": res["light"]["p50"],
                        "heavy_p50_ms": res["heavy"]["p50"],
                        "throughput_per_s": res["throughput"]},
            "samples": {"light": res["light"], "heavy": res["heavy"]},
            "workload_metrics": res["detail"], "failures": res["failures"][:20],
        }
        if trace:
            metrics, ops = layer_metrics(tracer, n_ops)
            detail["layers"] = layer_detail(ops, workload)
            detail["counters"] = counters(ops)
            detail["trace_self_s"] = tracer.self_s
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": n_ops,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units},
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{workload}-{seed}-trace{int(trace)}.json"),
                  "w") as fh:
            json.dump({"detail": detail, "result": result,
                       "spans": tracer.dump()}, fh, default=str)
    finally:
        if own_session:
            stop_session(spark)
            log("session stopped")
        if own_work:
            shutil.rmtree(work, ignore_errors=True)
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: the program (ekati_spark/, tools/) is not in "
              f"{ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        result, detail = measure(args.workload, args.seed, args.seconds,
                                 bool(args.trace))
    finally:
        watchdog.cancel()
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


def _abort() -> None:
    """Past the deadline: stop the JVM and exit non-zero, printing no
    result."""
    from common import jvm_proc, kill_jvm

    print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
    proc = jvm_proc()
    if proc is not None:
        proc.kill()
        kill_jvm(proc, timeout=10)
    sys.stdout.flush()
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())

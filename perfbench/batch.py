"""The ``batch_pipeline`` workload: registry queries built with
``REGISTRY[name].fn(spark, sf_dir)`` and written to the ``noop`` sink, in
interleaved passes over two groups. The heavy group's wall time is mostly
build (eager jobs before the action); the light group's is mostly the
action. Every output is compared with the query's DuckDB oracle, hashed
the way ``tools/verify_local.py`` hashes it."""

from __future__ import annotations

import time

import duckdb

from common import CpuMeter, CpuWindow, job_count, log, named, summarize
from datagen import TABLES

# Build-heavy: an iterative graph kernel over the session-cached FK graph
# (``queries.graph``'s store) and the Arrow pair-dot UDF (Python workers).
HEAVY = (
    "g43_neighborhood_function",
    "l45b_bitext_margin_ann",
)
# Action-heavy: a scan aggregate, an as-of join and a window, built
# without jobs.
LIGHT = (
    "r03_pricing_summary",
    "r37_asof_join",
    "st01_tumbling_window",
)
# Queries whose build fills a session-scoped store on first use.
STORE_BACKED = ("g43_neighborhood_function",)


class Oracle:
    def __init__(self, sf_dir: str, names):
        from ekati_spark.queries import REGISTRY
        from verify_local import table_fingerprint

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.hashes = {}
        for n in names:
            rel = con.sql(REGISTRY[n].oracle)
            cols = [d[0] for d in rel.description]
            self.hashes[n] = (sorted(cols),
                              table_fingerprint(cols, rel.fetchall())[0])
        self._fp = table_fingerprint

    def matches(self, name: str, df, tamper: bool = False) -> bool:
        rows = [tuple(r) for r in df.collect()]
        cols, want = self.hashes[name]
        if tamper:
            want = "tampered"
        return sorted(df.columns) == cols and self._fp(df.columns, rows)[0] == want


def run_query(ctx, name: str, group: str, pass_no: int) -> dict:
    """Build, then act: the two timed halves of one query."""
    from ekati_spark.queries import REGISTRY

    tr = ctx.tracer
    with tr.span("query", query=name, cls=group, pass_no=pass_no):
        t0 = time.perf_counter()
        with tr.span("build", query=name):
            df = REGISTRY[name].fn(ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        with tr.span("catalyst", tag=False) as sp:
            if sp is not None:
                sp.attrs.update(tr.catalyst(df))
        t2 = time.perf_counter()
        with tr.span("action", query=name):
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    return {"name": name, "cls": group, "pass": pass_no, "df": df,
            "build_s": t1 - t0, "action_s": t3 - t2,
            "ms": (t3 - t0 - (t2 - t1)) * 1e3}


def run_pass(ctx, group: str, pass_no: int, oracle: Oracle, rec: dict,
             cpu: CpuWindow | None = None) -> float:
    """One pass over a group: the wall seconds of its queries' build and
    action, without the output checks that follow each query (``cpu``
    also excludes them). The warm-up pass (``pass_no`` -1) is not
    checked."""
    names = HEAVY if group == "heavy" else LIGHT
    wall = 0.0
    for name in names:
        jobs0 = job_count(ctx.spark)
        if cpu is not None:
            cpu.resume()
        op = run_query(ctx, name, group, pass_no)
        if cpu is not None:
            cpu.pause()
        op["jobs"] = job_count(ctx.spark) - jobs0
        wall += op["ms"] / 1e3
        if pass_no < 0:  # warm-up: set-up, not a measured operation
            rec["warm"].append(op)
            continue
        tamper = rec["tamper"]
        if tamper:
            rec["tamper"] = False  # self-test hook: corrupt one expected hash
        try:
            op["ok"] = oracle.matches(name, op.pop("df"), tamper=tamper)
        except Exception as e:  # noqa: BLE001 — a failed op, counted
            op["ok"], op["error"] = False, repr(e)[:300]
        rec["ops"].append(op)
        if not op["ok"]:
            rec["failures"].append({"q": name, "pass": pass_no,
                                    "error": op.get("error", "mismatch")})
    return wall


def run_batch(ctx) -> dict:
    """One warm-up pass over each group (the set-up), then one round of
    light and heavy passes per 10 s of ``ctx.seconds`` (at least one):
    fixed work, so every run measures the same passes."""
    oracle = Oracle(ctx.sf_dir, HEAVY + LIGHT)
    rec = {"ops": [], "failures": [], "warm": [], "tamper": ctx.tamper}
    log("oracle ready")
    for group in ("heavy", "light"):
        run_pass(ctx, group, -1, oracle, rec)
    # the warm-up's timed halves only, without its output checks
    setup_s = sum(o["ms"] for o in rec["warm"]) / 1e3
    log(f"warm-up pass: {setup_s:.1f}s")
    walls = {"heavy": [], "light": []}
    meter = CpuMeter()
    cpus = {g: CpuWindow(meter) for g in walls}
    rounds = max(1, round(ctx.seconds / 10))
    for p in range(rounds):
        # a round: ``light_reps`` light passes (few short queries need more
        # samples for a steady median), then one heavy pass. The order is
        # fixed: light passes run slower right after a heavy pass.
        for group in ["light"] * ctx.light_reps + ["heavy"]:
            walls[group].append(run_pass(ctx, group, p, oracle, rec, cpus[group]))
    passes = {g: len(w) for g, w in walls.items()}
    cold = {o["name"]: o["build_s"] for o in rec["warm"] if o["name"] in STORE_BACKED}
    warm = {n: summarize([o["build_s"] for o in rec["ops"] if o["name"] == n])["p50"]
            for n in STORE_BACKED}
    per_query = {
        n: {"build_s": summarize([o["build_s"] for o in rec["ops"] if o["name"] == n]),
            "action_s": summarize([o["action_s"] for o in rec["ops"]
                                   if o["name"] == n])}
        for n in HEAVY + LIGHT
    }
    return {
        "ops": rec["ops"], "failures": rec["failures"], "setups_s": [setup_s],
        "light": summarize([w * 1e3 for w in walls["light"]]),
        "heavy": summarize([w * 1e3 for w in walls["heavy"]]),
        "throughput": len(rec["ops"]) / sum(walls["heavy"] + walls["light"]),
        "jobs_per_op": {g: sum(o["jobs"] for o in rec["ops"] if o["cls"] == g)
                        / passes[g] for g in walls},
        "detail": {
            "cpu": {g: c.result() for g, c in cpus.items()},
            "own_metrics": {
                **named("batch_iterative_s", None, summarize(walls["heavy"]), "s"),
                **named("batch_scan_s", None, summarize(walls["light"]), "s"),
            },
            "rounds": rounds, "pass_walls_s": walls,
            "cache": {"cold_s": cold, "warm_s": warm},
            "per_query": per_query,
        },
    }

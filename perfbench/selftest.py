"""Self-test of the benchmark at sf0.001, in one Spark session.

    python3 perfbench/selftest.py

Checks that:
- the same seed gives the same request sequence and tables, and another
  seed gives different ones;
- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) prints with its unit, and so does each workload's own
  metric names in the detail record;
- a tampered expected answer is counted as a failed operation, on the
  DSL path and on the batch path;
- the traced batch run shows the workload design: more build jobs per
  query in the heavy (iterative) group than in the light (scan) group.

It also runs a short ``graph_write`` and prints how many of its puts were
lost (reported, not asserted). Exits non-zero on the first failed check.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SMALL = {"sf": 0.001, "setup_reps": 1}
OWN_NAMES = {
    "graph_serve": ("setup_s", "peak_rss_mb", "point_get_p50_ms",
                    "point_get_tail_ms", "traverse_get_p50_ms",
                    "traverse_get_tail_ms", "serve_rps"),
    "batch_pipeline": ("setup_s", "peak_rss_mb", "batch_iterative_s",
                       "batch_scan_s"),
    "graph_write": ("setup_s", "peak_rss_mb", "ingest_fragments_per_s",
                    "put_p50_ms", "rw_get_p50_ms", "rw_get_tail_ms"),
}


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_names(workload: str, result: dict, detail: dict, trace: bool) -> None:
    want = run.PER_LAYER if trace else run.END_TO_END
    got = result["metrics"]
    check(set(got) == set(want) and all(
        got[k]["unit"] == u and isinstance(got[k]["value"], (int, float))
        for k, u in want.items()),
        f"{workload} trace={int(trace)}: every metric printed with its unit")
    named = detail["metrics"]
    check(all(k in named and named[k]["unit"] for k in OWN_NAMES[workload]),
          f"{workload}: the workload's own metric names printed with units")


def check_determinism() -> None:
    import datagen
    from serve import request_stream

    sizes = datagen.table_sizes(0.01)

    def first(seed, client=0):
        return [r[2] for cls in ("light", "heavy") for r in itertools.islice(
            request_stream(seed, client, sizes, cls), 10)]

    check(first(1) == first(1), "same seed, same request sequence")
    check(first(1) != first(2), "different seed, different request sequence")
    a, b, c = (datagen.generate(s, 0.001) for s in (1, 1, 2))
    check(all(a[t].equals(b[t]) for t in a), "same seed, same tables")
    check(not a["orders"].equals(c["orders"]), "different seed, different tables")


def main() -> int:
    run.setup_paths()
    check_determinism()
    from common import box, driver_mem, start_session, stop_session

    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    b = box()
    spark, _ = start_session(work, b["cores"], driver_mem(b["mem_gib"]))
    try:
        def measure(workload, trace=False, tamper=False, seconds=3, **kw):
            return run.measure(workload, 1, seconds, trace, tamper=tamper,
                               spark=spark, work=os.path.join(work, workload),
                               **{**SMALL, **kw})

        res, det = measure("graph_serve")
        check(res["correct"] and res["attempted"] > 0 and res["failed"] == 0,
              f"graph_serve: {res['attempted']} ops, all answers correct")
        check_names("graph_serve", res, det, False)
        res, det = measure("graph_serve", trace=True)
        check_names("graph_serve", res, det, True)
        res, _ = measure("graph_serve", tamper=True)
        check(res["failed"] >= 1 and not res["correct"],
              "graph_serve: a tampered expected answer is a failed op")

        res, det = measure("batch_pipeline", trace=True, seconds=0)
        check(res["correct"], f"batch_pipeline: {res['attempted']} outputs match "
              "their oracles")
        check_names("batch_pipeline", res, det, True)
        m = res["metrics"]
        check(m["build.jobs.heavy"]["value"] > m["build.jobs.light"]["value"],
              "batch_pipeline: heavy group fires more build jobs per query "
              f"({m['build.jobs.heavy']['value']} vs "
              f"{m['build.jobs.light']['value']})")
        res, det = measure("batch_pipeline", tamper=True, seconds=0)
        check(res["failed"] >= 1 and not res["correct"],
              "batch_pipeline: a tampered expected answer is a failed op")
        check_names("batch_pipeline", res, det, False)

        res, det = measure("graph_write", sf=None, warm_nodes=500,
                           ingest_nodes=2_000, ingest_reps=1, cycles=2)
        check_names("graph_write", res, det, False)
        print(f"info graph_write: {res['failed']} of {res['attempted']} ops "
              f"failed, {det['workload_metrics']['lost_puts']} puts lost")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Profile registry queries: one layer record per run.

For each query, one cold run (session-cached stores and indexes are
built there) and then N warm runs, each through
``ekati_spark.metrics.profile``: the frame is built under one Spark job
tag and written to the noop sink under another, so every record splits
wall time, jobs, stages, executor time, shuffle, spill and peak memory
into its build and action layers, and counts the plan's Exchanges and
joins. Each record also carries ``stores``: per session-store slot kind
the run missed, its misses and build seconds (``session_store.stats()``
before and after), so a cold record shows which part of its build was a
store build. Prints one JSON line per run, then one summary line: the
min and median of every numeric field over the warm runs. The session is
warmed first by ``bench.warm_up``, as ``bench.py`` warms it, which
builds the FK graph store; the first line records that warm-up.

Usage: python tools/qprofile.py [--n N] [--plans DIR] [sf_dir] [query...]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``. With no query named,
the ``bench.HEADLINE`` set is profiled. ``--plans DIR`` also writes
``DIR/<query>.txt``, the last run's ``explain("formatted")``.

The tool is not named ``profile.py``: ``perfbench/run.py`` puts
``tools/`` on ``sys.path``, where a ``profile`` module would shadow the
standard library's, and ``import pyspark`` (through ``cProfile``) fails.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time


def _summary(runs: list[dict]) -> dict:
    keys = [k for k, v in runs[0].items() if isinstance(v, (int, float))]
    return {
        "min": {k: min(r[k] for r in runs) for k in keys},
        "median": {k: statistics.median(r[k] for r in runs) for k in keys},
    }


def _store_delta(before: dict, after: dict) -> dict:
    """Per store slot kind that missed between two ``stats()`` reads:
    the misses and the seconds spent building."""
    out = {}
    for kind, c in after.items():
        b = before.get(kind, {"misses": 0, "build_s": 0.0})
        if c["misses"] > b["misses"]:
            out[kind] = {"misses": c["misses"] - b["misses"],
                         "build_s": c["build_s"] - b["build_s"]}
    return out


def _rounded(v):
    if isinstance(v, dict):
        return {k: _rounded(x) for k, x in v.items()}
    return round(v, 4) if isinstance(v, float) else v


def _line(obj: dict) -> str:
    return json.dumps(_rounded(obj))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--n", type=int, default=3, help="warm runs per query")
    ap.add_argument("--plans", help="write <query>.txt plans to this dir")
    ap.add_argument("args", nargs="*", metavar="[sf_dir] query")
    opts = ap.parse_args()
    names = opts.args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if names and os.path.isdir(names[0]):
        sf_dir, names = names[0], names[1:]
    if sf_dir is None:
        ap.error("no sf_dir given and SPARK_GRAFT_SF_DIR is unset")

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench
    import ekati_spark.queries as Q
    from ekati_spark import session_store
    from ekati_spark.metrics import profile
    from ekati_spark.session import get_spark

    names = names or bench.HEADLINE
    unknown = [n for n in names if n not in Q.REGISTRY]
    if unknown:
        ap.error(f"not registered: {' '.join(unknown)}")
    if opts.plans:
        os.makedirs(opts.plans, exist_ok=True)

    spark = get_spark("ekati_profile")
    before, t0 = session_store.stats(), time.perf_counter()
    bench.warm_up(spark, sf_dir)
    print(_line({"label": "warm_up", "s": time.perf_counter() - t0,
                 "stores": _store_delta(before, session_store.stats())}),
          flush=True)
    for name in names:
        last = {}

        def build():
            last["df"] = Q.REGISTRY[name].fn(spark, sf_dir)
            return last["df"]

        runs = []
        for i in range(opts.n + 1):
            before = session_store.stats()
            rec = profile(spark, build, name)
            rec["stores"] = _store_delta(before, session_store.stats())
            print(_line({"run": f"warm{i}" if i else "cold", **rec}), flush=True)
            runs.append(rec)
        warm = runs[1:] or runs
        print(_line({"label": name, "runs": len(warm), **_summary(warm)}),
              flush=True)
        if opts.plans:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                last["df"].explain("formatted")
            with open(os.path.join(opts.plans, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())


if __name__ == "__main__":
    main()

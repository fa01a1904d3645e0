"""Full-registry shuffle-partition invariance sweep.

Runs EVERY registered query twice in one session — under
``spark.sql.shuffle.partitions`` 3 and 17 (coprime, different merge
trees; AQE on, as in production) — and compares order-insensitive
sorted-row sha256 fingerprints. A mismatch means the query's result
depends on reducer count and would not transfer from local[32] to a
1000-executor cluster. tests/test_partition_invariance.py pins one
representative per hazard class in CI; this sweep is the run-once
full-coverage audit (results recorded in SCALE.md).

Usage: python tools/invariance_sweep.py [sf_dir] [prefix...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time


def canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "\N{NULL}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(df) -> str:
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "\x1f".join(canon(r[i]) for i in order)
        for r in (tuple(x) for x in df.collect())
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefixes = tuple(sys.argv[2:]) or ("",)

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from ekati_spark.session import get_spark
    import ekati_spark.queries as Q

    spark = get_spark("invariance_sweep", cores=16)
    failures, n = [], 0
    for name, spec in sorted(Q.REGISTRY.items()):
        if not any(name.startswith(p) for p in prefixes):
            continue
        t0 = time.time()
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            fp3 = fingerprint(spec.fn(spark, sf_dir))
            spark.conf.set("spark.sql.shuffle.partitions", "17")
            fp17 = fingerprint(spec.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:120]}")
            continue
        n += 1
        if fp3 != fp17:
            failures.append(name)
            print(f"DIFF {name}: n=3 {fp3[:12]} != n=17 {fp17[:12]}")
        else:
            print(f"ok   {name} ({time.time()-t0:.1f}s)")
    print(f"\n{n - len(failures)} invariant, {len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

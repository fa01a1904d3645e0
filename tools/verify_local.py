"""Local differential harness mirroring the driver's correctness gate.

Runs every ``queries()`` entry and its DuckDB oracle at a given sf dir,
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values canonicalized). Exits
non-zero and prints per-query diagnostics on mismatch.

Usage: python tools/verify_local.py [sf_dir] [query_prefix...]
       python tools/verify_local.py --json OUT.json [sf_dir] [prefix...]

``--json`` additionally writes the run as a driver-shaped artifact
(same per-query keys as CORRECTNESS_r{N}.json: rows_match /
schema_match / hash_match / spark_rows / oracle_rows / err) so the
"full registry green" claim is auditable without re-running Spark —
the committed LOCAL_CORRECTNESS_r{N}.json files come from this.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    import datetime
    import math

    if v is None:
        return "\N{NULL}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest(), canon_rows


def main():
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    prefixes = tuple(argv[1:]) or ("",)

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry_mod
    from ekati_spark.session import get_spark

    spark = get_spark(cores=16)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    report: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        if not any(name.startswith(p) for p in prefixes):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": "spark error",
            }
            continue
        if name not in oracles:
            rows_only += 1
            print(f"ok?  {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            report[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = ddf.fetchall()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": "duckdb error",
            }
            continue
        problems = []
        schema_ok = sorted(scols) == sorted(dcols)
        rows_ok = len(srows) == len(drows)
        hash_ok = False
        if not schema_ok:
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not rows_ok:
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh, scanon = table_fingerprint(scols, srows)
            dh, dcanon = table_fingerprint(dcols, drows)
            hash_ok = sh == dh
            if not hash_ok:
                diffs = [
                    (a, b)
                    for a, b in zip(scanon, dcanon)
                    if a != b
                ][:3]
                problems.append(f"hash mismatch; first diffs: {diffs}")
        report[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok,
            "hash_match": hash_ok, "spark_rows": len(srows),
            "oracle_rows": len(drows), "err": None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            passed += 1
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(
        f"\n{passed} passed, {rows_only} rows-only, {len(failures)} failed"
        + (f": {failures}" if failures else "")
    )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "passed": passed,
                    "rows_only": rows_only,
                    "failed": len(failures),
                    "queries": report,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out} ({len(report)} queries)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""Interactive REPL for the query language — the Spark analog of the
reference's CLI (``src/cli/Program.cs:206-229``: read line → parse →
execute → print with latest-wins grouping, ``Printers.cs:139-169``).

Usage::

    python -m ekati_spark.cli            # empty graph
    python -m ekati_spark.cli <dir>      # serve the FK graph of a
                                         # testdata sf dir

Commands: the full language (``put``, ``get`` incl. ``-h``, ``load
graphml|nt``) plus ``:quit`` / ``:stats``.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame


def _print_nodes(df: DataFrame, limit: int = 50) -> None:
    """Group attribute rows into node documents and pretty-print."""
    rows = df.limit(10_000).collect()
    docs: dict[tuple, list] = {}
    for r in rows:
        remote = getattr(r, "remote", "") or ""
        docs.setdefault((remote, r.node_id), []).append(r)
    for remote, nid in sorted(docs)[:limit]:
        head = f'"{remote}" "{nid}"' if remote else f'"{nid}"'
        print(f"{head} {{")
        for r in sorted(docs[(remote, nid)], key=lambda r: (r.key, r.ts)):
            if r.dtype == "ref":
                val = f'^"{r.ref}"'
            elif r.dtype == "str":
                val = f'"{r.str}"'
            elif r.dtype == "i64":
                val = str(r.i64)
            elif r.dtype == "dbl":
                val = str(r.dbl)
            else:
                val = str(r.bool)
            print(f'    "{r.key}": {val}')
        print("}")
    n = len(docs)
    if n > limit:
        print(f"… {n - limit} more nodes")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.session import get_spark

    def show_progress(p: dict) -> None:
        # the reference server streams >=1 s progress frames during URL
        # ingest; the REPL analog is a stderr line per frame
        total = f"/{p['total_bytes']}" if p.get("total_bytes") else ""
        state = "done" if p.get("done") else "…"
        print(
            f"  ingest {p['bytes_read']}{total} bytes "
            f"({p['elapsed_s']:.1f}s) {state}",
            file=sys.stderr,
        )

    spark = get_spark("ekati_cli")
    if argv:
        # the registry's fk_graph store: edges persisted once, laid out
        # on dst, so a traversal neither re-derives nor re-shuffles them
        from ekati_spark.queries.graph import _graph

        engine = QueryEngine(
            spark, _graph(spark, argv[0]), on_progress=show_progress
        )
        print(f"loaded FK graph from {argv[0]}")
    else:
        engine = QueryEngine(spark, on_progress=show_progress)
    print(
        "ekati_spark REPL — :quit to exit, :stats for counts, "
        ":plugins to list user operators, :explain <query> for the "
        "physical plan"
    )
    while True:
        try:
            line = input("wat> ").strip()
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if not line:
            continue
        if line in (":quit", ":q", "exit"):
            return 0
        if line == ":stats":
            engine.graph.stats().show(truncate=False)
            continue
        if line.startswith(":explain "):
            # Compile-only: show the Catalyst physical plan a `get`
            # pipeline lowers to (no collect) — the plan introspection
            # the reference's CLI never had. Restricted to `get`: put/
            # load/remove execute side effects on compile.
            q = line[len(":explain "):].strip()
            if not q.startswith("get"):
                print("error: :explain takes a get pipeline")
                continue
            try:
                engine.execute(q).explain("formatted")
            except Exception as e:  # noqa: BLE001 — REPL surfaces everything
                print(f"error: {e}")
            continue
        if line == ":plugins":
            from ekati_spark.plugins import list_plugins

            rows = list_plugins()
            if not rows:
                print("no plugins registered (ekati_spark.plugins)")
            for name, kind, doc in rows:
                print(f"{name:24s} {kind:10s} {doc}")
            continue
        try:
            out = engine.execute(line)
            if line.startswith("get"):
                _print_nodes(out)
            else:
                print(f"ok ({out.count()} rows)")
        except Exception as e:  # noqa: BLE001 — REPL surfaces everything
            print(f"error: {e}")


if __name__ == "__main__":
    sys.exit(main())

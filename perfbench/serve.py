"""The two DSL workloads: ``graph_serve`` (gets only) and ``graph_write``
(puts beside gets). Both drive ``EkatiServer`` with ``POST /query`` from
two closed-loop client threads of this process, and check every response
against an answer DuckDB computes independently."""

from __future__ import annotations

import http.client
import itertools
import json
import os
import shutil
import threading
import time

import duckdb
import numpy as np

from common import (CpuMeter, CpuWindow, dir_stats, job_count, log, named,
                    summarize)
from spans import Tracer

CLIENTS = 2
TRAVERSALS = ("one_hop", "two_hop", "follow_filter_fields", "follow_skip_limit")
# traversals a client sends as a unit: with the clients on opposite
# halves of the shape cycle, whole halves send every shape equally often
CHUNK = len(TRAVERSALS) // 2


def scaled(per_10s: int, seconds: float) -> int:
    """Ops per client for a run of ``seconds``, given the count for 10 s."""
    return max(1, round(per_10s * seconds / 10))


# -- program seam ---------------------------------------------------------


def make_engine_class():
    """A ``QueryEngine`` whose ``execute`` opens the benchmark's spans
    around ``parse``, ``run_get``/``run_put`` and the plan of the result.
    With tracing off it is the parent's ``execute`` unchanged."""
    from ekati_spark.graph import ir
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.graph.parser import parse

    class TracedEngine(QueryEngine):
        tracer: Tracer | None = None

        def execute(self, text: str):
            tr = self.tracer
            if tr is None or not tr.enabled:
                return super().execute(text)
            req = tr.open_request_tag("server.execute", text=text)
            with tr.span("parse", tag=False, parent=req.sid):
                cmd = parse(text)
            if isinstance(cmd, ir.GetQuery):
                with tr.span("build", parent=req.sid, op="get"):
                    df = self.run_get(cmd)
            elif isinstance(cmd, ir.PutCommand):
                with tr.span("build", parent=req.sid, op="put"):
                    df = self.run_put(cmd)
                req.attrs["props_plan_nodes"] = plan_nodes(self.graph.props)
            else:
                return super().execute(text)
            with tr.span("catalyst", tag=False, parent=req.sid) as sp:
                sp.attrs.update(tr.catalyst(df))
            req.end = time.time()
            return df

    return TracedEngine


def plan_nodes(df) -> int:
    """Logical-plan node count of ``df`` (one tree-string line per node)."""
    tree = df._jdf.queryExecution().logical().treeString()
    return len([ln for ln in tree.splitlines() if ln.strip()])


class Client:
    """One closed-loop client: sends a request, waits for the reply."""

    def __init__(self, port: int):
        self.port = port

    def query(self, text: str) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            body = json.dumps({"q": text})
            conn.request("POST", "/query", body,
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            payload = json.loads(resp.read() or b"{}")
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status}: {payload}")
            return payload
        finally:
            conn.close()


def _norm(v):
    """Decimals print differently in Spark and DuckDB; compare them as
    floats. Any other string compares as itself."""
    if isinstance(v, str):
        try:
            return repr(float(v))
        except ValueError:
            return v
    return v


def canon_rows(rows) -> list[tuple]:
    """Sorted (node_id, key, value) of each attribute row; ``rows`` are
    response dicts or already such triples."""
    out = []
    for r in rows:
        if isinstance(r, dict):
            v = r["ref"] if r.get("dtype") == "ref" else r.get("str")
            r = (r["node_id"], r["key"], v)
        node, key, v = r
        out.append((node, key, _norm(v)))
    return sorted(out)


class Recorder:
    """Per-op latencies and failures, shared by the client threads."""

    def __init__(self, tamper: bool = False):
        self.lock = threading.Lock()
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.tamper = tamper

    def check(self, op: dict, got, expected) -> bool:
        exp = list(expected)
        with self.lock:
            if self.tamper:
                # self-test hook: corrupt the first expected answer
                exp.append(("tampered", "key", "value"))
                self.tamper = False
        ok = canon_rows(got) == canon_rows(exp)
        op["ok"] = ok
        with self.lock:
            self.ops.append(op)
            if not ok:
                self.failures.append({"q": op["q"], "got": len(got),
                                      "expected": len(exp)})
        return ok

    def error(self, op: dict, exc: Exception) -> None:
        op["ok"] = False
        with self.lock:
            self.ops.append(op)
            self.failures.append({"q": op["q"], "error": repr(exc)[:300]})


def timed_query(client: Client, tracer: Tracer, op: dict, text: str):
    """POST one request; the client-side wall time is the op's latency."""
    op["q"] = text
    with tracer.span("request", tag=False, cls=op["cls"], kind=op["kind"],
                     text=text):
        t0 = time.perf_counter()
        payload = client.query(text)
        op["ms"] = (time.perf_counter() - t0) * 1e3
    return payload


# -- graph_serve ----------------------------------------------------------


def point_request(rng, sizes: dict) -> tuple[str, str, str, dict]:
    """A point get of 1-3 exact ids. Returns (class, kind, text, spec)."""
    ids = []
    for _ in range(int(rng.integers(1, 4))):
        table = ("customer", "order", "supplier")[int(rng.integers(0, 3))]
        n = sizes["orders" if table == "order" else table]
        ids.append(f"{table}:{int(rng.integers(0, n))}")
    return "light", "point", "get " + ", ".join(f'"{x}"' for x in ids), {"ids": ids}


def traversal_request(rng, sizes: dict, kind: str) -> tuple[str, str, str, dict]:
    """A traversal of shape ``kind`` from a random customer."""
    c = f"customer:{int(rng.integers(0, sizes['customer']))}"
    text = {
        "one_hop": f'get "{c}" |> follow "placed" 1',
        "two_hop": f'get "{c}" |> follow "in_nation" 1 |> follow "in_region" 1',
        "follow_filter_fields": (
            f'get "{c}" |> follow "placed" 1 |> filter "orderstatus" == "F"'
            ' |> fields "totalprice":*'
        ),
        "follow_skip_limit": f'get "{c}" |> follow "placed" 1 |> skip 1 |> take 2',
    }[kind]
    return "heavy", kind, text, {"c": c}


def request_stream(seed: int, client: int, sizes: dict, cls: str):
    """A client's requests of one class, a pure function of (seed, client,
    class): point gets, or traversals cycling through the shapes, client 1
    starting half a cycle after client 0."""
    rng = np.random.default_rng([seed, client, cls == "heavy"])
    i = client * len(TRAVERSALS) // 2
    while True:
        if cls == "light":
            yield point_request(rng, sizes)
        else:
            yield traversal_request(rng, sizes, TRAVERSALS[i % len(TRAVERSALS)])
        i += 1


class ServeOracle:
    """The FK graph's attribute rows and edges, derived in DuckDB straight
    from the generated tables (independently of the program's
    ``from_relational``), and the expected answer of each request."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        t = {n: f"read_parquet('{sf_dir}/{n}.parquet')" for n in (
            "customer", "orders", "supplier", "nation", "region")}

        def props(table, prefix, key_col, cols):
            return " UNION ALL ".join(
                f"SELECT '{prefix}:' || {key_col} AS node_id, '{k}' AS key, "
                f"CAST({v} AS VARCHAR) AS val FROM {table}"
                for k, v in cols.items()
            )

        self.con.sql("CREATE TABLE props AS " + " UNION ALL ".join([
            props(t["customer"], "customer", "c_custkey", {
                "name": "c_name", "mktsegment": "c_mktsegment",
                "acctbal": "c_acctbal", "labelV": "'customer'"}),
            props(t["orders"], "order", "o_orderkey", {
                "orderstatus": "o_orderstatus",
                "orderpriority": "o_orderpriority",
                "totalprice": "o_totalprice", "labelV": "'order'"}),
            props(t["supplier"], "supplier", "s_suppkey", {
                "name": "s_name", "labelV": "'supplier'"}),
            props(t["nation"], "nation", "n_nationkey", {
                "name": "n_name", "labelV": "'nation'"}),
            props(t["region"], "region", "r_regionkey", {
                "name": "r_name", "labelV": "'region'"}),
        ]))
        self.con.sql(f"""CREATE TABLE edges AS
            SELECT 'customer:' || o_custkey AS src, 'placed' AS label,
                   'order:' || o_orderkey AS dst FROM {t['orders']}
            UNION ALL SELECT 'customer:' || c_custkey, 'in_nation',
                   'nation:' || c_nationkey FROM {t['customer']}
            UNION ALL SELECT 'nation:' || n_nationkey, 'in_region',
                   'region:' || n_regionkey FROM {t['nation']}""")
        self.user_bytes = self.con.sql(
            "SELECT sum(length(node_id) + length(key) + length(val)) FROM props"
        ).fetchone()[0]
        self.lock = threading.Lock()

    def _rows(self, sql: str, params=()) -> list[tuple]:
        with self.lock:
            return self.con.execute(sql, list(params)).fetchall()

    def expected(self, kind: str, spec: dict) -> list[tuple]:
        if kind == "point":
            ids = spec["ids"]
            marks = ", ".join("?" for _ in ids)
            return self._rows(
                f"SELECT node_id, key, val FROM props WHERE node_id IN ({marks})",
                ids)
        c = spec["c"]
        orders = ("SELECT DISTINCT dst AS node_id FROM edges "
                  "WHERE src = ? AND label = 'placed'")
        if kind == "one_hop":
            nodes = orders
        elif kind == "two_hop":
            nodes = ("SELECT DISTINCT r.dst AS node_id FROM edges n JOIN edges r"
                     " ON r.src = n.dst AND r.label = 'in_region'"
                     " WHERE n.src = ? AND n.label = 'in_nation'")
        elif kind == "follow_filter_fields":
            return self._rows(
                "SELECT p.node_id, p.key, p.val FROM props p WHERE p.key = "
                "'totalprice' AND p.node_id IN (" + orders + ") AND p.node_id "
                "IN (SELECT node_id FROM props WHERE key = 'orderstatus' "
                "AND val = 'F')", [c])
        else:  # follow_skip_limit: canonical node_id order
            nodes = orders + " ORDER BY node_id OFFSET 1 LIMIT 2"
        return self._rows(
            "SELECT node_id, key, val FROM props WHERE node_id IN "
            f"(SELECT node_id FROM ({nodes}))", [c])


def build_serve_layout(spark, props, path: str, n_buckets: int):
    """Write the FK graph's props with ``write_bucketed_props`` and open
    them with ``from_bucketed``. Returns (graph, write seconds)."""
    from ekati_spark.graph.model import PropertyGraph
    from ekati_spark.graph.storage import write_bucketed_props

    t0 = time.perf_counter()
    write_bucketed_props(props, path, n_buckets)
    write_s = time.perf_counter() - t0
    return PropertyGraph.from_bucketed(spark, path), write_s


def warm_up(port: int, oracle, reqs) -> None:
    """Send ``reqs`` from two threads; raise if an answer is wrong."""
    errors = []

    def send(part):
        client = Client(port)
        for cls, kind, text, spec in part:
            try:
                rows = client.query(text)["rows"]
                if canon_rows(rows) != canon_rows(oracle.expected(kind, spec)):
                    errors.append(f"wrong answer for {text!r}")
            except Exception as e:  # noqa: BLE001 — re-raised below
                errors.append(f"{text!r}: {e!r}")

    threads = [threading.Thread(target=send, args=(reqs[c::CLIENTS],))
               for c in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise RuntimeError(f"warm-up failed: {errors}")


def run_serve(ctx) -> dict:
    """graph_serve: set up (layout build + warm-up, repeated), then a
    closed loop of two clients: a phase of point gets, then a phase of
    traversals, their counts fixed by ``ctx.seconds``."""
    from ekati_spark.server import EkatiServer
    from datagen import table_sizes

    spark, tracer = ctx.spark, ctx.tracer
    sizes = table_sizes(ctx.sf)
    oracle = ServeOracle(ctx.sf_dir)
    log("oracle ready")
    Engine = make_engine_class()
    Engine.tracer = tracer
    server = EkatiServer(Engine(spark)).start()
    rec = Recorder(tamper=ctx.tamper)
    setups, writes = [], []
    graph = None
    try:
        # set-up: the FK graph (props and edges, the edges persisted in
        # memory as the registry's ``_graph`` does), its bucketed layout
        # and one checked warm-up request of every shape; then the layout
        # build again, twice more
        from ekati_spark.graph.model import PropertyGraph

        warm_rng = np.random.default_rng([ctx.seed, 99])
        for rep in range(ctx.setup_reps):
            path = os.path.join(ctx.work, f"serve_props_{rep}")
            t0 = time.perf_counter()
            if graph is None:
                fk = PropertyGraph.from_relational(spark, ctx.sf_dir)
                edges = fk.edges.persist()
                edges.count()
            graph, write_s = build_serve_layout(spark, fk.props, path,
                                                ctx.n_buckets)
            graph.edges = edges
            server.engine = Engine(spark, graph)
            if rep == 0:
                warm_up(server.port, oracle, [point_request(warm_rng, sizes)] + [
                    traversal_request(warm_rng, sizes, k) for k in TRAVERSALS])
            setups.append(time.perf_counter() - t0)
            log(f"set-up {rep}: {setups[-1]:.1f}s")
            writes.append((write_s, *dir_stats(path)))
        log("measuring")

        def loop(cid: int, cls: str, n_ops: int):
            client = Client(server.port)
            for _, kind, text, spec in itertools.islice(
                    request_stream(ctx.seed, cid, sizes, cls), n_ops):
                op = {"cls": cls, "kind": kind, "client": cid}
                try:
                    rows = timed_query(client, tracer, op, text)["rows"]
                except Exception as e:  # noqa: BLE001 — a failed op, counted
                    rec.error(op, e)
                    continue
                rec.check(op, rows, oracle.expected(kind, spec))

        # one phase per class, each class measured alone (latency and the
        # CPU the process tree used). The work is fixed by ``--seconds``,
        # so every run measures the same ops at the same point of the
        # JVM's warm-up; traversals go in whole halves of the shape cycle.
        phases, meter = {}, CpuMeter()
        for cls, per_client in (
                ("light", scaled(ctx.light_ops, ctx.seconds)),
                ("heavy", scaled(ctx.heavy_ops, ctx.seconds)
                 // CHUNK * CHUNK or CHUNK)):
            t0, jobs0 = time.perf_counter(), job_count(spark)
            cpu = CpuWindow(meter).resume()
            threads = [threading.Thread(target=loop, args=(c, cls, per_client))
                       for c in range(CLIENTS)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            phases[cls] = {"s": time.perf_counter() - t0,
                           **cpu.pause().result(),
                           "jobs": job_count(spark) - jobs0,
                           "ops": sum(1 for o in rec.ops if o["cls"] == cls)}
    finally:
        server.stop()
        if graph is not None:
            graph.edges.unpersist()
    ok_ops = [o for o in rec.ops if o.get("ok")]
    light = [o["ms"] for o in ok_ops if o["cls"] == "light"]
    heavy = [o["ms"] for o in ok_ops if o["cls"] == "heavy"]
    elapsed = sum(ph["s"] for ph in phases.values())
    last_write = writes[-1]
    return {
        "ops": rec.ops, "failures": rec.failures, "setups_s": setups,
        "light": summarize(light), "heavy": summarize(heavy),
        "throughput": len(rec.ops) / elapsed,
        "jobs_per_op": {c: ph["jobs"] / max(1, ph["ops"]) for c, ph in phases.items()},
        "detail": {
            "phases": phases,
            "own_metrics": {
                **named("point_get_p50_ms", "point_get_tail_ms", summarize(light)),
                **named("traverse_get_p50_ms", "traverse_get_tail_ms",
                        summarize(heavy)),
                "serve_rps": {"value": len(rec.ops) / elapsed, "unit": "1/s",
                              "n": len(rec.ops)},
            },
            "by_kind": {k: summarize([o["ms"] for o in ok_ops if o["kind"] == k])
                        for k in ("point",) + TRAVERSALS},
            "storage": {
                "write_s": [w[0] for w in writes], "files_written": last_write[1],
                "bytes_written": last_write[2],
                "write_amp": last_write[2] / oracle.user_bytes,
            },
        },
    }


# -- graph_write ----------------------------------------------------------


def ingest(spark, tracer, n_nodes: int, path: str, n_buckets: int) -> dict:
    """Bulk-ingest reference-shaped nodes through ``write_bucketed_props``."""
    from ekati_spark.graph.storage import write_bucketed_props
    from ingest_bench import FRAGMENTS_PER_NODE, generate_props

    props = generate_props(spark, n_nodes)
    with tracer.span("ingest", nodes=n_nodes):
        t0 = time.perf_counter()
        write_bucketed_props(props, path, n_buckets)
        wall = time.perf_counter() - t0
    files, size = dir_stats(path)
    frags = n_nodes * FRAGMENTS_PER_NODE
    return {"wall_s": wall, "fragments": frags, "fragments_per_s": frags / wall,
            "files_written": files, "bytes_written": size}


class WriteOracle:
    """Expected rows of an ingested node, read by DuckDB from the layout
    parquet files, with the generator's md5 payloads re-derived."""

    def __init__(self, path: str):
        self.con = duckdb.connect()
        self.con.sql(
            "CREATE TABLE props AS SELECT node_id, key, dtype, str, ref FROM "
            f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)")
        bad = self.con.sql(
            "SELECT count(*) FROM props WHERE dtype = 'str' AND str <> "
            "md5(substr(node_id, 7) || '#' || substr(key, 5))").fetchone()[0]
        if bad:
            raise RuntimeError(f"{bad} ingested payloads differ from md5(id#i)")
        self.user_bytes = self.con.sql(
            "SELECT sum(length(node_id) + length(key) + coalesce(length(str), 0)"
            " + coalesce(length(ref), 0)) FROM props").fetchone()[0]
        self.lock = threading.Lock()

    def node(self, node_id: str) -> list[tuple]:
        with self.lock:
            return self.con.execute(
                "SELECT node_id, key, CASE WHEN dtype = 'ref' THEN ref ELSE str "
                "END FROM props WHERE node_id = ?", [node_id]).fetchall()


def write_cycle(client, tracer, rec, oracle, rng, prefix: str, i: int,
                n_nodes: int, cycle: int) -> None:
    """Put a new node with a ``follows`` edge to an ingested node, get it
    back, then follow one hop from it. Each op is checked."""
    node = f"{prefix}:{i}"
    target = f"bench:{int(rng.integers(0, n_nodes))}"
    name = "".join(chr(97 + int(x)) for x in rng.integers(0, 26, 12))
    steps = [
        ("light", "put", f'put "{node}" {{"name": "{name}", "follows": ^"{target}"}}',
         None),
        ("heavy", "get", f'get "{node}"',
         [(node, "name", name), (node, "follows", target)]),
        ("heavy", "follow", f'get "{node}" |> follow "follows" 1', None),
    ]
    for cls, kind, text, expected in steps:
        op = {"cls": cls, "kind": kind, "cycle": cycle}
        try:
            payload = timed_query(client, tracer, op, text)
        except Exception as e:  # noqa: BLE001 — a failed op, counted
            rec.error(op, e)
            continue
        if kind == "put":
            rec.check(op, [(node, "put_rows", str(payload.get("ok")))],
                      [(node, "put_rows", "2")])
        elif kind == "get":
            rec.check(op, payload["rows"], expected)
        else:
            rec.check(op, payload["rows"], oracle.node(target))


def run_write(ctx) -> dict:
    """graph_write: set up (small ingest + open + one checked cycle,
    repeated), then (a) bulk ingest, (b) open with ``from_bucketed``,
    (c) a fixed number of put/get/follow cycles per client."""
    from ekati_spark.graph.model import PropertyGraph
    from ekati_spark.server import EkatiServer

    spark, tracer = ctx.spark, ctx.tracer
    Engine = make_engine_class()
    Engine.tracer = tracer
    server = EkatiServer(Engine(spark)).start()
    rec = Recorder(tamper=ctx.tamper)
    setups = []
    try:
        for rep in range(ctx.setup_reps):
            path = os.path.join(ctx.work, f"write_warm_{rep}")
            t0 = time.perf_counter()
            ingest(spark, Tracer(spark, False), ctx.warm_nodes, path, ctx.n_buckets)
            server.engine = Engine(spark, PropertyGraph.from_bucketed(spark, path))
            warm_rec = Recorder()
            write_cycle(Client(server.port), Tracer(spark, False), warm_rec,
                        WriteOracle(path), np.random.default_rng([ctx.seed, 99, rep]),
                        f"warm{rep}", 0, ctx.warm_nodes, 0)
            setups.append(time.perf_counter() - t0)
            if warm_rec.failures:
                raise RuntimeError(f"warm-up cycle failed: {warm_rec.failures}")
            shutil.rmtree(path, ignore_errors=True)
        # (a) bulk ingest, repeated; the last layout is the one served
        ingests = []
        for rep in range(ctx.ingest_reps):
            path = os.path.join(ctx.work, f"write_props_{rep}")
            ingests.append(ingest(spark, tracer, ctx.ingest_nodes, path,
                                  ctx.n_buckets))
        oracle = WriteOracle(path)
        # (b) open, (c) closed loop on a fresh engine
        with tracer.span("open"):
            t0 = time.perf_counter()
            server.engine = Engine(spark, PropertyGraph.from_bucketed(spark, path))
            open_s = time.perf_counter() - t0

        def loop(cid: int):
            rng = np.random.default_rng([ctx.seed, cid])
            client = Client(server.port)
            for i in range(ctx.cycles):
                write_cycle(client, tracer, rec, oracle, rng,
                            f"w{ctx.seed}c{cid}", i, ctx.ingest_nodes, i)

        t_start, jobs0 = time.perf_counter(), job_count(spark)
        cpu = CpuWindow().resume()
        threads = [threading.Thread(target=loop, args=(c,)) for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        loop_s = time.perf_counter() - t_start
        cpu = cpu.pause().result()
        jobs = job_count(spark) - jobs0
    finally:
        server.stop()
    ok_ops = [o for o in rec.ops if o.get("ok")]
    puts = [o["ms"] for o in ok_ops if o["kind"] == "put"]
    reads = [o["ms"] for o in ok_ops if o["cls"] == "heavy"]
    rates = sorted(x["fragments_per_s"] for x in ingests)
    rate = rates[len(rates) // 2]
    return {
        "ops": rec.ops, "failures": rec.failures, "setups_s": setups,
        "light": summarize(puts), "heavy": summarize(reads),
        "throughput": rate,
        # puts and reads interleave, so the loop's jobs are shared per op
        "jobs_per_op": dict.fromkeys(("light", "heavy"), jobs / max(1, len(rec.ops))),
        "detail": {
            "cpu": cpu,
            "own_metrics": {
                "ingest_fragments_per_s": {"value": rate, "unit": "1/s",
                                           "n": len(ingests)},
                **named("put_p50_ms", None, summarize(puts)),
                **named("rw_get_p50_ms", "rw_get_tail_ms", summarize(
                    [o["ms"] for o in ok_ops if o["kind"] == "get"])),
                **named("rw_follow_p50_ms", None, summarize(
                    [o["ms"] for o in ok_ops if o["kind"] == "follow"])),
            },
            "ingests": ingests, "open_s": open_s, "loop_s": loop_s,
            "get_ms_by_cycle": {
                c: [round(o["ms"], 1) for o in ok_ops
                    if o["kind"] == "get" and o["cycle"] == c]
                for c in range(ctx.cycles)},
            "lost_puts": sum(1 for o in rec.ops
                             if o["kind"] == "get" and not o.get("ok")),
            "storage": {
                "write_s": [x["wall_s"] for x in ingests],
                "files_written": ingests[-1]["files_written"],
                "bytes_written": ingests[-1]["bytes_written"],
                "write_amp": ingests[-1]["bytes_written"] / oracle.user_bytes,
            },
        },
    }

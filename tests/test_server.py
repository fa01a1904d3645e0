"""HTTP serving layer: query/stats/metrics/plugins/load endpoints over
a live engine (the reference's WatService RPC surface; buffered
progress for the Load stream)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from ekati_spark.graph.compiler import QueryEngine
from ekati_spark.server import EkatiServer


@pytest.fixture()
def served(spark):
    engine = QueryEngine(spark)
    engine.execute(
        'put "s1" {"name": "ada", "likes": ^"s2"}; "s2" {"name": "bob"}'
    )
    server = EkatiServer(engine).start()
    yield server
    server.stop()


def _get(server, path):
    with urllib.request.urlopen(
        f"http://{server.host}:{server.port}{path}"
    ) as r:
        return json.loads(r.read())


def _post(server, path, payload):
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_query_get_and_put(served):
    code, out = _post(served, "/query", {"q": 'get "s1" |> follow "likes" 1'})
    assert code == 200
    ids = {r["node_id"] for r in out["rows"]}
    assert ids == {"s2"}

    code, out = _post(served, "/query", {"q": 'put "s3" {"name": "eve"}'})
    assert code == 200 and out["ok"] > 0
    code, out = _post(served, "/query", {"q": 'get "s3"', "limit": 5})
    assert code == 200 and out["n"] >= 1


def test_stats_metrics_plugins(served, sf_dir):
    stats = _get(served, "/stats")["stats"]
    assert stats["n_nodes"] >= 2 and stats["n_edges"] >= 1

    from ekati_spark.catalog import load_table

    spark = served.engine.spark
    load_table(spark, sf_dir, "region")
    load_table(spark, sf_dir, "region")  # a hit
    m = _get(served, "/metrics")
    assert len(m["executors"]) >= 1
    assert any(s["num_complete_tasks"] > 0 for s in m["stages"])
    table = m["stores"]["table"]
    assert table["hits"] >= 1 and table["misses"] >= 1
    assert table["build_s"] > 0

    from ekati_spark.plugins import PLUGINS, register_plugin

    @register_plugin("srv_demo", kind="dataframe")
    def srv_demo(df):
        """Server-visible demo plugin."""
        return df

    try:
        names = {p["name"] for p in _get(served, "/plugins")["plugins"]}
        assert "srv_demo" in names
    finally:
        PLUGINS.pop("srv_demo", None)


def test_load_nt_with_progress(served, tmp_path):
    nt = tmp_path / "mini.nt"
    nt.write_text(
        '<http://e/a> <http://e/knows> <http://e/b> .\n'
        '<http://e/a> <http://e/name> "Ada" .\n'
        '<http://e/b> <http://e/name> "Bee" .\n'
    )
    code, out = _post(
        served, "/load", {"kind": "nt", "url": f"file://{nt}"}
    )
    assert code == 200
    assert out["loaded"] == 3
    assert out["progress"] and out["progress"][-1]["done"] is True

    code, out = _post(
        served, "/query", {"q": 'get "http://e/a" |> follow "http://e/knows" 1'}
    )
    assert {r["node_id"] for r in out["rows"]} == {"http://e/b"}


def test_errors_surface_as_json(served):
    code, out = _post(served, "/query", {"q": "not a statement"})
    assert code == 500 and "error" in out
    code, out = _post(served, "/load", {"kind": "zip", "path": "x"})
    assert code == 400
    code, out = _post(served, "/nope", {})
    assert code == 404


def test_limit_clamped_and_concurrent_queries(served):
    """limit=0 must not bypass the cap into an unbounded collect, and
    threaded handlers sharing one session serve parallel queries."""
    import concurrent.futures

    code, out = _post(served, "/query", {"q": 'get "*"', "limit": 0})
    assert code == 200 and out["n"] >= 1  # clamped to >=1, not unbounded

    def one(i):
        return _post(served, "/query", {"q": 'get "s1"'})

    with concurrent.futures.ThreadPoolExecutor(4) as ex:
        results = list(ex.map(one, range(4)))
    assert all(code == 200 and out["n"] >= 1 for code, out in results)


def test_sql_endpoint_over_registered_views(served, sf_dir):
    code, out = _post(
        served,
        "/sql",
        {
            "sql": "SELECT l_returnflag, count(*) AS n FROM lineitem "
            "GROUP BY 1 ORDER BY 1",
            "sf_dir": sf_dir,
        },
    )
    assert code == 200
    assert out["columns"] == ["l_returnflag", "n"]
    assert out["n"] >= 2 and all(r["n"] > 0 for r in out["rows"])
    # views persist for the session: second call without sf_dir works
    code, again = _post(
        served, "/sql", {"sql": "SELECT count(*) AS c FROM orders"}
    )
    assert code == 200 and again["rows"][0]["c"] > 0
    # bad SQL surfaces as a JSON error, not a crash
    code, err = _post(served, "/sql", {"sql": "SELEKT 1"})
    assert code == 500 and "error" in err


def _post_stream(server, path, payload):
    """POST and parse an NDJSON response line-by-line (reads until EOF —
    the streaming endpoints close the connection at end-of-stream)."""
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, [json.loads(line) for line in r if line.strip()]


def test_query_stream_ndjson_batches(served):
    # 3 nodes; batch=2 forces >1 rows-line so the incremental framing is
    # actually exercised
    _post(served, "/query", {"q": 'put "s9" {"name": "zoe"}'})
    code, lines = _post_stream(
        served, "/query/stream", {"q": 'get "*"', "batch": 2}
    )
    assert code == 200
    assert "n" in lines[-1]
    rows = [r for ln in lines[:-1] for r in ln["rows"]]
    assert lines[-1]["n"] == len(rows) >= 3
    assert len(lines) >= 3  # >=2 rows-lines + final count line
    # limit truncates the stream, not just the last batch
    code, lines = _post_stream(
        served, "/query/stream", {"q": 'get "*"', "batch": 2, "limit": 1}
    )
    assert code == 200 and lines[-1]["n"] == 1


def test_load_stream_progress_lines(served, tmp_path):
    nt = tmp_path / "mini_stream.nt"
    nt.write_text(
        '<http://s/a> <http://s/knows> <http://s/b> .\n'
        '<http://s/a> <http://s/name> "Ada" .\n'
    )
    code, lines = _post_stream(
        served, "/load/stream", {"kind": "nt", "url": f"file://{nt}"}
    )
    assert code == 200
    assert lines[-1]["loaded"] == 2
    progress = [ln["progress"] for ln in lines[:-1] if "progress" in ln]
    assert progress and progress[-1]["done"] is True


def test_stream_error_reported_in_band(served, tmp_path):
    """An error AFTER the NDJSON headers are out must arrive as a final
    {"error": ...} line on the 200 stream — not a second status line
    interleaved into the partial body."""
    code, lines = _post_stream(
        served,
        "/load/stream",
        {"kind": "nt", "path": str(tmp_path / "does_not_exist.nt")},
    )
    assert code == 200
    assert "error" in lines[-1]
    assert all("loaded" not in ln for ln in lines)


def test_explain_endpoint(served, sf_dir):
    code, out = _post(
        served,
        "/explain",
        {"sql": "SELECT l_returnflag, count(*) FROM lineitem "
                "WHERE l_returnflag = 'R' GROUP BY 1",
         "sf_dir": sf_dir},
    )
    assert code == 200
    assert "HashAggregate" in out["plan"]
    assert "PushedFilters" in out["plan"]
    code, out = _post(served, "/explain", {"q": 'get "s1"'})
    assert code == 200 and "plan" in out


def _post_raw(server, path, body: bytes):
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}{path}",
        data=body,
        headers={"Content-Type": "application/x-protobuf"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.read()


def test_grpc_put_get_roundtrip(served):
    """The reference's put/get round-trip (Tests.fs:354-373) over the
    WIRE messages: Put a protobuf Node, Get it back as a framed Node
    stream, and check every attribute survives — including the
    NodeID-valued edge."""
    from ekati_spark.wire import proto as W

    node = {
        "id": {"iri": "w1"},
        "attributes": [
            {
                "key": {"Data": {"str": "name"}},
                "value": {"Data": {"str": "wire-ada"}},
            },
            {
                "key": {"Data": {"str": "age"}},
                "value": {"Data": {"i64": 41}},
            },
            {
                "key": {"Data": {"str": "likes"}},
                "value": {"Data": {"nodeid": {"iri": "s2"}}},
            },
        ],
    }
    code, raw = _post_raw(served, "/grpc/Put", W.encode("Node", node))
    assert code == 200
    assert W.decode("PutResponse", raw) == {"success": True}

    code, raw = _post_raw(
        served, "/grpc/Get", W.encode("Query", {"iris": ["w1"]})
    )
    assert code == 200
    nodes = [W.decode("Node", f) for f in W.iter_frames(raw)]
    assert len(nodes) == 1 and nodes[0]["id"] == {"iri": "w1"}
    got = {
        a["key"]["Data"]["str"]: a["value"]["Data"]
        for a in nodes[0]["attributes"]
    }
    assert got["name"] == {"str": "wire-ada"}
    assert got["age"] == {"i64": 41}
    assert got["likes"] == {"nodeid": {"iri": "s2"}}


def test_grpc_get_with_step_chain(served):
    """Query message with a follow+limit Step chain executes the same
    pipeline as the DSL form."""
    from ekati_spark.wire import proto as W

    q = {
        "iris": ["s1"],
        "step": {
            "follow": {
                "followEdge": {
                    "edgeRange": {
                        "edge": {"str": "likes"},
                        "range": {"from": 1, "to": 1},
                    }
                }
            },
            "next": {"limit": {"value": 10}},
        },
    }
    code, raw = _post_raw(served, "/grpc/Get", W.encode("Query", q))
    assert code == 200
    nodes = [W.decode("Node", f) for f in W.iter_frames(raw)]
    assert {n["id"]["iri"] for n in nodes} == {"s2"}


def test_grpc_stats_and_metrics(served):
    from ekati_spark.wire import proto as W

    code, raw = _post_raw(
        served, "/grpc/GetStats", W.encode("GetStatsRequest", {})
    )
    assert code == 200
    names = W.decode("GetStatsResponse", raw)["names"]
    assert any(n.startswith("n_nodes=") for n in names)

    code, raw = _post_raw(
        served, "/grpc/GetMetrics", W.encode("GetMetricsRequest", {})
    )
    assert code == 200
    resp = W.decode("GetMetricsResponse", raw)
    assert all("name" in m for m in resp.get("metrics", []))


def test_grpc_liststats_listpolicies_load(served):
    """The remaining WatDbService RPCs (types.proto:231-239): ListStats
    name filtering, ListPolicies as a framed Node stream over the
    plugin registry, Load as a framed LoadFileResponse stream."""
    import os

    from ekati_spark.plugins import register_plugin
    from ekati_spark.wire import proto as W

    code, raw = _post_raw(
        served, "/grpc/ListStats", W.encode("ListStatsRequest", {"match": ["n_"]})
    )
    assert code == 200
    names = W.decode("ListStatsResponse", raw).get("names", [])
    assert names and all("n_" in n for n in names)

    @register_plugin("wire_demo", kind="column")
    def wire_demo(col):
        """demo plugin for the ListPolicies wire test"""
        return col

    code, raw = _post_raw(
        served,
        "/grpc/ListPolicies",
        W.encode("ListPoliciesRequest", {"iris": ["plugin:wire_demo"]}),
    )
    assert code == 200
    nodes = [W.decode("Node", f) for f in W.iter_frames(raw)]
    assert [n["id"]["iri"] for n in nodes] == ["plugin:wire_demo"]
    kinds = {
        a["key"]["Data"]["str"]: a["value"]["Data"]["str"]
        for a in nodes[0]["attributes"]
    }
    assert kinds["kind"] == "column"

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "sample.nt"
    )
    code, raw = _post_raw(
        served, "/grpc/Load", W.encode("LoadFile", {"type": "nt", "path": fixture})
    )
    assert code == 200
    msgs = [W.decode("LoadFileResponse", f) for f in W.iter_frames(raw)]
    assert msgs and msgs[-1]["progress"] > 0


def test_ui_explorer_page(served):
    """GET /ui serves the self-contained explorer (reference src/UI:
    Query.razor editor+Run, Graph.razor force layout + label toggles,
    Metrics.razor table) with zero external asset references."""
    url = f"http://{served.host}:{served.port}/ui"
    with urllib.request.urlopen(url) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/html")
        html = r.read().decode()
    # Query.razor surface: editor + Run/Clear driving POST /query
    assert 'id="q"' in html and 'id="run"' in html and 'id="clear"' in html
    assert '"/query"' in html
    # Graph.razor surface: SVG canvas + the three layout toggles
    assert '<svg id="g">' in html
    for toggle in ("nlab", "elab", "pause"):
        assert f'id="{toggle}"' in html
    # Metrics.razor surface: stats + metrics panes off the JSON routes
    assert '"/stats"' in html and '"/metrics"' in html
    # self-contained: no external scripts/styles/fonts
    assert "<script src" not in html and "<link" not in html
    body = html.split("<body>")[1]
    assert "https://" not in body
    assert body.count("http://") == body.count("http://www.w3.org/2000/svg")


def test_rows_collect_is_bounded(spark, monkeypatch):
    """The no-limit response path goes through the same
    ``collect_bounded`` contract as every other driver-side collect in
    the package: a frame past the bound raises instead of materializing
    an unbounded JSON body on the driver."""
    import ekati_spark.server as srv

    small = spark.range(5)
    assert len(srv._rows(small)) == 5
    assert len(srv._rows(spark.range(50), limit=3)) == 3

    monkeypatch.setattr(srv, "_ROWS_DEFAULT_BOUND", 10)
    with pytest.raises(ValueError, match="small-by-contract"):
        srv._rows(spark.range(11))
    # an explicit limit bypasses the default bound by design
    assert len(srv._rows(spark.range(100), limit=20)) == 20

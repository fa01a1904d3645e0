"""Query-language + golden-graph tests replicating the reference's test
strategy (SURVEY.md §5): TheCrew GraphML golden assertions
(Tests.fs:650-857), put/get roundtrip (Tests.fs:354-373), skip/take
composition (Tests.fs:454-515), N-Triples import (FIXTURES.md A6)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ekati_spark.graph import ir
from ekati_spark.graph.compiler import QueryEngine
from ekati_spark.graph.parser import parse
from ekati_spark.sources.graphml import load_graphml
from ekati_spark.sources.ntriples import load_ntriples

FIXTURES = Path(__file__).parent / "fixtures"


# -- parser -----------------------------------------------------------------


def test_parse_get_pipeline():
    q = parse('get "me" |> follow "likes" 1 |> filter "type" == "dog" |> take 100')
    assert q.seeds == (ir.NodeRef("me"),)
    assert q.steps[0] == ir.FollowStep(ir.Edge("likes", 1, 1))
    assert q.steps[1] == ir.FilterStep(ir.KeyValueCmp("type", "==", "dog"))
    assert q.steps[2] == ir.LimitStep(100)


def test_parse_follow_ranges():
    q = parse('get "1" |> follow * 0..6')
    assert q.steps[0].spec == ir.Any(0, 6)
    q2 = parse('get "1" |> follow ("knows" 1..2 && "likes" 1)')
    spec = q2.steps[0].spec
    assert isinstance(spec, ir.And)
    assert spec.left == ir.Edge("knows", 1, 2)
    assert spec.right == ir.Edge("likes", 1, 1)


def test_parse_compound_filter():
    q = parse('get "*" |> filter ("age" > 30 && "city" == "Boulder")')
    pred = q.steps[0].pred
    assert isinstance(pred, ir.Compound) and pred.bool_op == "&&"
    assert pred.left == ir.KeyValueCmp("age", ">", 30)
    assert pred.right == ir.KeyValueCmp("city", "==", "Boulder")


def test_parse_fields_clude():
    q = parse('get "1" |> fields ("name":*, -("secret":*))')
    cludes = q.steps[0].cludes
    assert cludes[0] == ir.CludeOp(ir.CludePart("lit", "name"), ir.CludePart("star"))
    assert isinstance(cludes[1], ir.Exclude)


def test_parse_put_pair_shapes():
    cmd = parse('put "n1" {"name": "x", "knows": ^"n2", ^"n3": "v", ^"n4": ^"n5"}')
    kinds = [p.kind for p in cmd.nodes[0].pairs]
    assert kinds == ["kvp", "edge", "fedge", "dedge"]
    assert cmd.nodes[0].pairs[1].value == ir.NodeRef("n2")


def test_parse_get_history_flag():
    assert parse('get -h "x"').history is True
    assert parse('get "x"').history is False


def test_parse_load():
    cmd = parse('load graphml "file.xml"')
    assert cmd == ir.LoadCommand("graphml", "file.xml")


# -- put/get through the engine --------------------------------------------


@pytest.fixture()
def engine(spark):
    return QueryEngine(spark)


def _doc(df):
    """rows → {node_id: {key: value}} (latest values)."""
    out = {}
    for r in df.collect():
        v = r.str if r.dtype == "str" else r.i64 if r.dtype == "i64" else (
            r.dbl if r.dtype == "dbl" else r.ref if r.dtype == "ref" else r.bool
        )
        out.setdefault(r.node_id, {})[r.key] = v
    return out


def test_put_get_roundtrip(engine):
    engine.execute('put "me" {"name": "austin", "age": 36, "follows": ^"you"}')
    engine.execute('put "you" {"name": "sam"}')
    docs = _doc(engine.execute('get "me"'))
    assert docs == {"me": {"name": "austin", "age": 36, "follows": "you"}}


def test_put_accumulates_fragments(engine):
    """Repeated puts to one id accumulate attributes (Tests.fs:560-623)."""
    for i in range(5):
        engine.run_put(
            ir.PutCommand((ir.PutNode(
                ir.NodeRef("TESTID"),
                (ir.PutPair(ir.PairKind.KVP, f"property-{i}", str(i)),),
            ),)),
            ts=i,
        )
    docs = _doc(engine.execute('get "TESTID"'))
    assert len(docs["TESTID"]) == 5


def test_follow_and_filter_pipeline(engine):
    engine.execute(
        'put "1" {"firstName": "Richard", "follows": ^"2"};'
        '"2" {"firstName": "Sam", "follows": ^"1"};'
        '"3" {"firstName": "Jim", "follows": ^"1", "follows": ^"2"}'
    )
    out = _doc(engine.execute('get "3" |> follow "follows" 1'))
    assert set(out) == {"1", "2"}
    out2 = _doc(
        engine.execute('get "3" |> follow "follows" 1 |> filter "firstName" == "Sam"')
    )
    assert set(out2) == {"2"}


def test_filter_numeric_ops(engine):
    engine.execute('put "a" {"age": 20}; "b" {"age": 30}; "c" {"age": 40}')
    assert set(_doc(engine.execute('get "*" |> filter "age" > 25'))) == {"b", "c"}
    assert set(_doc(engine.execute('get "*" |> filter "age" != 30'))) == {"a", "c"}
    assert set(
        _doc(engine.execute('get "*" |> filter ("age" > 25 && "age" < 35)'))
    ) == {"b"}


def test_skip_take_composition(engine):
    """skip n |> take m on the canonical ordering (Tests.fs:454-515 made
    deterministic per SURVEY §5d)."""
    for i in range(10):
        engine.execute(f'put "n{i:02d}" {{"v": {i}}}')
    all_ids = sorted(_doc(engine.execute('get "*"')))
    sk = _doc(engine.execute('get "*" |> skip 3 |> take 4'))
    assert sorted(sk) == all_ids[3:7]


def test_fields_projection_and_exclusion(engine):
    engine.execute('put "p" {"name": "x", "secret": "s", "age": 3, "knows": ^"q"}')
    only_name = engine.execute('get "p" |> fields "name":*')
    assert {r.key for r in only_name.collect()} == {"name"}
    no_secret = engine.execute('get "p" |> fields ("*":*, -("secret":*))')
    assert {r.key for r in no_secret.collect()} == {"name", "age", "knows"}
    only_edges = engine.execute('get "p" |> fields "*":^')
    assert {r.key for r in only_edges.collect()} == {"knows"}
    typed = engine.execute('get "p" |> fields "*":int')
    assert {r.key for r in typed.collect()} == {"age"}


def test_history_vs_latest(engine):
    engine.run_put(parse('put "v" {"status": "a"}'), ts=1)
    engine.run_put(parse('put "v" {"status": "b"}'), ts=2)
    latest = engine.execute('get "v"').collect()
    assert len(latest) == 1 and latest[0].str == "b"
    hist = engine.execute('get -h "v"').collect()
    assert [r.str for r in hist] == ["a", "b"]


def test_concurrent_puts_are_not_lost(engine):
    """Each put replaces the engine's graph by read-modify-write; with
    many writers at once no put may overwrite another's."""
    import sys
    import threading

    n_threads = 8
    errors = []

    def put(i):
        try:
            engine.execute(f'put "w{i:02d}" {{"v": {i}}}')
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=put, args=(i,)) for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = {r.node_id for r in engine.execute('get "*"').collect()}
    assert got == {f"w{i:02d}" for i in range(n_threads)}


# -- golden GraphML (TheCrew / TinkerPop modern) ----------------------------


@pytest.fixture(scope="module")
def crew(spark):
    eng = QueryEngine(spark)
    eng.execute(f'load graphml "{FIXTURES}/tinkerpop-modern.xml"')
    return eng


def test_crew_label_and_typed_age(crew):
    """labelV per vertex + typed ints (Tests.fs:650-692)."""
    docs = _doc(crew.execute('get "1", "3"'))
    assert docs["1"]["labelV"] == "person"
    assert docs["1"]["name"] == "marko"
    assert docs["1"]["age"] == 29
    assert docs["3"]["labelV"] == "software"
    assert docs["3"]["lang"] == "java"


def test_crew_reified_edges(crew):
    """out.knows/out.created → edge-nodes; edge-nodes carry labelE,
    weight, source, target (Tests.fs:750-857)."""
    rows = crew.execute('get "1"').collect()
    outs = {(r.key, r.ref) for r in rows if r.dtype == "ref"}
    assert outs == {
        ("out.knows", "7"),
        ("out.knows", "8"),
        ("out.created", "9"),
    }
    e7 = _doc(crew.execute('get "7"'))["7"]
    assert e7["labelE"] == "knows"
    assert e7["weight"] == 0.5
    assert e7["source"] == "1"
    assert e7["target"] == "2"


def test_crew_in_edges(crew):
    docs = _doc(crew.execute('get "3"'))
    ins = {k: v for k, v in docs["3"].items() if k.startswith("in.")}
    rows = crew.execute('get "3"').collect()
    in_targets = {r.ref for r in rows if r.key == "in.created"}
    assert in_targets == {"9", "11", "12"}
    assert ins  # has in-edges


def test_crew_traversal_follow_any(crew):
    """follow * from marko across reified edges: vertex→edge-node→vertex."""
    out = crew.execute('get "1" |> follow * 2')
    ids = {r.node_id for r in out.select("node_id").distinct().collect()}
    # hop1 = edge-nodes 7,8,9 (+ nothing else), hop2 = their source/target
    # vertices minus visited
    assert {"7", "8", "9"} <= ids
    assert {"2", "3", "4"} <= ids


def test_crew_id_roundtrip(crew):
    """ids 1..12 all present (Tests.fs:317-352)."""
    ids = {r.node_id for r in crew.graph.nodes().collect()}
    assert ids == {str(i) for i in range(1, 13)}


# -- N-Triples --------------------------------------------------------------


def test_ntriples_import(spark):
    df = load_ntriples(spark, str(FIXTURES / "sample.nt"), run_id="t1")
    rows = df.collect()
    assert len(rows) == 10
    by = {}
    for r in rows:
        by.setdefault(r.node_id, []).append(r)
    alice = {r.key: r for r in by["http://example.org/alice"]}
    assert alice["http://xmlns.com/foaf/0.1/knows"].dtype == "ref"
    assert alice["http://xmlns.com/foaf/0.1/knows"].ref == "http://example.org/bob"
    assert alice["http://xmlns.com/foaf/0.1/name"].str == "Alice"
    aged = alice["http://xmlns.com/foaf/0.1/age"]
    assert aged.str == "29"
    assert aged.meta_type == "http://www.w3.org/2001/XMLSchema#int"
    bob = [r for r in by["http://example.org/bob"] if r.key == "http://example.org/greeting"]
    assert {(r.str, r.meta_lang) for r in bob} == {("hi", "en"), ("salut", "fr")}
    # blank node relabeling
    assert "blank:t1:b1" in by
    carol_knows = [
        r for r in by["http://example.org/carol"]
        if r.key == "http://xmlns.com/foaf/0.1/knows"
    ]
    assert carol_knows[0].ref == "blank:t1:b1"
    # escaped quote in literal
    carol_name = [
        r for r in by["http://example.org/carol"]
        if r.key == "http://xmlns.com/foaf/0.1/name"
    ]
    assert carol_name[0].str == 'Carol "C"'


def test_ntriples_multimap_grouping(spark, tmp_path):
    """Repeated subjects accumulate into one node (WatService.cs:142-153
    grouping made implicit by the long format)."""
    df = load_ntriples(spark, str(FIXTURES / "sample.nt"))
    n = df.groupBy("node_id").count().filter(F.col("count") > 1).count()
    assert n >= 3


# -- Remove / First / stats (SURVEY §2 #8-10) -------------------------------


def test_remove_nodes(engine):
    engine.execute('put "a" {"v": 1}; "b" {"v": 2, "to": ^"a"}; "c" {"v": 3}')
    g2 = engine.graph.remove_nodes(["a"])
    assert {r.node_id for r in g2.nodes().collect()} == {"b", "c"}
    # b's dangling edge row survives (the reference also leaves dangling
    # refs; readers resolve-or-skip)
    assert g2.props.filter(F.col("dtype") == "ref").count() == 1
    assert [(r.src, r.dst) for r in g2.edges.collect()] == [("b", "a")]


def test_remove_nodes_keeps_separate_edges(spark, sf_dir):
    """A from_relational graph's FK edges live ONLY in the edges frame;
    remove_nodes must filter them, not re-derive from props (round-3
    ADVICE — the old path silently dropped every FK edge)."""
    from ekati_spark.graph.model import PropertyGraph

    g = PropertyGraph.from_relational(spark, sf_dir)
    victim = "customer:1"
    before = g.edges.count()
    out_deg = g.edges.filter(F.col("src") == victim).count()
    g2 = g.remove_nodes([victim])
    assert out_deg > 0
    assert g2.edges.count() == before - out_deg
    # in-edges to the victim dangle (reference behavior), out-edges go
    assert g2.edges.filter(F.col("src") == victim).count() == 0


def test_first_predicate(engine):
    engine.execute('put "z1" {"age": 30}; "z2" {"age": 30}; "z3" {"age": 9}')
    rows = engine.graph.first(
        (F.col("key") == "age") & (F.col("i64") == 30)
    ).collect()
    assert {r.node_id for r in rows} == {"z1"}  # deterministic min id


def test_graph_stats(engine):
    engine.execute('put "s1" {"v": 1, "e": ^"s2"}; "s2" {"v": 2}')
    row = engine.graph.stats().collect()[0]
    assert row.n_nodes == 2
    assert row.n_attr_rows == 3
    assert row.n_edges == 1


def test_remote_nodeid_identity(engine):
    """Logical identity is (remote, iri) — MemoryPointer.partial.cs:234-245:
    the same iri on different remotes is two distinct nodes."""
    engine.run_put(
        ir.PutCommand((
            ir.PutNode(ir.NodeRef("me"), (ir.PutPair(ir.PairKind.KVP, "where", "local"),)),
            ir.PutNode(ir.NodeRef("me", remote="otherhost"),
                       (ir.PutPair(ir.PairKind.KVP, "where", "remote"),)),
        )),
        ts=1,
    )
    local = engine.execute('get "me"').collect()
    assert [r.str for r in local] == ["local"]
    remote = engine.execute('get "otherhost" "me"').collect()
    assert [r.str for r in remote] == ["remote"]
    obj_form = engine.execute('get {"remote": "otherhost", "id": "me"}').collect()
    assert [r.str for r in obj_form] == ["remote"]


def test_graph_save_load_roundtrip(engine, tmp_path):
    """Parquet persistence: a saved graph reloads with identical query
    results (the Parquet/Delta replacement of the reference's FASTER
    checkpoints, SURVEY §4)."""
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.graph.model import PropertyGraph

    engine.execute('put "pa" {"v": 1, "e": ^"pb"}; "pb" {"v": 2}')
    out = str(tmp_path / "graph_pq")
    engine.graph.save(out, buckets=4)
    reloaded = QueryEngine(engine.spark, PropertyGraph.load(engine.spark, out))
    orig = sorted(map(tuple, engine.execute('get "pa" |> follow "e" 1').collect()))
    back = sorted(map(tuple, reloaded.execute('get "pa" |> follow "e" 1').collect()))
    assert orig == back and len(back) == 1


def test_graph_cache_evicts_on_new_sf_dir(spark, sf_dir):
    """The per-(session, sf_dir) FK-graph cache is bounded: pointing the
    same session at a new sf_dir unpersists and evicts the old graph
    (round-3 ADVICE: unbounded persist = slow leak in a long service)."""
    from ekati_spark import session_store
    from ekati_spark.queries.graph import _graph

    g1 = _graph(spark, sf_dir)
    assert g1.edges.is_cached
    g2 = _graph(spark, "/root/testdata/sf0.01")
    # the session's one fk_graph entry is now sf0.01's: a warm hit
    misses = session_store.stats()["fk_graph"]["misses"]
    assert _graph(spark, "/root/testdata/sf0.01") is g2
    assert session_store.stats()["fk_graph"]["misses"] == misses
    assert not g1.edges.is_cached
    assert g2.edges.is_cached
    # leave the suite's usual graph warm for whoever runs next
    _graph(spark, sf_dir)


def test_save_load_preserves_fk_edges(spark, sf_dir, tmp_path):
    """save()/load() round-trips the SEPARATE edges frame: FK edges of a
    from_relational graph aren't derivable from props, and stats()/
    traversal on the reloaded graph must see them (round-3 ADVICE)."""
    from ekati_spark.graph.model import PropertyGraph

    g = PropertyGraph.from_relational(spark, sf_dir)
    out = str(tmp_path / "fk_graph")
    g.save(out, buckets=4)
    back = PropertyGraph.load(spark, out)
    n_edges = g.edges.count()
    assert n_edges > 0
    assert back.edges.count() == n_edges
    s0, s1 = g.stats().first(), back.stats().first()
    assert (s0.n_edges, s0.n_edge_labels) == (s1.n_edges, s1.n_edge_labels)


@pytest.fixture()
def repl_cores(spark, monkeypatch):
    """``cli.main`` calls ``get_spark()``, which re-applies its runtime
    confs (shuffle partitions, a bounded fetch's first wave) for
    ``SPARK_GRAFT_CPUS`` cores to the running session: pin that to the
    session's own core count, so a REPL test leaves the confs later
    tests count jobs under as they were."""
    monkeypatch.setenv(
        "SPARK_GRAFT_CPUS", str(spark.sparkContext.defaultParallelism)
    )


def test_repl_end_to_end(spark, monkeypatch, capsys, repl_cores):
    """CLI REPL: put → get → :stats → :quit drive through the real main
    loop (input() monkeypatched)."""
    import builtins

    from ekati_spark.plugins import PLUGINS, register_plugin

    @register_plugin("repl_demo", kind="column")
    def repl_demo(c):
        """Demo plugin for the REPL listing."""
        return c

    lines = iter([
        'put "r1" {"name": "x", "likes": ^"r2"}',
        'get "r1"',
        "not a command",
        ":stats",
        ":plugins",
        ':explain get "r1" |> follow "likes" 1',
        ":explain put nope",
        ":quit",
    ])
    monkeypatch.setattr(builtins, "input", lambda prompt="": next(lines))
    from ekati_spark.cli import main

    try:
        assert main([]) == 0
    finally:
        PLUGINS.pop("repl_demo", None)
    out = capsys.readouterr().out
    assert '"r1" {' in out
    assert '"likes": ^"r2"' in out
    assert "error:" in out  # bad command surfaced, loop continued
    assert "n_nodes" in out
    assert "repl_demo" in out and "Demo plugin" in out
    assert "== Physical Plan ==" in out  # :explain printed a plan
    assert "error: :explain takes a get pipeline" in out


def test_repl_serves_fk_graph_store(
    spark, sf_dir, monkeypatch, capsys, repl_cores
):
    """Given an sf dir, the REPL serves the registry's persisted FK graph
    store (`queries.graph._graph`), not an unpersisted re-derivation."""
    import builtins

    from ekati_spark import session_store
    from ekati_spark.cli import main
    from ekati_spark.queries.graph import _graph

    _graph(spark, sf_dir)
    hits = session_store.stats()["fk_graph"]["hits"]
    lines = iter(['get "customer:1" |> follow "placed" 1', ":quit"])
    monkeypatch.setattr(builtins, "input", lambda prompt="": next(lines))
    assert main([sf_dir]) == 0
    assert session_store.stats()["fk_graph"]["hits"] == hits + 1
    assert '"order:' in capsys.readouterr().out


def test_parser_rejects_trailing_garbage():
    with pytest.raises(SyntaxError):
        parse('get "*" |> filter "age" > 25 && "age" < 35')  # unparenthesized
    with pytest.raises(SyntaxError):
        parse('get "a" limit 5')  # missing |>


def test_put_obj_form_remote_roundtrip(engine):
    engine.execute('put {"id": "ox", "remote": "r9", "k": "v"}')
    rows = engine.execute('get "r9" "ox"').collect()
    assert [(r.key, r.str) for r in rows] == [("k", "v")]
    assert engine.execute('get "ox"').count() == 0  # local ox doesn't exist


def test_latest_view_is_remote_scoped(engine):
    """A newer write on one remote must not mask another remote's
    same-iri node in the latest view."""
    engine.run_put(parse('put {"id": "lv", "remote": "ra", "s": "a"}'), ts=1)
    engine.run_put(parse('put {"id": "lv", "remote": "rb", "s": "b"}'), ts=2)
    a = engine.execute('get "ra" "lv"').collect()
    assert [r.str for r in a] == ["a"]


def test_ntriples_escape_sequences(spark, tmp_path):
    nt = tmp_path / "esc.nt"
    nt.write_text(
        '<http://e/s> <http://e/p> "a\\\\nb" .\n'   # escaped backslash + n
        '<http://e/s> <http://e/q> "x\\ty" .\n'      # tab
        '<http://e/s> <http://e/r> "n\\nl" .\n'      # newline
    )
    rows = {r.key: r.str for r in load_ntriples(spark, str(nt)).collect()}
    assert rows["http://e/p"] == "a\\nb"   # backslash + letter n preserved
    assert rows["http://e/q"] == "x\ty"
    assert rows["http://e/r"] == "n\nl"


def test_ntriples_unicode_escapes(spark, tmp_path):
    nt = tmp_path / "uni.nt"
    nt.write_text(
        '<http://e/s> <http://e/a> "caf\\u00e9" .\n'          # BMP char
        '<http://e/s> <http://e/b> "hi \\uD83D\\uDE00" .\n'   # surrogate pair
        '<http://e/s> <http://e/c> "big \\U0001F680" .\n'     # 8-digit form
        '<http://e/s> <http://e/d> "lit \\\\u0041" .\n'       # escaped backslash: verbatim
    )
    rows = {r.key: r.str for r in load_ntriples(spark, str(nt)).collect()}
    assert rows["http://e/a"] == "café"
    assert rows["http://e/b"] == "hi \U0001F600"
    assert rows["http://e/c"] == "big \U0001F680"
    assert rows["http://e/d"] == "lit \\u0041"


def test_ntriples_unpaired_surrogate_is_replaced(spark, tmp_path):
    """An unpaired surrogate escape decodes to U+FFFD instead of a lone
    surrogate str that crashes Arrow serialization for the whole load
    (round-3 ADVICE)."""
    nt = tmp_path / "lone.nt"
    nt.write_text(
        '<http://e/s> <http://e/a> "bad \\uD800 end" .\n'
        '<http://e/s> <http://e/b> "tail \\uDC00" .\n'
        '<http://e/s> <http://e/c> "ok \\uD83D\\uDE00" .\n'
    )
    rows = {r.key: r.str for r in load_ntriples(spark, str(nt)).collect()}
    assert rows["http://e/a"] == "bad � end"
    assert rows["http://e/b"] == "tail �"
    assert rows["http://e/c"] == "ok \U0001F600"  # real pairs unaffected


def test_ntriples_url_ingest_with_progress(spark, tmp_path):
    """file:// URL pull: chunked spool emits progress events, spool file
    is deleted after the eager parse, and the triples survive it."""
    import os

    from ekati_spark.sources.ntriples import load_ntriples_url

    nt = tmp_path / "feed.nt"
    nt.write_text(
        "".join(
            f'<http://e/s{i}> <http://e/p> "v{i}" .\n' for i in range(500)
        )
    )
    events = []
    df = load_ntriples_url(
        spark,
        nt.as_uri(),
        progress=events.append,
        chunk_bytes=256,
        progress_interval_s=0.0,  # emit every chunk for the test
        spool_dir=str(tmp_path),
    )
    assert df.count() == 500
    assert events and events[-1]["done"]
    assert events[-1]["bytes_read"] == nt.stat().st_size
    assert [e["bytes_read"] for e in events] == sorted(
        e["bytes_read"] for e in events
    )
    leftovers = [p for p in os.listdir(tmp_path) if p.endswith(".nt") and p != "feed.nt"]
    assert leftovers == []


def test_load_nt_url_through_language(spark, tmp_path):
    """`load nt "<url>"` routes through the chunked URL fetch with
    progress events and lands triples in the graph."""
    from ekati_spark.graph.compiler import QueryEngine

    nt = tmp_path / "lang.nt"
    nt.write_text('<http://e/a> <http://e/knows> <http://e/b> .\n')
    events = []
    eng = QueryEngine(spark, on_progress=events.append)
    eng.execute(f'load nt "{nt.as_uri()}"')
    rows = eng.execute('get "http://e/a"').collect()
    assert any(r.key == "http://e/knows" and r.ref == "http://e/b" for r in rows)
    assert events and events[-1]["done"]


def test_load_nt_preserves_fk_graph_edges(spark, tmp_path):
    """`load nt` and `put` onto a from_relational graph must keep the FK
    edge frame (those edges are NOT dtype='ref' prop rows — rebuilding
    from the props union alone would silently drop them)."""
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.graph.model import PropertyGraph

    g = PropertyGraph.from_relational(spark, "/root/testdata/sf0.001")
    nt = tmp_path / "extra.nt"
    nt.write_text('<http://e/x> <http://e/knows> <http://e/y> .\n')
    for write in (f'load nt "{nt}"', 'put "x" {"knows": ^"y"}'):
        eng = QueryEngine(spark, g)
        before = eng.graph.edges.count()
        eng.execute(write)
        after = eng.graph.edges.count()
        assert after == before + 1, write
        # traversal over the FK edges still works post-write
        out = eng.execute('get "customer:1" |> follow "placed" 1').collect()
        assert len(out) > 0, write


def test_ntriples_ue000_literal_survives(spark, tmp_path):
    """A literal \\uE000 escape decodes to U+E000 and must NOT be
    corrupted into a backslash by the sentinel restore."""
    nt = tmp_path / "pua.nt"
    nt.write_text('<http://e/s> <http://e/p> "x\\uE000y" .\n')
    rows = {r.key: r.str for r in load_ntriples(spark, str(nt)).collect()}
    assert rows["http://e/p"] == "xy"

"""Exact-id seeds are read through a literal predicate on the props
scan. Step-free gets (only ``fields`` steps) must answer exactly as the
general path does and build with no Spark job; traversals from exact
seeds stream only the seeds that exist, each once, and build with no
Spark job either. A run of skip/take steps is one ordered window over
the distinct stream. All of it holds in memory and on a bucketed
layout. Over the FK graph's persisted edges, laid out on ``dst``, a
served traversal runs no shuffle. On a bucketed layout an exact-id read
is one task: a served get is one Spark job, and the exact-seed filter
and skip/take shapes shuffle none of the props."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from ekati_spark.graph.compiler import QueryEngine
from ekati_spark.graph.model import PropertyGraph
from ekati_spark.graph.storage import write_bucketed_props
from ekati_spark.metrics import final_tree
from ekati_spark.plugins import PLUGINS, register_plugin
from ekati_spark.schemas import PROPS_SCHEMA, prop_row


def _rows():
    rows = [prop_row(f"n{i}", "size", i, ts=1) for i in range(100)]
    rows += [
        # a second version of one key: latest keeps ts=5, -h keeps both
        prop_row("n7", "size", 700, ts=5),
        prop_row("n7", "name", "seven", ts=2),
        prop_row("n7", "knows", "n8", ts=2, is_ref=True),
        # the same iri on another remote is another node
        prop_row("n7", "size", -7, ts=3, remote="far"),
        prop_row("n7", "name", "far seven", ts=3, remote="far"),
        prop_row("n5", "knows", "n6", ts=2, is_ref=True),
        prop_row("n5", "knows", "n9", ts=2, is_ref=True),
    ]
    return rows


@pytest.fixture(scope="module")
def graphs(spark, tmp_path_factory):
    props = spark.createDataFrame(_rows(), PROPS_SCHEMA)
    path = str(tmp_path_factory.mktemp("point_get") / "props")
    write_bucketed_props(props, path, n_buckets=8)
    return {
        "memory": PropertyGraph(props),
        "bucketed": PropertyGraph.from_bucketed(spark, path),
    }


_QUERIES = [
    'get "n42"',
    'get "far" "n7"',  # remote-qualified
    'get "n7", "far" "n7", "n3"',
    'get -h "n7", "far" "n7"',  # all versions
    'get "n7" |> fields "name":*',
    'get -h "n7" |> fields ("*":*, -("size":*))',
    'get "missing"',
    'get "n42", "missing"',
    'get "n5", "n5"',  # duplicated seed
]


@pytest.mark.parametrize("kind", ["memory", "bucketed"])
def test_step_free_get_matches_general_path(spark, graphs, kind, job_ids):
    """`get <ids>` (step-free) equals `get <ids> |> skip 0` (the general
    path) for remote-qualified ids, -h history, fields cludes, a missing
    id and a duplicated seed, and builds with no Spark job."""
    engine = QueryEngine(spark, graph=graphs[kind])
    for q in _QUERIES:
        out, jobs = job_ids(lambda: engine.execute(q))
        assert jobs == [], (q, jobs)
        ref = engine.execute(f"{q} |> skip 0")
        got = sorted(map(tuple, out.collect()))
        assert got == sorted(map(tuple, ref.collect())), q
    # the fixture is not vacuous: history, remotes and cludes all show
    rows = engine.execute('get -h "n7", "far" "n7"').collect()
    assert {(r.remote, r.ts) for r in rows if r.key == "size"} == {
        ("", 1), ("", 5), ("far", 3),
    }
    latest = engine.execute('get "n7" |> fields "size":*').collect()
    assert [(r.node_id, r.i64) for r in latest] == [("n7", 700)]


def _exchanges(df: DataFrame) -> list[str]:
    """The shuffle Exchanges of ``df``'s final executed plan."""
    tree = final_tree(df._jdf.queryExecution().executedPlan().toString())
    return [n for _, n in tree if n.startswith("Exchange ")]


def test_bucketed_get_is_one_job(spark, graphs, job_ids):
    """On a bucketed layout the server's fetch of every step-free get,
    `-h` and `fields` included, is one Spark job whose final plan has no
    shuffle Exchange: the seeds' buckets are read in one partition, which
    the latest-wins window, its dedup and the `-h` sort all accept."""
    engine = QueryEngine(spark, graph=graphs["bucketed"])
    for q in _QUERIES:
        fetch = engine.execute(q).limit(1000)
        _, jobs = job_ids(fetch.collect)
        assert len(jobs) == 1, (q, jobs)
        assert _exchanges(fetch) == [], q


def test_get_after_put_on_bucketed_graph(spark, graphs):
    """A put on a bucketed graph drops its layout (the new rows live
    only in memory): a newer version of an existing key wins the next
    get, and `get -h` returns both versions."""
    engine = QueryEngine(spark, graph=graphs["bucketed"])
    engine.execute('put "n42" {"size": 4200}')
    assert engine.graph.bucket_info is None
    got = engine.execute('get "n42"').collect()
    assert [(r.key, r.i64) for r in got] == [("size", 4200)]
    hist = engine.execute('get -h "n42"').collect()
    assert sorted(r.i64 for r in hist) == [42, 4200]


_N7_FAR = [("n7", "far", "name", 3), ("n7", "far", "size", 3)]
# query -> its (node_id, remote, key, ts) rows
_TRAVERSALS = {
    # a missing seed adds nothing
    'get "missing", "n7" |> follow "knows" 1': [("n8", "", "size", 1)],
    # a duplicated seed is followed once
    'get "n5", "n5" |> follow "knows" 1': [
        ("n6", "", "size", 1), ("n9", "", "size", 1),
    ],
    # n5 exists only on the local remote: "far" "n5" is a missing seed
    'get "far" "n5" |> follow "knows" 1': [],
    # n7's latest local size is 700; far n7's is -7
    'get "missing", "n5", "n5", "far" "n7" |> filter "size" < 10': [
        ("n5", "", "knows", 2), ("n5", "", "knows", 2), ("n5", "", "size", 1),
        *_N7_FAR,
    ],
    # the stream is (n5, n7, far n7) in (remote, node_id) order
    'get "n5", "n5", "missing", "far" "n7", "n7" |> skip 1 |> take 2': [
        ("n7", "", "knows", 2), ("n7", "", "name", 2), ("n7", "", "size", 5),
        *_N7_FAR,
    ],
    'get "n5", "n5", "missing" |> follow "knows" 1 |> filter "size" > 7'
    ' |> fields "size":*': [("n9", "", "size", 1)],
}


@pytest.mark.parametrize("kind", ["memory", "bucketed"])
def test_exact_seed_traversals(spark, graphs, kind):
    """follow, filter and skip/take from missing, duplicated and
    remote-qualified seeds return fixed rows."""
    engine = QueryEngine(spark, graph=graphs[kind])
    for q, want in _TRAVERSALS.items():
        df = engine.execute(q)
        got = [(r.node_id, r.remote, r.key, r.ts) for r in df.collect()]
        assert sorted(got) == sorted(want), q
        if kind == "bucketed" and "follow" not in q:
            # exact-seed filter and skip/take: stream and props stay in
            # the seeds' buckets, read in one partition, so no shuffle
            assert _exchanges(df) == [], q


# latest (node_id, remote, key, ts) rows of single nodes
_N5 = [("n5", "", "knows", 2), ("n5", "", "knows", 2), ("n5", "", "size", 1)]
_N6 = [("n6", "", "size", 1)]
_N7 = [("n7", "", "knows", 2), ("n7", "", "name", 2), ("n7", "", "size", 5)]
_N8 = [("n8", "", "size", 1)]
# the distinct stream in (remote, node_id) order is n5, n6, n7, n8,
# far n7; n5 and n7 have several attribute rows each
_WINDOW_SEEDS = 'get "n7", "n5", "n6", "far" "n7", "n5", "missing", "n8"'
_WINDOWS = {
    "skip 1 |> take 2": _N6 + _N7,
    "take 3 |> skip 1": _N6 + _N7,
    "skip 1 |> skip 2": _N8 + _N7_FAR,
    "take 4 |> take 2": _N5 + _N6,
    "take 2 |> skip 3": [],
    "skip 1 |> take 3 |> skip 1 |> take 5": _N7 + _N8,
    "skip 2 |> fields \"size\":* |> take 1": [("n7", "", "size", 5)],
    "skip 4": _N7_FAR,
}


@pytest.mark.parametrize("kind", ["memory", "bucketed"])
def test_skip_take_windows(spark, graphs, kind):
    """Runs of skip/take steps count each node once, in (remote,
    node_id) order, whatever the order and repeats of the seeds."""
    engine = QueryEngine(spark, graph=graphs[kind])
    for steps, want in _WINDOWS.items():
        q = f"{_WINDOW_SEEDS} |> {steps}"
        got = [(r.node_id, r.remote, r.key, r.ts) for r in engine.execute(q).collect()]
        assert sorted(got) == sorted(want), q


_STREAM_CASES = {
    # a duplicated and a missing seed under skip 0: n5 once
    'get "n5", "n5", "missing" |> skip 0': _N5,
    # -h keeps repeated rows: each of n5's rows once
    'get -h "n5", "n5", "missing" |> skip 0': _N5,
    # n5 matches one side of the `||`; take counts it once, not per row
    'get "n7", "n5", "n6" |> filter ("size" == 5 || "size" == 6)'
    ' |> take 2': _N5 + _N6,
    # n6 matches both sides
    'get "n6", "n9" |> filter ("size" == 6 || "size" < 7) |> take 1': _N6,
    # the plugin sees n5 and n6, one row each, and names node n2
    'get "n5", "n5", "n6", "missing" |> transform "count_stream_rows"':
        [("n2", "", "size", 1)],
}


@pytest.fixture()
def count_plugin():
    """A stream plugin that returns one node, ``n<input rows>``."""
    saved = dict(PLUGINS)

    @register_plugin("count_stream_rows", kind="stream")
    def count_stream_rows(stream, graph):
        return stream.groupBy().count().select(
            F.concat(F.lit("n"), F.col("count").cast("string")).alias("node_id")
        )

    yield
    PLUGINS.clear()
    PLUGINS.update(saved)


@pytest.mark.parametrize("kind", ["memory", "bucketed"])
def test_stream_steps_see_each_node_once(spark, graphs, kind, count_plugin):
    """skip, take and transform plugins read the stream as a set: a
    duplicated seed, a node with many attribute rows and a node on both
    sides of `||` each count once."""
    engine = QueryEngine(spark, graph=graphs[kind])
    for q, want in _STREAM_CASES.items():
        got = [(r.node_id, r.remote, r.key, r.ts) for r in engine.execute(q).collect()]
        assert sorted(got) == sorted(want), q


def test_one_hop_build_jobs(spark, graphs, job_ids):
    """A one-hop traversal from an exact seed on the bucketed layout
    builds with no Spark job."""
    engine = QueryEngine(spark, graph=graphs["bucketed"])
    _, jobs = job_ids(lambda: engine.execute('get "n7" |> follow "knows" 1'))
    assert jobs == [], jobs


# the served traversal shapes besides one_hop, on this fixture's edges
_SHAPES = {
    "two_hop": 'get "n5" |> follow "knows" 1 |> follow "knows" 1',
    "follow_filter_fields": 'get "n5" |> follow "knows" 1'
    ' |> filter "size" > 7 |> fields "size":*',
    "follow_skip_limit": 'get "n5" |> follow "knows" 1 |> skip 1 |> take 2',
}


def test_traversal_shapes_run_as_one_action(spark, graphs, job_ids):
    """The served traversal shapes build with no Spark job, and the fused
    `skip 1 |> take 2` window fires no more jobs than `take 2`."""
    engine = QueryEngine(spark, graph=graphs["bucketed"])
    for name, q in _SHAPES.items():
        _, jobs = job_ids(lambda: engine.execute(q))
        assert jobs == [], (name, jobs)

    def action_jobs(q):
        df = engine.execute(q)
        rows, jobs = job_ids(df.collect)
        return sorted(r.node_id for r in rows), len(jobs)

    fused, fused_jobs = action_jobs(_SHAPES["follow_skip_limit"])
    taken, take_jobs = action_jobs('get "n5" |> follow "knows" 1 |> take 2')
    assert (fused, taken) == (["n9"], ["n6", "n9"])
    assert fused_jobs <= take_jobs, (fused_jobs, take_jobs)


# served shapes over the FK graph -> their job bound for a server fetch
_FK_SHAPES = {
    "one_hop": ('get "customer:1" |> follow "placed" 1', 3),
    "two_hop": (
        'get "customer:1" |> follow "in_nation" 1 |> follow "in_region" 1', 5
    ),
}


def test_fk_serve_runs_no_shuffle(spark, sf_dir, tmp_path, job_ids):
    """The registry's FK edges are persisted hash-partitioned on `dst`,
    so a served traversal over them (props on a bucketed layout) plans
    no shuffle Exchange, and the server's bounded fetch of one_hop fires
    at most 3 jobs (two_hop 5), with the rows of the same graph whose
    edges carry no layout (as after a put)."""
    from ekati_spark.queries.graph import _graph

    fk = _graph(spark, sf_dir)
    assert fk.edges.is_cached
    # the cached scan's own partitioning (executedPlan is AQE's wrapper)
    part = fk.edges._jdf.queryExecution().sparkPlan().outputPartitioning()
    assert part.toString().startswith("hashpartitioning(dst"), part.toString()
    path = str(tmp_path / "props")
    write_bucketed_props(fk.props, path, n_buckets=8)
    served = PropertyGraph.from_bucketed(spark, path)
    served.edges = fk.edges
    engine = QueryEngine(spark, graph=served)
    unlaid = QueryEngine(
        spark, graph=PropertyGraph(fk.props, fk.edges.repartition(3))
    )
    for name, (q, max_jobs) in _FK_SHAPES.items():
        rows, jobs = job_ids(engine.execute(q).limit(1000).collect)
        assert 0 < len(jobs) <= max_jobs, (name, jobs)
        assert rows and sorted(rows) == sorted(unlaid.execute(q).collect()), name
    one_hop = engine.execute(_FK_SHAPES["one_hop"][0])
    one_hop.collect()
    assert _exchanges(one_hop) == []

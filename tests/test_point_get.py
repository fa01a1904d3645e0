"""Step-free DSL gets (exact ids, only ``fields`` steps) are lowered to a
literal predicate on the props scan instead of the seed semi-join and
lineage cut: they must answer exactly as the general path does and
build with no Spark job, in memory and on a bucketed layout."""

from __future__ import annotations

import pytest

from ekati_spark.graph.compiler import QueryEngine
from ekati_spark.graph.model import PropertyGraph
from ekati_spark.graph.storage import write_bucketed_props
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


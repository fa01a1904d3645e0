"""Source/sink coverage (SURVEY §2.3 row 1-2): parquet/CSV/JSON read and
write round-trips, partitioned writes with partition pruning, and
append/overwrite modes."""

from __future__ import annotations

from pyspark.sql import functions as F

from ekati_spark.catalog import load_table


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    out = str(tmp_path / "nation_pq")
    src.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_csv_roundtrip_with_schema(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    out = str(tmp_path / "nation_csv")
    src.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(src.schema).option("header", True).csv(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir).select("n_nationkey", "n_name")
    out = str(tmp_path / "nation_json")
    src.write.mode("overwrite").json(out)
    back = spark.read.schema(src.schema).json(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """partitionBy layout + filter → PartitionFilters in the scan, not a
    full-directory read (the 100 TB layout contract)."""
    src = _nation(spark, sf_dir)
    out = str(tmp_path / "nation_part")
    src.write.mode("overwrite").partitionBy("n_regionkey").parquet(out)
    back = spark.read.parquet(out).filter(F.col("n_regionkey") == 2)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "n_regionkey" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == src.filter(F.col("n_regionkey") == 2).count()


def test_append_accumulates_overwrite_replaces(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    out = str(tmp_path / "nation_modes")
    src.write.mode("overwrite").parquet(out)
    src.write.mode("append").parquet(out)
    assert spark.read.parquet(out).count() == 2 * src.count()
    src.write.mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == src.count()


def test_bucketed_table_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """bucketBy co-located join: two tables bucketed on the key join
    without an Exchange on either side (scale path for repeated fact-fact
    joins)."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    ords.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("t_orders_b")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("t_lineitem_b")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # at these sizes the planner would broadcast (disabled above to
        # model the fact-fact case buckets exist for); the bucketed join
        # must then run shuffle-free
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_compact_reduces_file_count_and_preserves_rows(spark, sf_dir, tmp_path):
    from ekati_spark.sources.maintenance import compact, layout_stats

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    frag = str(tmp_path / "frag")
    li.repartition(64).write.parquet(frag)  # simulate append explosion
    assert layout_stats(frag)["n_files"] == 64

    out = str(tmp_path / "compact")
    res = compact(spark, frag, out, target_file_bytes=1 << 30)
    assert res["after"]["n_files"] == 1
    assert res["after"]["total_bytes"] < res["before"]["total_bytes"]

    got = spark.read.parquet(out)
    assert got.count() == li.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, li.collect()))


def test_compact_sorted_clusters_for_pruning(spark, sf_dir, tmp_path):
    from ekati_spark.sources.maintenance import compact

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    frag = str(tmp_path / "frag2")
    li.repartition(16).write.parquet(frag)
    out = str(tmp_path / "sorted")
    compact(spark, frag, out, target_file_bytes=50_000, sort_cols=["l_orderkey"])
    # clustered layout: each output file covers a disjoint key range, so
    # a point-range scan prunes row groups; cheap proxy — rows survive
    got = spark.read.parquet(out)
    assert got.count() == li.count()


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC source/sink: schema + values round-trip, and predicates push
    into the ORC scan like parquet (searchArgument / PushedFilters)."""
    src = _nation(spark, sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    out = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    plan = (
        back.filter(F.col("n_regionkey") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    assert "n_regionkey" in plan.split("PushedFilters")[1][:160]


def test_zorder_compact_clusters_both_dims(spark, tmp_path):
    """Z-order vs single-key sort on a 64x64 uniform grid: the z-ordered
    layout's per-file bounding boxes are tight in BOTH dims (so min/max
    row-group stats prune filters on either column), while the
    single-key sort leaves the second dim's per-file range at ~full
    domain. Row fidelity preserved."""
    from ekati_spark.sources.maintenance import compact, zorder_compact

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.col("id").alias("payload"),
    )
    frag = str(tmp_path / "grid")
    grid.repartition(8).write.parquet(frag)
    # ~16 output files either way (equal byte budget)
    from ekati_spark.sources.maintenance import layout_stats

    budget = max(1, layout_stats(frag)["total_bytes"] // 16)
    zout = str(tmp_path / "zord")
    sout = str(tmp_path / "sorted")
    zorder_compact(spark, frag, zout, cols=["x", "y"], target_file_bytes=budget)
    compact(spark, frag, sout, target_file_bytes=budget, sort_cols=["x"])

    def avg_ranges(path):
        per = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("rx"),
                (F.max("y") - F.min("y")).alias("ry"),
            )
            .agg(F.avg("rx").alias("rx"), F.avg("ry").alias("ry"))
            .first()
        )
        return per.rx, per.ry

    zx, zy = avg_ranges(zout)
    sx, sy = avg_ranges(sout)
    assert zy < 0.5 * 63, (zy, sy)        # z-order bounds the 2nd dim
    assert sy > 0.9 * 63                  # single-key sort does not
    assert zx + zy < sx + sy              # tighter total bounding box
    got = spark.read.parquet(zout)
    assert got.count() == 64 * 64
    assert got.agg(F.sum("payload")).first()[0] == (64 * 64) * (64 * 64 - 1) // 2


def test_binary_file_media_ingestion_decodes(spark, tmp_path):
    """End-to-end multimodal file ingestion: PNG files on disk ->
    binaryFile source -> (content, media) columns -> REAL pure-stdlib
    decode recovers each image's planted dimensions."""
    from ekati_spark.operators.multimodal import extract_features, load_media_dir
    from ekati_spark.operators.png import planted_png

    d = tmp_path / "imgs"
    d.mkdir()
    for i in (3, 7, 20):
        (d / f"img_{i:03d}.png").write_bytes(planted_png(i))
    (d / "ignore.txt").write_text("not an image")

    mm = load_media_dir(spark, str(d))
    assert mm.count() == 3  # glob filtered the .txt out
    feats = extract_features(
        mm.withColumn(
            "doc_id",
            F.regexp_extract("path", r"img_(\d+)\.png", 1).cast("long"),
        ),
        fake=False,
    )
    got = {
        r.doc_id: (round(r.features[0] * 4096), round(r.features[1] * 4096))
        for r in feats.collect()
    }
    assert got == {i: (4 + i % 13, 4 + i % 7) for i in (3, 7, 20)}


# -- Python DataSource API: the `ntriples` format ------------------------

NT_FIXTURE = "tests/fixtures/sample.nt"


def _nt_df(spark, **options):
    from ekati_spark.sources import pyds

    pyds.register(spark)
    r = spark.read.format("ntriples")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(NT_FIXTURE)


def test_ntriples_datasource_reads_fixture(spark):
    rows = {tuple(r) for r in _nt_df(spark).collect()}
    assert (
        "http://example.org/alice",
        "http://xmlns.com/foaf/0.1/knows",
        "http://example.org/bob",
        "iri",
        None,
        None,
    ) in rows
    assert (
        "http://example.org/bob",
        "http://example.org/greeting",
        "hi",
        "literal",
        None,
        "en",
    ) in rows
    # typed literal carries its dtype iri; blank subjects keep _: form
    kinds = {r[3] for r in rows}
    assert kinds == {"iri", "literal"} or "blank" in kinds
    assert any(s.startswith("_:") for s, *_ in rows)


def test_ntriples_datasource_chunk_invariance(spark):
    """Byte-range partitioning must be a pure parallelization detail:
    any chunk size yields the same triple multiset (the newline
    alignment rule — partitions starting mid-line skip their partial
    first line, owners read one line past their end)."""
    base = sorted(map(tuple, _nt_df(spark).collect()))
    for chunk in (37, 64, 101):
        got = sorted(map(tuple, _nt_df(spark, chunk_bytes=chunk).collect()))
        assert got == base, f"chunk_bytes={chunk} changed the result"


def test_ntriples_datasource_agrees_with_distributed_loader(spark):
    """The raw-triple source and the props-row loader must see the same
    (subject, predicate) stream (modulo blank-node relabeling)."""
    from ekati_spark.sources.ntriples import load_ntriples

    raw = _nt_df(spark).collect()
    props = load_ntriples(spark, NT_FIXTURE, run_id="x").collect()
    assert len(raw) == len(props)
    assert sorted(r.pred for r in raw) == sorted(p.key for p in props)


def test_parse_nt_line_edge_cases():
    from ekati_spark.sources.pyds import parse_nt_line

    assert parse_nt_line("") is None
    assert parse_nt_line("# comment") is None
    assert parse_nt_line("not a triple .") is None
    s = parse_nt_line('<a> <b> "x\\"y" .')
    assert s == ("a", "b", 'x"y', "literal", None, None)
    u = parse_nt_line('<a> <b> "A\\u0042\\n" .')
    assert u == ("a", "b", "AB\n", "literal", None, None)
    lone = parse_nt_line('<a> <b> "bad\\uD800end" .')
    assert lone[2] == "bad\uFFFDend"  # lone surrogate -> U+FFFD
    assert parse_nt_line("_:n1 <p> _:n2 .") == (
        "_:n1", "p", "_:n2", "blank", None, None
    )


def test_ntriples_datasource_write_roundtrip(spark, tmp_path):
    """Writer side of the Python DataSource: DataFrame -> .nt files
    (staged-then-published) -> read back identical, across multiple
    partitions and escape-needing literals."""
    df = _nt_df(spark)
    out = str(tmp_path / "nt_out")
    df.repartition(3).write.format("ntriples").mode("append").save(out)
    import os

    files = os.listdir(out)
    assert all(f.endswith(".nt") for f in files) and "_staging" not in files
    back = spark.read.format("ntriples").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_ntriples_stream_tails_appended_lines(spark, tmp_path):
    """Streaming side of the Python DataSource: per-file byte offsets,
    only complete lines consumed (a partial trailing line waits for its
    newline), and a checkpointed restart picks up ONLY the appended
    delta."""
    from ekati_spark.sources import pyds

    pyds.register(spark)
    src = tmp_path / "feed.nt"
    ck = str(tmp_path / "ck")
    src.write_text('<a> <p> "one" .\n<b> <p> "two" .\n<c> <p> "part')

    out = str(tmp_path / "sink")

    def run():
        stream = spark.readStream.format("ntriples").load(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.subj for r in spark.read.parquet(out).collect())

    assert run() == ["a", "b"]  # partial 'c' line held back
    with open(src, "a") as f:
        f.write(' x" .\n<d> <p> "four" .\n')
    # same checkpoint: the restart consumes ONLY the appended delta, so
    # the sink accumulates each line exactly once
    assert run() == ["a", "b", "c", "d"]


def test_ntriples_datasource_overwrite_replaces(spark, tmp_path):
    df = _nt_df(spark)
    out = str(tmp_path / "nt_ow")
    df.write.format("ntriples").mode("append").save(out)
    df.write.format("ntriples").mode("append").save(out)
    back2 = spark.read.format("ntriples").load(out)
    assert back2.count() == 2 * df.count()  # append accumulates
    df.write.format("ntriples").mode("overwrite").save(out)
    back3 = spark.read.format("ntriples").load(out)
    assert back3.count() == df.count()  # overwrite swapped it out


def test_parse_nt_line_never_raises_on_hostile_literals():
    """Malformed escapes (out-of-range \\U, lone surrogates, trailing
    backslashes) must degrade to U+FFFD / verbatim text, never raise —
    one bad literal must not fail a read partition."""
    from ekati_spark.sources.pyds import parse_nt_line

    hostile = [
        '<a> <b> "\\UFFFFFFFF" .',
        '<a> <b> "\\uD800 alone" .',
        '<a> <b> "pair \\uD83D\\uDE00 ok" .',
        '<a> <b> "\\q unknown escape" .',
    ]
    out = [parse_nt_line(line) for line in hostile]
    assert out[0][2] == "�"
    assert out[1][2].startswith("�")
    assert out[2][2] == "pair \U0001F600 ok"
    assert out[3][2] == "\\q unknown escape"


def test_bucketed_props_point_lookup_prunes_partitions(spark, tmp_path):
    """Bucketed graph layout (graph/storage.py): `get "<id>"` through
    QueryEngine over ``from_bucketed`` must plan a PartitionFilters
    entry on the bucket column (only 1/n_buckets of the directories
    opened — the reference's murmur3 partition routing,
    FileStore.fs:281-298) plus a pushed node_id filter, and return
    exactly the node's rows."""
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.graph.model import PropertyGraph
    from ekati_spark.graph.storage import (
        bucket_expr,
        bucket_of,
        write_bucketed_props,
    )
    from ekati_spark.schemas import PROPS_SCHEMA

    rows = [
        (f"n{i}", "", "size", 1, "i64", None, i, None, None, None, None,
         None, None)
        for i in range(200)
    ]
    props = spark.createDataFrame(rows, PROPS_SCHEMA)
    path = str(tmp_path / "props_bucketed")
    write_bucketed_props(props, path, n_buckets=8)

    # spark-side and driver-side bucket functions agree on every id
    twin = props.select(
        "node_id", bucket_expr(F.col("node_id"), 8).alias("b")
    ).collect()
    assert all(bucket_of(r.node_id, 8) == r.b for r in twin)

    # full view round-trips
    back = spark.read.parquet(path).drop("bucket")
    assert back.count() == 200

    engine = QueryEngine(spark, graph=PropertyGraph.from_bucketed(spark, path))
    out = engine.execute('get "n137"')
    got = out.collect()
    assert len(got) == 1 and got[0].node_id == "n137" and got[0].i64 == 137

    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.find("PartitionFilters"):][:200]
    assert "PartitionFilters: [" in plan and "bucket" in pf, pf
    assert "PushedFilters" in plan and "node_id" in plan.split(
        "PushedFilters"
    )[1][:200]


def test_query_engine_point_lookup_on_bucketed_graph(spark, tmp_path, job_ids):
    """End-to-end DSL point lookup on a bucketed on-disk graph:
    `get "<id>"` through QueryEngine builds with no Spark job, collects
    with one, plans a bucket PartitionFilter (no full scan) and a
    pushed node_id filter with no lineage-cut checkpoint scan, and
    returns the node's attributes."""
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.graph.model import PropertyGraph
    from ekati_spark.graph.storage import write_bucketed_props
    from ekati_spark.schemas import PROPS_SCHEMA

    rows = [
        (f"n{i}", "", "size", 1, "i64", None, i, None, None, None, None,
         None, None)
        for i in range(100)
    ]
    props = spark.createDataFrame(rows, PROPS_SCHEMA)
    path = str(tmp_path / "bucketed_graph")
    write_bucketed_props(props, path, n_buckets=8)

    g = PropertyGraph.from_bucketed(spark, path)
    engine = QueryEngine(spark, graph=g)
    out, build_jobs = job_ids(lambda: engine.execute('get "n42"'))
    assert build_jobs == []
    got, action_jobs = job_ids(out.collect)
    assert len(action_jobs) == 1, action_jobs
    assert {r.node_id for r in got} == {"n42"}

    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.find("PartitionFilters"):][:200]
    assert "PartitionFilters: [" in plan and "bucket" in pf, pf
    pushed = plan[plan.find("PushedFilters"):][:300]
    assert "In(node_id" in pushed or "EqualTo(node_id" in pushed, pushed
    assert "ExistingRDD" not in plan, plan


def test_bucketed_props_are_sorted_on_node_id(spark, tmp_path):
    """Each bucket file of a props layout holds its rows in node_id
    order, so with several row groups per file the groups cover
    ascending, disjoint node_id ranges (what lets a pushed `node_id IN`
    skip the groups that hold no seed). The ids reach the write in a
    shuffled order."""
    import glob
    import os
    import random

    import pyarrow.parquet as pq

    from ekati_spark.graph.storage import write_bucketed_props
    from ekati_spark.schemas import PROPS_SCHEMA, prop_row

    ids = [f"n{i:05d}" for i in range(4000)]
    random.Random(7).shuffle(ids)
    props = spark.createDataFrame(
        [prop_row(i, "size", 1, ts=1) for i in ids], PROPS_SCHEMA
    )
    path = str(tmp_path / "sorted_props")
    spark.conf.set("parquet.block.size", "4096")  # many small row groups
    try:
        write_bucketed_props(props, path, n_buckets=8)
    finally:
        spark.conf.unset("parquet.block.size")
    files = glob.glob(f"{path}/bucket=*/*.parquet")
    assert len({os.path.dirname(f) for f in files}) == 8
    n_groups = 0
    for f in files:
        pf = pq.ParquetFile(f)
        col = pf.read(columns=["node_id"]).column("node_id").to_pylist()
        assert col == sorted(col), f
        col_idx = pf.schema_arrow.get_field_index("node_id")
        ranges = [
            (st.min, st.max)
            for st in (
                pf.metadata.row_group(g).column(col_idx).statistics
                for g in range(pf.metadata.num_row_groups)
            )
        ]
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), f
        n_groups += len(ranges)
    assert n_groups > 2 * len(files), n_groups  # several groups a file


def test_bucketed_follow_matches_flat_and_prunes(spark, sf_dir, job_ids):
    """A traversal over the bucketed edge layout must return exactly the
    flat follow's results for all three bench specs (named single-hop,
    Or of labels, any-edge range incl. hop 0), while each hop's scan
    carries a PartitionFilters entry on the frontier's buckets — the
    reference's per-hop remote partition lookup (FileStore.fs:281-298)
    as parquet partition pruning."""
    from ekati_spark.graph.storage import (
        bucket_expr,
        bucketed_edge_source,
        write_bucketed_edges,
    )
    from ekati_spark.graph.traverse import Any, Edge, Or, follow
    from ekati_spark.queries.graph import _graph
    import tempfile

    g = _graph(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="bucketed_edges_") + "/edges"
    write_bucketed_edges(g.edges, path, n_buckets=16)

    seeds = spark.createDataFrame(
        [(f"customer:{i}",) for i in range(1, 6)], "node_id string"
    )
    for spec in (
        Edge("placed", 1, 1),
        Or(Edge("placed", 1, 1), Edge("contains", 2, 2)),
        Any(0, 2),
    ):
        flat = {r.node_id for r in follow(g.edges, seeds, spec).collect()}
        stats: dict = {}
        src = bucketed_edge_source(spark, path, stats)
        bucketed = {r.node_id for r in follow(src, seeds, spec).collect()}
        assert bucketed == flat, (spec, len(bucketed), len(flat))
        assert stats and all(
            0 < len(b) <= 16 for b in stats.values()
        ), stats

    # pruning is visible in the plan of a single bound hop, and binding
    # the hop fires only the frontier's distinct-buckets collect: the
    # layout was opened once, before the hop, so no schema job
    src = bucketed_edge_source(spark, path)
    hop_edges, hop_jobs = job_ids(lambda: src(seeds, 1))
    _, collect_jobs = job_ids(
        seeds.select(bucket_expr(F.col("node_id"), 16).alias("b"))
        .distinct()
        .collect
    )
    assert len(hop_jobs) == len(collect_jobs), (hop_jobs, collect_jobs)
    plan = hop_edges._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.find("PartitionFilters"):][:250]
    assert "PartitionFilters: [" in plan and "bucket" in pf, pf
    # 5 seeds own ≤5 of 16 buckets, so the pruned scan must carry well
    # under half the graph's distinct sources (it reads whole probed
    # partitions — pruning is per-directory, not per-row)
    total_src = (
        spark.read.parquet(path).drop("bucket").select("src").distinct()
        .count()
    )
    assert hop_edges.select("src").distinct().count() <= total_src * 6 / 16


# -- Python DataSource API: the `warc` format ----------------------------


def _make_warc_df(spark, n=40):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.concat(F.lit("<urn:uuid:"), F.col("id"), F.lit(">")).alias(
                "record_id"
            ),
            F.lit("response").alias("warc_type"),
            F.concat(F.lit("http://corpus.example/doc/"), F.col("id")).alias(
                "target_uri"
            ),
            F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
            F.lit("text/plain").alias("content_type"),
            F.lit(0).cast("bigint").alias("content_length"),
            F.encode(
                F.concat(F.lit("payload-"), F.repeat(F.lit("x"), F.col("id").cast("int"))),
                "UTF-8",
            ).alias("payload"),
        )
    )


def test_warc_write_read_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from ekati_spark.sources import warc

    warc.register(spark)
    df = _make_warc_df(spark)
    df.write.format("warc").mode("overwrite").save(str(tmp_path / "w"))
    back = spark.read.format("warc").load(str(tmp_path / "w"))
    assert back.count() == 40
    got = {
        r["record_id"]: (r["content_length"], bytes(r["payload"]))
        for r in back.collect()
    }
    want = {
        r["record_id"]: (len(bytes(r["payload"])), bytes(r["payload"]))
        for r in df.collect()
    }
    assert got == want
    # payloads containing the record marker must not break framing
    evil = spark.createDataFrame(
        [
            (
                "<urn:uuid:evil>",
                "response",
                "http://x/evil",
                "2026-01-01T00:00:00Z",
                "application/octet-stream",
                0,
                bytearray(b"a\r\n\r\nWARC/1.0\r\nnope\r\nb"),
            )
        ],
        warc.WARC_SCHEMA,
    )
    evil.write.format("warc").mode("overwrite").save(str(tmp_path / "e"))
    r = spark.read.format("warc").load(str(tmp_path / "e")).collect()
    assert len(r) == 1
    assert bytes(r[0]["payload"]) == b"a\r\n\r\nWARC/1.0\r\nnope\r\nb"


def test_warc_gzip_roundtrip(spark, tmp_path):
    from ekati_spark.sources import warc

    warc.register(spark)
    df = _make_warc_df(spark, n=17)
    (
        df.write.format("warc")
        .option("compression", "gzip")
        .mode("overwrite")
        .save(str(tmp_path / "gz"))
    )
    import os

    files = os.listdir(tmp_path / "gz")
    assert files and all(f.endswith(".warc.gz") for f in files)
    back = spark.read.format("warc").load(str(tmp_path / "gz"))
    assert back.count() == 17
    assert sorted(
        bytes(r["payload"]) for r in back.collect()
    ) == sorted(bytes(r["payload"]) for r in df.collect())


def test_warc_chunk_split_invariance(spark, tmp_path):
    """Byte-range splitting must not duplicate or drop boundary records:
    a tiny chunk_bytes forces many mid-record partition starts."""
    from ekati_spark.sources import warc

    warc.register(spark)
    df = _make_warc_df(spark, n=60)
    df.coalesce(1).write.format("warc").mode("overwrite").save(
        str(tmp_path / "w")
    )
    whole = spark.read.format("warc").load(str(tmp_path / "w"))
    tiny = (
        spark.read.format("warc")
        .option("chunk_bytes", "256")
        .load(str(tmp_path / "w"))
    )
    assert tiny.rdd.getNumPartitions() > 4
    assert sorted(r["record_id"] for r in tiny.collect()) == sorted(
        r["record_id"] for r in whole.collect()
    )


def test_warc_stream_consumes_each_archive_once(spark, tmp_path):
    """File-granular tail: two publishes drained against one
    checkpoint land every record exactly once."""
    from ekati_spark.sources import warc

    warc.register(spark)
    feed, out, ck = str(tmp_path / "f"), str(tmp_path / "o"), str(
        tmp_path / "ck"
    )

    def drain():
        q = (
            spark.readStream.format("warc")
            .load(feed)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _make_warc_df(spark, n=12).write.format("warc").option(
        "compression", "gzip"
    ).mode("append").save(feed)
    drain()
    _make_warc_df(spark, n=30).filter(
        "CAST(regexp_extract(target_uri, '/doc/(\\\\d+)$', 1) AS INT) >= 12"
    ).write.format("warc").mode("append").save(feed)
    drain()
    landed = spark.read.parquet(out)
    assert landed.count() == 30
    assert landed.select("record_id").distinct().count() == 30


def test_warc_read_record_rejects_torn_and_unframed_records():
    """A truncated payload (torn write / partial upload) and a record
    without Content-Length must fail LOUDLY — defaulting would silently
    mis-frame every later record in the stream."""
    import io

    import pytest as _pytest

    from ekati_spark.sources.warc import _read_record

    good = (
        b"WARC/1.0\r\nWARC-Record-ID: <a>\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Type: text/plain\r\nContent-Length: 100\r\n\r\n"
        + b"x" * 40  # 60 bytes short
    )
    with _pytest.raises(ValueError, match="truncated"):
        _read_record(io.BytesIO(good))

    no_cl = (
        b"WARC/1.0\r\nWARC-Record-ID: <a>\r\nWARC-Type: response\r\n"
        b"Content-Type: text/plain\r\n\r\npayload"
    )
    with _pytest.raises(ValueError, match="Content-Length"):
        _read_record(io.BytesIO(no_cl))


def test_warc_framing_roundtrips_arbitrary_payloads():
    """Property test: ANY byte payload — including ones embedding the
    record marker, header-like lines, or raw CRLF runs — survives
    frame→parse unchanged, sequentially and via boundary alignment."""
    import io

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ekati_spark.sources.warc import _align_to_record, _read_record

    def frame(i, payload):
        head = (
            f"WARC/1.0\r\nWARC-Record-ID: <urn:{i}>\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: http://x/{i}\r\n"
            "WARC-Date: 2026-01-01T00:00:00Z\r\n"
            "Content-Type: application/octet-stream\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return head + payload + b"\r\n\r\n"

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.binary(min_size=0, max_size=200).flatmap(
                lambda b: st.sampled_from(
                    [
                        b,
                        b + b"\r\n\r\nWARC/1.0\r\n",
                        b"\r\n\r\nWARC/" + b,
                        b"Content-Length: 7\r\n" + b,
                    ]
                )
            ),
            min_size=1,
            max_size=6,
        )
    )
    def check(payloads):
        data = b"".join(frame(i, p) for i, p in enumerate(payloads))
        fh = io.BytesIO(data)
        got = []
        while True:
            r = _read_record(fh)
            if r is None:
                break
            got.append(bytes(r[6]))
        assert got == payloads
        # every alignment lands on a parseable record start (or EOF)
        f2 = io.BytesIO(data)
        for off in range(0, len(data), 97):
            f2.seek(off)
            s = _align_to_record(f2, len(data))
            if s < len(data):
                f2.seek(s)
                assert _read_record(f2) is not None

    check()


def test_warc_stream_max_files_per_batch_drains_over_batches(
    spark, tmp_path
):
    """A multi-file landing with maxFilesPerBatch=1 drains one archive
    per micro-batch — bounded driver memory — and still lands every
    record exactly once (the offset advances only past files read)."""
    from ekati_spark.sources.warc import WarcStreamReader
    from ekati_spark.sources import warc

    warc.register(spark)
    feed = str(tmp_path / "f")
    # three single-file publishes = three archives in the landing dir
    for lo, hi in ((0, 4), (4, 9), (9, 15)):
        _make_warc_df(spark, n=hi).filter(
            f"CAST(regexp_extract(target_uri, '/doc/(\\\\d+)$', 1) "
            f"AS INT) >= {lo}"
        ).coalesce(1).write.format("warc").mode("append").save(feed)

    reader = WarcStreamReader({"path": feed, "maxFilesPerBatch": "1"})
    offset = reader.initialOffset()
    batches = []
    for _ in range(10):
        it, offset = reader.read(offset)
        rows = list(it)
        if not rows:
            break
        batches.append(rows)
    # 3 archives, cap 1 -> exactly 3 non-empty batches
    assert len(batches) == 3
    assert all(
        len({r[0] for r in b}) == len(b) for b in batches
    )  # no dup record within a batch
    got = sorted(r[0] for b in batches for r in b)
    assert len(got) == 15 and len(set(got)) == 15
    # replay contract: each batch's end offset re-reads the same rows
    # the capped reader emitted (restart safety is per-batch)
    uncapped = WarcStreamReader({"path": feed})
    it, end = uncapped.read(uncapped.initialOffset())
    assert sorted(r[0] for r in it) == got

    # end-to-end: the option reaches the reader through the DataSource
    out, ck = str(tmp_path / "o"), str(tmp_path / "ck")
    for _ in range(4):  # availableNow + cap=2 needs >=2 drains
        q = (
            spark.readStream.format("warc")
            .option("maxFilesPerBatch", "2")
            .load(feed)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    landed = spark.read.parquet(out)
    assert landed.count() == 15
    assert landed.select("record_id").distinct().count() == 15

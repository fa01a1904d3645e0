"""Property-graph data model over DataFrames (SURVEY.md §1.5).

The reference's Node (``src/ahghee.grpc/types.proto:66-70``) is an
attribute multimap with timestamps; edges are NodeID-valued attributes
(``types.proto:29-31``). We hold the graph as two DataFrames:

- ``props(node_id, remote, key, ts, dtype, str, i64, dbl, bool, ref,
  bytes, meta_type, meta_lang)`` — long format, one row per attribute
  version (PROPS_SCHEMA).
- ``edges(src, label, dst, ts)`` — the dtype='ref' projection.

Multiple writes accumulate rows (the reference's fragment-merge
semantics, ``NodeAttrIndex.cs:187-232``); the ``latest`` view applies
last-write-wins per (node_id, key) (``Printers.cs:139-169``), ``history``
keeps all versions ordered by ts.

``from_relational`` derives a graph from the driver's TPC-H-ish tables
(FIXTURES.md §B note: FK edges customer-[placed]->orders-[contains]->
lineitem etc.) so traversal results are verifiable by the relational
DuckDB oracle via joins.

Scale: both DataFrames stay distributed. ``from_relational``'s edges
are hash-partitioned on ``dst``, so a traversal over them, persisted,
runs no Exchange (its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ekati_spark.catalog import load_table
from ekati_spark.schemas import PROPS_SCHEMA


class PropertyGraph:
    def __init__(self, props: DataFrame, edges: DataFrame | None = None):
        self.props = props
        # set by from_bucketed: (layout_df, n_buckets), layout_df being
        # the opened layout WITH its bucket column — the compiler derives
        # bucket-pruned reads from it (`.filter(bucket.isin(...))`), so a
        # get never re-reads the path or re-infers its schema
        self.bucket_info: tuple[DataFrame, int] | None = None
        if edges is None:
            edges = props.filter(F.col("dtype") == "ref").select(
                F.col("node_id").alias("src"),
                F.col("key").alias("label"),
                F.col("ref").alias("dst"),
                F.col("ts"),
            )
        self.edges = edges

    @classmethod
    def from_bucketed(cls, spark: SparkSession, path: str) -> "PropertyGraph":
        """Open a graph persisted by ``graph.storage.write_bucketed_props``.
        The layout is read once, here: full scans read everything as
        usual; exact-id gets (`get "<id>"`) are served by the compiler
        from the opened frame with the bucket literal bound driver-side,
        so planning prunes every other partition directory — the
        reference's murmur3 partition routing (FileStore.fs:281-298) as
        parquet layout.

        An opened layout is immutable: its file listing and schema are
        fixed at open time (the full-scan view always relied on this).
        Reopen the path after rewriting it."""
        from ekati_spark.graph.storage import read_bucket_count

        layout = spark.read.parquet(path)
        g = cls(layout.drop("bucket"))
        g.bucket_info = (layout, read_bucket_count(path))
        return g

    # -- views ------------------------------------------------------------

    def nodes(self) -> DataFrame:
        """Distinct node ids (a full scan, reference FileStore.fs:300-315)."""
        return self.props.select("node_id").distinct()

    def latest(self) -> DataFrame:
        """Last-write-wins view per (node_id, key) — but attributes are a
        *multimap* (Tests.fs:200-205: three same-key `follows` edges all
        survive), so we keep every row at the key's max timestamp, not one
        row. Exact duplicates collapse like the reference's `.Distinct()`
        (FileStore.fs:74-79).
        """
        w = W.partitionBy("node_id", "remote", "key")
        return (
            self.props.withColumn("__max_ts", F.max("ts").over(w))
            .filter(F.col("ts") == F.col("__max_ts"))
            .drop("__max_ts")
            .dropDuplicates()
        )

    def history(self) -> DataFrame:
        """All attribute versions, ts ascending per (node_id, key)."""
        return self.props.orderBy("node_id", "remote", "key", "ts")

    def out_degree(self) -> DataFrame:
        return self.edges.groupBy("src").agg(F.count("*").alias("out_degree"))

    def in_degree(self) -> DataFrame:
        return self.edges.groupBy("dst").agg(F.count("*").alias("in_degree"))

    def reversed(self) -> "PropertyGraph":
        """Graph with every edge flipped (for in-edge traversal)."""
        rev = self.edges.select(
            F.col("dst").alias("src"),
            F.col("label"),
            F.col("src").alias("dst"),
            F.col("ts"),
        )
        return PropertyGraph(self.props, rev)

    # -- mutation / lookup (SURVEY §2 #8, #9) ------------------------------

    def remove_nodes(self, ids: list[str]) -> "PropertyGraph":
        """``IStorage.Remove`` parity (``Utils.cs:57``; the reference's
        file store never implemented it — ``FileStore.fs:554`` throws;
        intent from ``MemoryStore.fs:18-22``): drop every attribute row of
        the given ids. Anti-join rewrite — on Delta this is ``DELETE
        WHERE node_id IN …``."""
        spark = self.props.sparkSession
        victims = spark.createDataFrame(
            [(i,) for i in ids], "node_id string"
        )
        # Filter self.edges rather than re-deriving from props: a
        # from_relational graph's FK edges exist ONLY in the edges frame
        # and would silently vanish. Out-edges of a removed node go with
        # its attribute rows; in-edges (refs held by OTHER nodes) stay
        # dangling, exactly as the props-derived view behaves.
        return PropertyGraph(
            self.props.join(victims, "node_id", "left_anti"),
            self.edges.join(
                victims.select(F.col("node_id").alias("src")),
                "src",
                "left_anti",
            ),
        )

    def first(self, predicate) -> DataFrame:
        """``IStorage.First(Func<Node,bool>)`` parity (``Utils.cs:58``,
        ``MemoryStore.fs:38-43``): attribute rows of one node whose props
        satisfy ``predicate`` (a Column over the long format). The
        reference's pick is storage-order-arbitrary; ours is the min
        node_id (deterministic-order policy, SURVEY §5d)."""
        hit = (
            self.props.filter(predicate)
            .select("node_id")
            .orderBy("node_id")
            .limit(1)
        )
        return self.props.join(hit, "node_id", "left_semi")

    def stats(self) -> DataFrame:
        """Engine-stats parity (``GetStats``/``ListStats`` RPCs,
        ``types.proto:235-238``): corpus-level counts as a one-row
        DataFrame (node/edge/attribute-row totals plus label
        cardinality). Edge counts come from ``self.edges`` so both graph
        shapes agree (put-ingest graphs derive edges from dtype='ref'
        prop rows; ``from_relational`` holds them separately). Execution
        telemetry itself is Spark's own UI/metrics/SparkListener
        surface."""
        ps = self.props.agg(
            F.countDistinct("node_id").alias("n_nodes"),
            F.count("*").alias("n_attr_rows"),
        )
        es = self.edges.agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("label").alias("n_edge_labels"),
        )
        return ps.crossJoin(es)

    # -- persistence (the Parquet replacement of the reference's FASTER
    # log + checkpoints, SURVEY §4) ---------------------------------------

    def save(self, path: str, mode: str = "overwrite", buckets: int = 0) -> None:
        """Write the graph to ``path`` as two parquet tables
        (``path/props``, ``path/edges``). Edges are persisted explicitly:
        a ``from_relational`` graph holds its FK edges only in the edges
        frame, and deriving them from props on reload would silently
        drop them (round-3 ADVICE). Materializing the edge table is also
        the 100 TB layout — every BFS hop reads it. With ``buckets`` > 0
        both tables are repartitioned on their join key (node_id / src)
        so point lookups and traversal hops co-locate."""
        props, edges = self.props, self.edges
        if buckets:
            props = props.repartition(buckets, "node_id")
            edges = edges.repartition(buckets, "src")
        props.write.mode(mode).parquet(f"{path}/props")
        edges.write.mode(mode).parquet(f"{path}/edges")

    @staticmethod
    def load(spark: SparkSession, path: str) -> "PropertyGraph":
        return PropertyGraph(
            spark.read.parquet(f"{path}/props"),
            spark.read.parquet(f"{path}/edges"),
        )

    # -- constructors -----------------------------------------------------

    @staticmethod
    def from_rows(spark: SparkSession, rows) -> "PropertyGraph":
        return PropertyGraph(spark.createDataFrame(rows, PROPS_SCHEMA))

    @staticmethod
    def from_relational(spark: SparkSession, sf_dir: str) -> "PropertyGraph":
        """FK graph over the driver tables. Node ids are '<table>:<key>'.

        Edges: customer-[placed]->order, order-[contains]->lineitem,
        lineitem-[of_part]->part, lineitem-[from_supplier]->supplier,
        customer/supplier-[in_nation]->nation, nation-[in_region]->region.
        Props carry each table's scalar columns long-format.

        The edges are hash-partitioned on ``dst`` into
        ``defaultParallelism`` partitions. A traversal hop is
        ``edges ⋉ frontier`` with the frontier broadcast, so its output
        keeps that layout, clustered on the reached node: a caller that
        persists the edges (the registry's ``fk_graph`` store) serves a
        hop's group-by, the visited anti-join and the materialization
        with no Exchange. ``src`` would be the wrong key: a broadcast
        frontier never needs the edges clustered on it. A put unions new
        edges in (``QueryEngine._append``), which drops the layout:
        traversals then shuffle each hop's output, as over any edges
        with no layout.
        """
        cust = load_table(spark, sf_dir, "customer")
        ords = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        supp = load_table(spark, sf_dir, "supplier")
        nat = load_table(spark, sf_dir, "nation")
        reg = load_table(spark, sf_dir, "region")

        def nid(prefix: str, col) -> F.Column:
            return F.concat(F.lit(prefix + ":"), col.cast("string"))

        li_id = F.concat(
            F.lit("lineitem:"),
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        )

        def edge(df, src, label, dst) -> DataFrame:
            return df.select(
                src.alias("src"),
                F.lit(label).alias("label"),
                dst.alias("dst"),
                F.lit(0).cast("long").alias("ts"),
            )

        edges = (
            edge(ords, nid("customer", F.col("o_custkey")), "placed", nid("order", F.col("o_orderkey")))
            .unionByName(edge(li, nid("order", F.col("l_orderkey")), "contains", li_id))
            .unionByName(edge(li, li_id, "of_part", nid("part", F.col("l_partkey"))))
            .unionByName(edge(li, li_id, "from_supplier", nid("supplier", F.col("l_suppkey"))))
            .unionByName(edge(cust, nid("customer", F.col("c_custkey")), "in_nation", nid("nation", F.col("c_nationkey"))))
            .unionByName(edge(supp, nid("supplier", F.col("s_suppkey")), "in_nation", nid("nation", F.col("s_nationkey"))))
            .unionByName(edge(nat, nid("nation", F.col("n_nationkey")), "in_region", nid("region", F.col("n_regionkey"))))
            .repartition(spark.sparkContext.defaultParallelism, "dst")
        )

        def sprops(df, id_col, mapping: dict[str, F.Column]) -> DataFrame:
            parts = []
            for key, col in mapping.items():
                parts.append(
                    df.select(
                        id_col.alias("node_id"),
                        F.lit("").alias("remote"),
                        F.lit(key).alias("key"),
                        F.lit(0).cast("long").alias("ts"),
                        F.lit("str").alias("dtype"),
                        col.cast("string").alias("str"),
                        F.lit(None).cast("long").alias("i64"),
                        F.lit(None).cast("double").alias("dbl"),
                        F.lit(None).cast("boolean").alias("bool"),
                        F.lit(None).cast("string").alias("ref"),
                        F.lit(None).cast("binary").alias("bytes"),
                        F.lit(None).cast("string").alias("meta_type"),
                        F.lit(None).cast("string").alias("meta_lang"),
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        props = (
            sprops(cust, nid("customer", F.col("c_custkey")),
                   {"name": F.col("c_name"), "mktsegment": F.col("c_mktsegment"),
                    "acctbal": F.col("c_acctbal"), "labelV": F.lit("customer")})
            .unionByName(sprops(ords, nid("order", F.col("o_orderkey")),
                                {"orderstatus": F.col("o_orderstatus"),
                                 "orderpriority": F.col("o_orderpriority"),
                                 "totalprice": F.col("o_totalprice"),
                                 "labelV": F.lit("order")}))
            .unionByName(sprops(supp, nid("supplier", F.col("s_suppkey")),
                                {"name": F.col("s_name"), "labelV": F.lit("supplier")}))
            .unionByName(sprops(nat, nid("nation", F.col("n_nationkey")),
                                {"name": F.col("n_name"), "labelV": F.lit("nation")}))
            .unionByName(sprops(reg, nid("region", F.col("r_regionkey")),
                                {"name": F.col("r_name"), "labelV": F.lit("region")}))
        )
        return PropertyGraph(props, edges)

"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

One protocol at every scale factor. After the session warm-up
(``warm_up``), the whole HEADLINE set runs one UNTIMED pass, so each
query's first-run codegen and plan-compile cost lands outside the
record. Then three INTERLEAVED passes run the set round-robin, each
query executed to completion (``count``), and every entry reports the
MEDIAN of its three wall-clocks. Interleaving puts a transient
machine-load spike or late-session JVM aging on every query of a pass,
not on one query's whole sample, so no entry's number depends on where
in the run it sits. Every entry's run list goes to the detail sidecar
(``BENCH_DETAIL.json``).

The set spans every operator family: scan-agg, multi-join, window,
as-of, traversal, dedup (exact + MinHash-LSH + SimHash + transitive
group resolution), similarity top-k, text stats, repetition quality
filters, sequence packing, real PNG decode, real WAV audio decode,
streaming-shaped windows, PPS weighted sampling, BPE pair counting,
bitext margin mining, incremental MV maintenance, hashed-classifier
quality scoring, DSIR importance weighting, the peak-concurrency
interval sweep, the GK quantile-sketch path, Misra-Gries heavy
hitters, fixed-point HITS, and multi-source-BFS sampled centrality.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = [
    "r03_pricing_summary",
    "r10_shipping_priority",
    "r11_local_supplier_volume",
    "r17_window_topk_per_group",
    "r37_asof_join",
    "g02_follow_two_hop",
    "g03_follow_any_range",
    "l01_dedup_exact",
    "l03_minhash_lsh_pairs",
    "l04_simhash_pairs",
    "l05_embedding_dup_pairs",
    "l06_knn_bruteforce",
    "l08_text_stats",
    "l12_multimodal_features",
    "l61_audio_decode",
    "l20_dedup_groups",
    "l23_repetition_stats",
    "l25_pack_sequences",
    "l27_unigram_logprob",
    "l30_decontaminate",
    "l32_global_shuffle",
    "l36_source_token_report",
    "l38_chunk_dedup_rewrite",
    "l43_weighted_sample",
    "l44_bpe_merge_pairs",
    "l45_bitext_margin_pairs",
    # ANN-candidate twins of the two exact all-pairs baselines (l05,
    # l45): identical scoring over deterministic sign-LSH candidate
    # sets — the sub-quadratic shape a 100 TB run uses (measured at
    # sf1: 4.3 s vs 24.7 s exact, and 0.7 s vs 22.3 s exact)
    "l05b_dup_pairs_ann",
    "l45b_bitext_margin_ann",
    "l48_quality_classifier",
    "l49_dsir_importance",
    "r56_incremental_mv",
    "r57_max_concurrency",
    "r58_quantile_sketch",
    "r60_heavy_hitters",
    "g32_hits",
    "l57_curation_pipeline",
    # g33 (sampled centrality) shares g30/g31's co-purchase projection
    # whose pair join dominates (~6s at sf0.1) — representative graph
    # iteration cost is already covered by g32; g33 stays verify-only.
    "r53_sliding_distinct_users",
    "st01_tumbling_window",
    "st03_session_window",
    # round-6 additions: HLL-register graph iteration and the
    # inverted-index threshold sweep
    "g43_neighborhood_function",
    "l71_dedup_threshold_sweep",
    # round-7 additions: integer-fixed-point BM25 retrieval,
    # content-defined chunk dedup, hypertable rollup router, and the
    # full DSL parse->IR->engine pass (the reference-surface path)
    "l80_bm25_topk",
    "l82_cdc_chunk_dedup",
    "r73_rollup_router",
    "g46_dsl_end_to_end",
    # round-9 addition: per-source adaptive quality threshold — the
    # histogram-cutover shape (score histogram + running-total window
    # + broadcast cut table), distinct from l48's plain scoring pass.
    # l88 (k-center coreset) stays verify-only: 8-round iterative
    # driver-loop cost is already represented by g32/g43, and its
    # local wall is job overhead, not plan cost.
    "l89_adaptive_quality_threshold",
    # round-10 additions: the bloom-prefiltered decontamination probe
    # (zero-shuffle Arrow bitmap pass + candidate-only confirm join)
    # and the duplicated-substring scrub rewrite (detector + anti-join
    # + ordered reassembly). st25 is the st23-shaped streaming twin
    # and stays verify-only like the other foreachBatch feeds.
    "l94_bloom_decontaminate",
    "l95_substring_scrub",
    # the one-pass BPE encode (window + 30-row broadcast semi-join)
    # and the video frame-signature near-dup (inverted-index pair
    # join over temporal shingles)
    "l97_bpe_encode",
    "l99_video_neardup",
    # winnowing fingerprints + overlap join (the ~2/(w+1)-density
    # fingerprint table replaces the full shingle table in the join)
    "l101_winnow_fingerprint_pairs",
    # round-11 additions l102-l104 (frame decode telemetry, winnow /
    # temporal-shingle recall audits) stay verify-only like the other
    # diagnostics (l55/l85): their cost is the audited generator's own
    # join plus a bounded exact side already represented here.
    # round-12 additions — three NEW plan families: block-partitioned
    # sorted-neighborhood windows (l116), the order-3 n-gram-count
    # join cascade (l117; l27/l52 cover orders 1-2), and the
    # whole-corpus k-NN graph build (LSH self-join init + NN-Descent
    # local join, l119). l113-l115/l118 stay verify-only (bounded
    # exact twin, CC cost covered by l20, l25 replay, 4xsources-row
    # manifest); st29/st30 are foreachBatch feeds like st25-st28.
    "l116_sorted_neighborhood_pairs",
    "l117_stupid_backoff_score",
    "l119_knn_graph_refine",
    # round-13 addition — the two-arm hybrid-retrieval fusion family
    # (BM25 arm + dense arm + RRF join). l128/l129/st34 stay
    # verify-only: their distributed stages are bounded re-ranks /
    # one aggregate over shapes already represented here, and their
    # finishers are O(k) driver loops by contract.
    "l127_hybrid_rrf_fusion",
    # round-14 addition — the index-backed serving form: postings-store
    # write+read (parquet round-trip) + LSH bucket dense arm + the
    # exact audit arm; a NEW plan family (persisted-index serving).
    # l131's fused two-width shingle pass replaces two passes inside
    # an entry-shaped query; it stays verify-only (l30's plan family).
    "l127b_hybrid_rrf_indexed",
    # round-15 addition — the whole-corpus IVF self-probe (auto-scaled
    # list count, per-list block matmul inside a grouped Arrow pass +
    # the exact agreement arm): a NEW plan family (partition-based
    # self-ANN; l119 covers the graph-based one).
    "l108b_knn_label_consistency_ivf",
    # round-15 continuation additions: the distributed capped-suffix
    # sort (one range-partitioned sort + adjacent LCP — a NEW plan
    # family: global-order adjacency via ordered_row_number), and the
    # graph-ANN serving form (store-cached NN-Descent graph + 2-hop
    # expansion + exact re-rank; cold build lands in run 1, the
    # median measures the warm serve — the l127b store pattern).
    "l132_suffix_dedup_spans",
    "l133_knn_graph_serve",
    # graph-index lifecycle maintenance (each rebuilds its NN-Descent
    # substrate live — the build is the dominant cost, the
    # delete/append arms are the Θ(|affected|·k²)/Θ(|delta|) tails
    # the docstrings price): delete-consolidation on the full-corpus
    # graph, LSH-seeded append onto the base-corpus graph.
    "l134_knn_graph_delete",
    "l135_knn_graph_append",
    # routed serving for external queries (greedy upper-layer descent
    # + 2-hop expansion, both layer graphs store-cached — the median
    # measures the warm routed serve).
    "l136_knn_graph_route_serve",
]


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM/codegen path once, so per-query times measure the
    plan, not session startup, and materialize the FK edge table once
    (persisted; a deployment keeps its edge table as a bucketed
    parquet/Delta table, not a per-query re-derivation), so traversal
    timings measure traversal."""
    import ekati_spark.queries as Q
    from ekati_spark.queries.graph import _graph

    Q.REGISTRY["r01_scan_count"].fn(spark, sf_dir).collect()
    _graph(spark, sf_dir)  # the store fills its edges at build


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # The synthetic sf1 is generated data, not driver testdata; keep
    # `sf` NUMERIC (tools/bench_compare.py diffs rounds arithmetically
    # — the r10 artifact shipped a prose string here and broke that)
    # and carry the provenance in a separate `gen` field.
    gen = (
        "sf0.1x10 key-shifted (tools/gen_scale.py)"
        if "testdata_sf1" in sf_dir
        else None
    )

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from ekati_spark.session import get_spark
    import ekati_spark.queries as Q
    from ekati_spark.queries.graph import _graph

    spark = get_spark("ekati_bench")
    warm_up(spark, sf_dir)

    times: dict[str, float] = {}
    query_runs: dict[str, list] = {n: [] for n in HEADLINE}
    for name in HEADLINE:  # untimed pass
        Q.REGISTRY[name].fn(spark, sf_dir).count()
    for _ in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            Q.REGISTRY[name].fn(spark, sf_dir).count()
            query_runs[name].append(round(time.perf_counter() - t0, 3))
    for name in HEADLINE:
        times[name] = sorted(query_runs[name])[1]
        print(
            f"# {name}: interleaved median {times[name]:.3f}s of "
            f"{query_runs[name]}",
            file=sys.stderr,
        )

    # bucketed-layout traversal variant — the same three follow specs
    # the g01/g02/g03 headliners run, over (a) a flat parquet edge
    # table (every hop scans all of it) and (b) the bucketed layout
    # (graph/storage.write_bucketed_edges), where each hop binds the
    # frontier's distinct buckets driver-side and partition-prunes the
    # scan — the reference's per-hop remote partition lookup
    # (FileStore.fs:281-298) as directory pruning. files_* counts the
    # parquet part-files each plan opens across all hops: the
    # 100-TB story is the files_bucketed ≪ files_flat ratio (scan
    # volume ∝ frontier's bucket span, not |E| × hops).
    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile

    from ekati_spark.graph.storage import (
        bucketed_edge_source,
        write_bucketed_edges,
    )
    from ekati_spark.graph.traverse import Any, Edge, Or, follow
    from pyspark.sql import functions as F

    layout_dir = _tempfile.mkdtemp(prefix="ekati_bench_layout_")
    g = _graph(spark, sf_dir)
    g.edges.write.mode("overwrite").parquet(f"{layout_dir}/flat")
    write_bucketed_edges(g.edges, f"{layout_dir}/bucketed", n_buckets=64)
    flat_edges = spark.read.parquet(f"{layout_dir}/flat")
    flat_parts = _glob.glob(f"{layout_dir}/flat/part-*")
    n_flat_files = len(flat_parts)
    flat_bytes = sum(os.path.getsize(p) for p in flat_parts)

    def _seeds(n):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return cust.filter(F.col("c_custkey") <= n).select(
            F.concat(
                F.lit("customer:"), F.col("c_custkey").cast("string")
            ).alias("node_id")
        )

    bucketed_follow: dict[str, dict] = {}
    for bname, n_seed, spec, n_hops in (
        ("g01", 10, Edge("placed", 1, 1), 1),
        ("g02", 5, Or(Edge("placed", 1, 1), Edge("contains", 2, 2)), 2),
        ("g03", 3, Any(0, 2), 2),
    ):
        seeds = _seeds(n_seed)
        flat_runs, buck_runs = [], []
        files_bucketed = 0
        for i in range(3):
            t0 = time.perf_counter()
            follow(flat_edges, seeds, spec).count()
            flat_runs.append(time.perf_counter() - t0)
            stats: dict = {}
            src = bucketed_edge_source(
                spark, f"{layout_dir}/bucketed", stats
            )
            t0 = time.perf_counter()
            follow(src, seeds, spec).count()
            buck_runs.append(time.perf_counter() - t0)
            if i == 0:
                probed = [
                    p
                    for hop, buckets in stats.items()
                    for b in buckets
                    for p in _glob.glob(
                        f"{layout_dir}/bucketed/bucket={b}/part-*"
                    )
                ]
                files_bucketed = len(probed)
                bytes_bucketed = sum(os.path.getsize(p) for p in probed)
        # file COUNTS favor the flat layout at bench SF (64 small
        # bucket files vs a handful of flat parts); BYTES is the
        # scale-invariant scan-volume measure — bucketed reads
        # |probed buckets|/64 of the edge data per hop, flat reads
        # all of it every hop.
        bucketed_follow[bname] = {
            "flat_s": round(sorted(flat_runs)[1], 3),
            "bucketed_s": round(sorted(buck_runs)[1], 3),
            "files_flat": n_flat_files * n_hops,
            "files_bucketed": files_bucketed,
            "bytes_flat": flat_bytes * n_hops,
            "bytes_bucketed": bytes_bucketed,
        }
        print(f"# bucketed_follow {bname}: {bucketed_follow[bname]}",
              file=sys.stderr)
    _shutil.rmtree(layout_dir, ignore_errors=True)

    # skewed-key join stress — power-law fact⋈dim at the bench SF:
    # lineitem replicated 10x with ~30% of rows collapsed onto ONE hot
    # supplier key, joined to supplier with broadcast DISABLED (the
    # regime where skew matters: a dim too big to broadcast). Three
    # strategies: plain sort-merge (AQE skew split off), AQE skew
    # split (runtime re-plan), explicit 8-way salting
    # (operators/skew.salted_join). The sf1 crossover study lives in
    # SCALE.md; this entry tracks the three plans round-over-round.
    from ekati_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fact = (
        li.select("l_orderkey", "l_suppkey", "l_extendedprice")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .withColumn(
            "k",
            F.when(
                F.pmod(F.col("l_orderkey") + F.col("rep"), 10) < 3,
                F.lit(1),
            ).otherwise(F.col("l_suppkey")),
        )
        .drop("rep")
        .persist()
    )
    n_fact = fact.count()
    dim = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(F.col("s_suppkey").alias("k"), "s_nationkey")
    )
    saved_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    skew_join: dict[str, float] = {"rows": n_fact, "hot_share": 0.3}
    for sname, skew_conf, run in (
        ("plain_s", "false",
         lambda: fact.join(dim, "k").groupBy("s_nationkey").count()),
        ("aqe_skew_s", "true",
         lambda: fact.join(dim, "k").groupBy("s_nationkey").count()),
        ("salted_s", "false",
         lambda: salted_join(fact, dim, "k", n_salts=8)
         .groupBy("s_nationkey").count()),
    ):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_conf)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            run().count()
            runs.append(time.perf_counter() - t0)
        skew_join[sname] = round(sorted(runs)[1], 3)
        print(f"# skew_join {sname}: {skew_join[sname]}s", file=sys.stderr)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bc)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", saved_skew)
    fact.unpersist()

    # streaming throughput — drive the REAL streaming engine (file
    # source -> AvailableNow micro-batches), not the batch twins the
    # correctness gate grades: tumbling windowed agg and a watermarked
    # stream-stream inner join over the events table. Metric =
    # input events/s through the micro-batch engine (median of 3).
    from ekati_spark.streaming.ops import (
        events_stream,
        run_to_memory,
        stream_stream_join,
        tumbling_counts,
    )

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    stream_rates: dict[str, float] = {}
    stream_rates_rocksdb: dict[str, float] = {}
    # State-store count = shuffle partitions at first run, and each
    # store pays fixed per-batch setup; 32 (right for batch analytics
    # on 32 cores) is 4-8x overhead at micro-batch scale. 8 stores is
    # the honest sizing for this state volume (measured: agg 7.7s ->
    # 1.1s, join 8.8s -> 2.5s at sf0.1); on a 1000-executor cluster you
    # size stores to state volume / executor count the same way.
    batch_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # Both state-store backends: the default HDFS-backed in-memory
    # store (fastest at bench-sized state) and RocksDB — the
    # production choice once state outgrows executor heap (100 TB
    # scale: bounded memory, changelog checkpointing). Tracking
    # both makes the RocksDB tax a measured number, not folklore.
    #
    # The four (query, backend) combos run INTERLEAVED round-robin,
    # like the headline passes: a query-major median-of-3 let one
    # box-load window land on a single entry's whole sample
    # (stream_tumbling_agg swung 0.67x two rounds running with no
    # code change).
    _ROCKS = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    stream_combos = [
        (sname, build, mode, n_in, provider, tag, sink)
        for sname, build, mode, n_in in (
            (
                "stream_tumbling_agg",
                lambda: tumbling_counts(events_stream(spark, sf_dir)),
                "complete",
                n_events,
            ),
            (
                "stream_stream_join",
                lambda: stream_stream_join(events_stream(spark, sf_dir)),
                "append",
                n_events,
            ),
        )
        for provider, tag, sink in (
            (None, "", stream_rates),
            (_ROCKS, "_rocksdb", stream_rates_rocksdb),
        )
    ]
    stream_runs: dict[str, list] = {
        f"{sname}{tag}": [] for sname, _, _, _, _, tag, _ in stream_combos
    }
    for i in range(3):
        for sname, build, mode, n_in, provider, tag, sink in stream_combos:
            if provider is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", provider
                )
            t0 = time.perf_counter()
            run_to_memory(
                build(), f"bench_{sname}{tag}_{i}", mode
            ).count()
            stream_runs[f"{sname}{tag}"].append(
                time.perf_counter() - t0
            )
    for sname, build, mode, n_in, provider, tag, sink in stream_combos:
        runs = stream_runs[f"{sname}{tag}"]
        med = sorted(runs)[1]
        if provider is None:
            times[sname] = round(med, 3)
        sink[sname] = round(n_in / med)
        print(
            f"# {sname}{tag}: interleaved median {med:.3f}s of "
            f"{[round(r,3) for r in runs]}"
            f" -> {sink[sname]} events/s",
            file=sys.stderr,
        )
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.shuffle.partitions", batch_parts)

    # ingest throughput — the reference's own headline metric
    # (129,038 fragments/s, BASELINE.md); 1M nodes × 8 fragments
    import shutil
    import tempfile

    from tools.ingest_bench import FRAGMENTS_PER_NODE, run as ingest_run

    tmp = tempfile.mkdtemp(prefix="ekati_bench_ingest_")
    try:
        ingest_run(spark, 100_000, tmp + "/warm")
        # median of 3: single-run wall-clock swings up to ~4x with page
        # cache / machine load; the median is the stable capability.
        runs = sorted(
            ingest_run(spark, 500_000, f"{tmp}/main{i}")["wall_s"]
            for i in range(3)
        )
        ingest = {
            "wall_s": runs[1],
            "fragments_per_s": round(500_000 * FRAGMENTS_PER_NODE / runs[1]),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    times["ingest_4m_fragments"] = ingest["wall_s"]

    total = round(sum(times.values()), 3)
    # Driver contract: the FINAL stdout line is ONE compact JSON object
    # and the driver only keeps the last ~2000 chars of stdout, so the
    # line must stay well under that (round-8 lesson: the detail maps
    # pushed it past the tail window and BENCH_r08 recorded
    # parsed: null). Detail maps (streaming rates per state backend,
    # bucketed-traversal scan volumes, skew-join strategy timings) go
    # to a committed sidecar file instead.
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "ingest_fragments_per_s": ingest["fragments_per_s"],
        "streaming_events_per_s": stream_rates,
        "streaming_events_per_s_rocksdb": stream_rates_rocksdb,
        "bucketed_follow": bucketed_follow,
        "skew_join": skew_join,
    }
    if gen is not None:
        detail["gen"] = gen
    detail["runs"] = query_runs
    detail["stream_runs"] = {
        k: [round(x, 3) for x in v] for k, v in stream_runs.items()
    }
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")
    print(f"# detail maps written to {detail_path}", file=sys.stderr)
    # Round-16 reporting fix (verdict item 2 — REPORTING only, the
    # timing loops above are untouched): 65 entries at 3 decimals blew
    # the old 1500-char guard and its top-25-slowest trim hid 40
    # queries from the driver's per-query comparison, manufacturing
    # phantom "dropped_from_bench" entries and shrinking PERF's common
    # set to 20. Measured driver behavior (BENCH_r12-r15 artifacts):
    # the stdout tail window is exactly 2000 chars of merged output
    # with this line printed last, so the LINE itself just has to stay
    # under ~2000. At 2 decimals the full 65-entry map is ~1970 chars;
    # if growth ever pushes past the 1960 guard, entries are trimmed
    # DETERMINISTICALLY from a fixed list of long-attested sub-second
    # queries (stable name set round-over-round — the driver-visible
    # set never tracks whichever queries happened to be fastest).
    # Full 3-decimal values always live in BENCH_DETAIL.json.
    _TRIM_FIRST = [
        "l25_pack_sequences", "l08_text_stats",
        "l36_source_token_report", "l48_quality_classifier",
        "l01_dedup_exact", "r58_quantile_sketch",
        "l82_cdc_chunk_dedup", "r53_sliding_distinct_users",
        "st01_tumbling_window", "l38_chunk_dedup_rewrite",
        "r56_incremental_mv", "l95_substring_scrub",
    ]
    compact_head = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in times.items()},
        "sf": sf,
        "ingest_fragments_per_s": ingest["fragments_per_s"],
    }
    if gen is not None:
        compact_head["gen"] = gen
    compact = json.dumps(compact_head, separators=(",", ":"))
    for name in _TRIM_FIRST:
        if len(compact) <= 1960:
            break
        if name in compact_head["queries"]:
            print(
                f"# compact line {len(compact)} chars > 1960; trimming "
                f"{name} (see BENCH_DETAIL.json)",
                file=sys.stderr,
            )
            del compact_head["queries"][name]
            compact_head["queries_truncated_see"] = "BENCH_DETAIL.json"
            compact = json.dumps(compact_head, separators=(",", ":"))
    print(compact)


if __name__ == "__main__":
    main()

"""Streaming-operator inventory, run batch-mode for the oracle (the same
plans run under readStream in tests/test_streaming.py — Spark's unified
Dataset API guarantees identical semantics for these windowed aggs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ekati_spark.catalog import load_table
from ekati_spark.checkpoint import cut_lineage
from ekati_spark.scratch import mkscratch
from ekati_spark.queries.base import register
from ekati_spark.streaming import ops


@register(
    "st01_tumbling_window",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT)+1)*300*1000000)
             AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def st01_tumbling_window(spark, sf_dir):
    """5-minute tumbling window counts/sums per event type."""
    ev = load_table(spark, sf_dir, "events")
    return ops.tumbling_counts(ev)


@register(
    "st02_sliding_window",
    oracle="""
    SELECT make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT) - t.i)*300*1000000)
             AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT) - t.i + 2)*300*1000000)
             AS window_end,
           CAST(count(*) AS BIGINT) AS n
    FROM events, range(0, 2) t(i)
    GROUP BY 1, 2
    """,
)
def st02_sliding_window(spark, sf_dir):
    """10-minute window sliding by 5 minutes (every event in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.sliding_counts(ev)


@register(
    "st03_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total
    FROM sess GROUP BY user_id, sid
    """,
)
def st03_session_window(spark, sf_dir):
    """30-minute-gap session windows per user (gaps-and-islands oracle)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.session_counts(ev)


@register(
    "st04_stream_static_join",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def st04_stream_static_join(spark, sf_dir):
    """Stream-static dimension join (batch-equivalent plan)."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return ops.stream_static_join(ev, cust)


@register(
    "st05_stateful_dedup",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_unique FROM
      (SELECT DISTINCT event_id FROM events)
    """,
)
def st05_stateful_dedup(spark, sf_dir):
    """Dedup-by-id count (streaming variant uses
    dropDuplicatesWithinWatermark; batch degenerates to dropDuplicates)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.dedup_within_watermark(ev).agg(F.count("*").alias("n_unique"))


@register(
    "st06_stream_stream_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def st06_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (clicks x same-user purchases within
    30 min). Batch-mode here for the oracle; the streaming run with
    watermark-bounded join state is exercised in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return ops.stream_stream_join(ev)


@register(
    "st07_stream_curation",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(lower(text)), ' +')) AS INTEGER)
             AS n_tokens,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g'))
             AS redacted_md5
    FROM documents
    WHERE len(string_split_regex(trim(lower(text)), ' +')) BETWEEN 20 AND 400
      AND CAST(len(list_distinct(string_split_regex(trim(lower(text)), ' +')))
          AS DOUBLE) / len(string_split_regex(trim(lower(text)), ' +')) > 0.3
    """,
)
def st07_stream_curation(spark, sf_dir):
    """Streaming-shaped curation pipeline: quality gate (length band +
    distinct-token ratio) -> PII redaction -> token count. Stateless
    per-row maps, so the identical plan runs under readStream with
    batch-equal results (asserted in tests/test_streaming.py); the
    oracle checks the batch run."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.curation_map(docs)


@register(
    "st08_trending_topk",
    oracle="""
    WITH agg AS (
      SELECT CAST(floor(epoch(ts)/900) AS BIGINT) AS wslot,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT wslot, event_type, n,
             row_number() OVER (PARTITION BY wslot
               ORDER BY n DESC, event_type) AS rnk
      FROM agg
    )
    SELECT make_timestamp(wslot*900*1000000) AS window_start,
           make_timestamp((wslot+1)*900*1000000) AS window_end,
           event_type, CAST(n AS BIGINT) AS n, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def st08_trending_topk(spark, sf_dir):
    """Trending top-3 event types per 15-minute tumbling window:
    streaming-safe windowed counts + deterministic downstream rank
    (the continuously-updated-leaderboard pattern; the rank stage runs
    over the sink under streaming — tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.trending_topk(ev)


@register(
    "st09_stream_stream_left_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def st09_stream_stream_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every click, null-padded
    when no same-user purchase follows within 30 min. Streaming-only
    semantics (null emission gated on watermark expiry, state GC) are
    exercised in tests/test_streaming.py; the oracle checks the
    batch-equivalent left join."""
    ev = load_table(spark, sf_dir, "events")
    return ops.stream_stream_left_join(ev)


@register(
    "st10_anomaly_windows",
    oracle="""
    WITH agg AS (
      SELECT CAST(floor(epoch(ts)/900) AS BIGINT) AS wslot, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / count(*) AS expected_n
      FROM agg GROUP BY event_type
    )
    SELECT make_timestamp(wslot*900*1000000) AS window_start,
           make_timestamp((wslot+1)*900*1000000) AS window_end,
           a.event_type, a.n, b.expected_n,
           a.n >= 2.0 * b.expected_n AS is_anomaly
    FROM agg a JOIN base b USING (event_type)
    """,
)
def st10_anomaly_windows(spark, sf_dir):
    """Alerting: 15-minute per-type counts vs a trained static baseline
    (mean window count per type), windows >= 2x expected flagged. The
    windowed-count stage + stream-static broadcast join run identically
    under readStream (the baseline is the static side); batch mode here
    is the oracle path. Expected counts are exact integer-ratio doubles
    (sum/count) so both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    baseline = ops.type_window_baseline(ev)
    return ops.anomaly_windows(ev, baseline)


@register(
    "st11_stream_scd2",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id, round(value, 2) AS state
      FROM events WHERE event_type = 'purchase'
    ),
    ordered AS (
      SELECT user_id, ts, event_id, state,
             lag(state) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM src
    ),
    changed AS (
      SELECT user_id, ts, event_id, state
      FROM ordered
      WHERE prev IS NULL OR state IS DISTINCT FROM prev
    ),
    scd AS (
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS INTEGER)
               AS version,
             state,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changed
    )
    SELECT user_id, version, state, valid_from, valid_to
    FROM scd WHERE valid_to IS NOT NULL
    """,
)
def st11_stream_scd2(spark, sf_dir):
    """Streaming SCD2 change feed, batch-equivalent form: exactly the
    CLOSED validity intervals of the r59 history build — the rows
    `streaming/ops.py::scd2_with_state` emits append-only from its
    per-key state store as CDC events arrive (the open versions live in
    state and never stream out). The real applyInPandasWithState path
    runs under readStream in tests/test_streaming.py and must produce
    this same set."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.round("value", 2).alias("state")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = src.select(
        "user_id", "ts", "event_id", "state",
        F.lag("state").over(w).alias("prev"),
    )
    changed = ordered.filter(
        F.col("prev").isNull() | ~F.col("state").eqNullSafe(F.col("prev"))
    ).select("user_id", "ts", "event_id", "state")
    return changed.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("version"),
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).filter(F.col("valid_to").isNotNull())


@register(
    "st12_dedup_ingest",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM documents GROUP BY 1
    """,
)
def st12_dedup_ingest(spark, sf_dir):
    """Dedup-on-ingest: a REAL readStream → foreachBatch pipeline that
    lands only never-seen-before documents (normalized-text digest
    keep-first — the streaming form of l01's exact dedup). The landed
    table must equal the batch dedup of the full corpus regardless of
    how ingestion was micro-batched; the cross-batch stateful path (a
    later batch's duplicate dropped by the anti-join against the landed
    digest set, replay idempotence) is exercised in
    tests/test_streaming.py. State lives in the sink's digest column —
    nothing driver-side, bucket-prunable at 100 TB."""
    import shutil
    from pathlib import Path

    tmp = Path(mkscratch("st12_"))
    src = tmp / "src"
    src.mkdir()
    shutil.copy(Path(sf_dir) / "documents.parquet", src / "part-0.parquet")
    landed = ops.dedup_ingest(
        spark, str(src), str(tmp / "out"), str(tmp / "ck")
    )
    return landed.select("digest", "doc_id")


@register(
    "st13_stream_stream_full_join",
    oracle="""
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def st13_stream_stream_full_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join: matched click/purchase
    pairs plus null-padded rows for unmatched clicks AND unmatched
    purchases. Completes the outer-join family (st06 inner, st09 left):
    full-outer is the shape for reconciliation streams where both sides
    must be accounted for (every ad click and every purchase appears
    exactly once, matched or not). Batch-mode here for the oracle; the
    streaming run — null rows held back until the watermark proves no
    counterpart can arrive, then state GC'd — is exercised in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return ops.stream_stream_full_join(ev)


@register(
    "st14_spend_threshold_alerts",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts,
             SUM(CAST(round(value * 100) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM events
    ),
    lv AS (
      SELECT user_id, event_id, cum_cents,
             cum_cents // 50000 AS level,
             COALESCE(lag(cum_cents // 50000) OVER
               (PARTITION BY user_id ORDER BY ts, event_id), 0) AS prev
      FROM c
    )
    SELECT user_id, event_id, CAST(level AS BIGINT) AS level,
           CAST(cum_cents AS BIGINT) AS cum_cents
    FROM lv WHERE level > prev
    """,
)
def st14_spend_threshold_alerts(spark, sf_dir):
    """Cumulative-spend threshold alert feed: one row each time a
    user's running spend crosses another 500-unit multiple. Batch-mode
    window replay here for the oracle (integer CENTS running sum in
    (ts, event_id) order — exact, engine-identical); the streaming run
    on the NEW Spark 4 stateful API (transformWithStateInPandas, typed
    per-user ValueState, micro-batch rows replayed in deterministic
    event order) is proven equal to this batch feed in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return ops.spend_alerts_batch(ev)


@register(
    "st15_stream_kmv_distinct",
    oracle="""
    WITH hh AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM events
    ),
    r AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
             count(*) OVER () AS nd
      FROM hh
    )
    SELECT CAST(LEAST(nd, 256) AS BIGINT) AS sketch_size,
           CAST(hv AS BIGINT) AS kth_min,
           CAST(CASE WHEN nd < 256 THEN nd
                     ELSE 255 * 4503599627370496 // hv END AS BIGINT)
             AS est_kmv
    FROM r WHERE rn = LEAST(256, nd)
    """,
)
def st15_stream_kmv_distinct(spark, sf_dir):
    """Streaming KMV distinct-count sketch — sketches meet streaming:
    the events table is ingested in THREE separate micro-batches
    (maxFilesPerTrigger=1 over a 3-file split), each batch appends its
    own bottom-256 hash partial, and the merged sketch's estimate must
    equal the batch KMV over the entire history BIT-FOR-BIT (bottom-k
    merges are associative — the property that makes the sketch
    streamable, r63's doctrine under micro-batching). The oracle is the
    plain whole-table KMV, so a hash match proves batching introduced
    zero drift. State = k rows per batch, stream-volume independent;
    replayed batches are absorbed by the distinct-union (idempotent)."""
    import shutil
    from pathlib import Path

    from ekati_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = Path(mkscratch("st15_"))
    src = tmp / "src"
    src.mkdir()
    # 3-way deterministic split => 3 micro-batches; coalesce(1) so the
    # write emits exactly one part file — a multi-partition write would
    # otherwise collapse onto one destination name and silently drop
    # rows from the micro-batch
    for m in range(3):
        batch.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"chunk{m}.parquet"))
        parts = sorted((src / f"chunk{m}.parquet").glob("*.parquet"))
        assert len(parts) == 1, f"expected 1 part file, got {len(parts)}"
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(src / f"chunk{m}.parquet")
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
    )
    return ops.kmv_distinct_stream(
        spark, str(src), str(tmp / "state"), str(tmp / "ck"), schema_ddl
    )


@register(
    "st16_stream_nt_ingest",
    oracle="""
    SELECT 'http://d/' || CAST(doc_id AS VARCHAR) AS subj,
           'http://p/name' AS pred,
           'doc-' || CAST(doc_id AS VARCHAR) AS obj,
           CAST(doc_id % 7 AS BIGINT) AS shard
    FROM documents
    """,
)
def st16_stream_nt_ingest(spark, sf_dir):
    """Streaming GRAPH INGEST through the custom N-Triples tail source
    (sources/pyds.py — Spark 4 Python DataSource streaming reader with
    per-file byte offsets and complete-line gating): one deterministic
    triple per document is written to an .nt feed IN TWO APPENDS, the
    stream consumes each delta exactly once (same checkpoint across
    restarts — the reference's Load-RPC tail-ingest semantics,
    WatService.cs:209-336), and the landed triples must equal the
    batch-predicted set. Exercises the full custom-source path —
    offsets, replay exactness, escape-free fast path — under the
    oracle gate rather than only in pytest. The shard column shows
    partition routing riding the same stream."""
    from pathlib import Path

    from ekati_spark.sources import pyds

    pyds.register(spark)
    from ekati_spark.driverside import collect_bounded

    # fixture builder: the NT feed file is written driver-side, so the
    # id list must be test-SF sized — the bound makes that explicit
    # (round-11 verdict minor #5)
    ids = sorted(
        r.doc_id
        for r in collect_bounded(
            load_table(spark, sf_dir, "documents").select("doc_id"),
            1_000_000,
            "st16 NT feed fixture ids",
        )
    )
    tmp = Path(mkscratch("st16_"))
    feed, out, ck = tmp / "feed.nt", str(tmp / "sink"), str(tmp / "ck")

    def line(i):
        return f'<http://d/{i}> <http://p/name> "doc-{i}" .\n'

    half = len(ids) // 2

    def drain():
        stream = spark.readStream.format("ntriples").load(str(feed))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    feed.write_text("".join(line(i) for i in ids[:half]))
    drain()
    with open(feed, "a") as fh:  # the tail grows; offsets resume
        fh.write("".join(line(i) for i in ids[half:]))
    drain()
    landed = spark.read.parquet(out)
    return landed.select(
        "subj",
        "pred",
        F.col("obj"),
        (
            F.regexp_extract("subj", "http://d/(\\d+)", 1).cast("long") % 7
        ).alias("shard"),
    )


@register(
    "st17_stream_countmin",
    oracle="""
    WITH dd AS (SELECT unnest(range(4)) AS d),
    hh AS (
      SELECT dd.d,
             CAST(('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' ||
                                      CAST(e.user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) % 256 AS bucket
      FROM events e CROSS JOIN dd
    )
    SELECT CAST(d AS INTEGER) AS d, bucket, CAST(count(*) AS BIGINT) AS c
    FROM hh GROUP BY 1, 2
    """,
)
def st17_stream_countmin(spark, sf_dir):
    """Streaming Count-Min — CM's LINEARITY under micro-batching: the
    events table drains in three micro-batches, each appending its own
    counter-grid partial keyed by batch id, and the cell-wise merged
    grid must equal the whole-history batch grid BIT-FOR-BIT (the
    oracle builds it in one pass). Batch-id keying makes the
    at-least-once foreachBatch replay exactly-once (addition is not
    idempotent — a naive append would double-count; the epoch-keyed
    dedup absorbs replays, same rule as the idempotent sink). With
    st15 this completes the streaming sketch pair: distinct counts
    (KMV, merge = set union) and frequencies (CM, merge = addition),
    both with zero estimator drift from batching."""
    import shutil
    from pathlib import Path

    from ekati_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = Path(mkscratch("st17_"))
    src = tmp / "src"
    src.mkdir()
    # coalesce(1): one part file per micro-batch (see st15's note)
    for m in range(3):
        batch.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"chunk{m}"))
        parts = sorted((tmp / f"chunk{m}").glob("*.parquet"))
        assert len(parts) == 1, f"expected 1 part file, got {len(parts)}"
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"chunk{m}")
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
    )
    return ops.countmin_stream(
        spark, str(src), str(tmp / "state"), str(tmp / "ck"), schema_ddl
    )


@register(
    "st18_rocksdb_state_parity",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT)+1)*300*1000000)
             AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def st18_rocksdb_state_parity(spark, sf_dir):
    """st01's tumbling windowed agg driven through the REAL micro-batch
    engine with the ROCKSDB state-store provider — the production
    backend once streaming state outgrows executor heap (bounded
    memory, changelog checkpointing; the default HDFS-backed store
    keeps every version in memory). Three micro-batches
    (maxFilesPerTrigger=1 over a 3-file split) so window state is
    genuinely written to and re-read from RocksDB across batches; the
    complete-mode result must equal the whole-table batch oracle
    bit-for-bit, proving the backend changes durability cost, never
    answers. The provider swap is exactly one session conf — the
    100-TB migration path. The bench tracks both backends' throughput
    (streaming_events_per_s_rocksdb)."""
    import shutil
    from pathlib import Path

    from ekati_spark.catalog import ensure_session_confs, normalize_events_ts

    ensure_session_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = Path(mkscratch("st18_"))
    src = tmp / "src"
    src.mkdir()
    # coalesce(1): one part file per micro-batch (see st15's note)
    for m in range(3):
        batch.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"chunk{m}"))
        parts = sorted((tmp / f"chunk{m}").glob("*.parquet"))
        assert len(parts) == 1, f"expected 1 part file, got {len(parts)}"
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"chunk{m}")
    raw = (
        spark.readStream.format("parquet")
        .schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    agg = ops.tumbling_counts(normalize_events_ts(raw))
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("st18_rocks")
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if saved is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, saved)
    return spark.sql("SELECT * FROM st18_rocks")


@register(
    "st19_warc_tail_ingest",
    oracle="""
    SELECT source,
           CAST(doc_id % 3 AS BIGINT) AS batch,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
    FROM documents
    GROUP BY 1, 2
    """,
)
def st19_warc_tail_ingest(spark, sf_dir):
    """Streaming ARCHIVE ingest through the custom WARC tail source
    (`sources/warc.py::WarcStreamReader` — file-granular offsets over
    an immutable-once-published archive directory, the Common Crawl
    landing contract): documents are published as THREE successive
    per-record-gzipped archive batches through the committing writer
    (atomic rename publication), the stream consumes each newly-landed
    file set exactly once against one checkpoint, and the landed
    records must reduce to the same per-(source, batch) byte totals
    the batch oracle computes from the original table. Exercises
    offsets, replay exactness, and binary payloads riding a streaming
    parquet sink — the reference's Load-RPC tail-ingest semantics
    (WatService.cs:209-336) applied to web archives."""
    from pathlib import Path

    from ekati_spark.sources import warc as WS

    WS.register(spark)
    docs = load_table(spark, sf_dir, "documents")
    tmp = Path(mkscratch("st19_"))
    feed, out, ck = str(tmp / "feed"), str(tmp / "sink"), str(tmp / "ck")

    def publish(batch_no: int) -> None:
        (
            docs.filter(F.col("doc_id") % 3 == batch_no)
            .select(
                F.concat(
                    F.lit("<urn:doc:"), F.col("doc_id"), F.lit(">")
                ).alias("record_id"),
                F.lit("response").alias("warc_type"),
                F.concat(
                    F.lit("http://corpus.example/"),
                    F.col("source"),
                    F.lit("/"),
                    F.col("doc_id"),
                ).alias("target_uri"),
                F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
                F.lit("text/plain").alias("content_type"),
                F.lit(0).cast("bigint").alias("content_length"),
                F.encode("text", "UTF-8").alias("payload"),
            )
            .write.format("warc")
            .option("compression", "gzip")
            .mode("append")
            .save(feed)
        )

    def drain() -> None:
        stream = spark.readStream.format("warc").load(feed)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for b in range(3):
        publish(b)
        drain()
    landed = spark.read.parquet(out)
    return (
        landed.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract(
                "target_uri", r"corpus\.example/([^/]+)/", 1
            ).alias("source"),
            (
                F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
                % 3
            ).alias("batch"),
            F.col("content_length").alias("nb"),
        )
        .groupBy("source", "batch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nb").alias("n_bytes"),
        )
    )


@register(
    "st20_stream_rollup_maintenance",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st20_stream_rollup_maintenance(spark, sf_dir):
    """STREAMING maintenance of r73's hourly continuous aggregate — the
    ingest side of the hypertable story: events arrive in three
    micro-batches, each batch contributes a PARTIAL hourly rollup
    (count + exact decimal value sum) through the epoch-marker
    exactly-once sink (`streaming/ops.idempotent_batch_sink`: per-epoch
    directory + commit marker, so a replayed batch overwrites its own
    directory instead of double-counting), and the serving read merges
    committed partials by summing — the mergeable-partial discipline
    that lets a 100-TB rollup absorb late batches without
    read-modify-write on the aggregate. The oracle computes the rollup
    directly from the whole table, so a hash match proves
    stream-maintained ≡ batch-computed, decimal-exact. Pairs with r73:
    this maintains the MV the router reads."""
    import shutil
    from pathlib import Path

    from ekati_spark.catalog import ensure_session_confs, normalize_events_ts

    ensure_session_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = Path(mkscratch("st20_"))
    src = tmp / "src"
    src.mkdir()
    for m in range(3):
        batch.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"chunk{m}"))
        parts = sorted((tmp / f"chunk{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"chunk{m}")
    state = str(tmp / "rollup")
    sink = ops.idempotent_batch_sink(state)

    def maintain(b, batch_id):
        partial = normalize_events_ts(b).groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,4)")).alias("sv"),
        )
        sink(partial, batch_id)

    raw = (
        spark.readStream.format("parquet")
        .schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    q = (
        raw.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = ops.read_committed_batches(spark, state)
    return merged.groupBy("h", "event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("double").alias("total_value"),
    )


@register(
    "st21_stream_chunk_dedup_ingest",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    posed AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks0
    ),
    toks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok FROM posed
    ),
    grams AS (
      SELECT doc_id, pos, tok,
             concat_ws(' ',
               lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
               tok) AS gram
      FROM toks
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos >= 3 AND
                  CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
                    % 8 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM grams
    ),
    assigned AS (
      SELECT doc_id, pos, tok,
             COALESCE(sum(boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
      FROM assigned GROUP BY doc_id, chunk_id
    ),
    ranked AS (
      SELECT CAST(doc_id % 3 AS BIGINT) AS batch,
             row_number() OVER (PARTITION BY chash
                                ORDER BY doc_id % 3, doc_id, chunk_id)
               AS rn
      FROM chunks
    )
    SELECT batch,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup
    FROM ranked GROUP BY batch
    """,
)
def st21_stream_chunk_dedup_ingest(spark, sf_dir):
    """CHUNK-level dedup-on-ingest — l82's content-defined chunks
    meeting st12's streaming keep-first discipline: documents arrive in
    three ordered micro-batches, each batch is CDC-chunked
    (`operators/dedup.cdc_chunk_table`), deduped within the batch
    (first occurrence by (doc_id, chunk_id)) AND against the
    accumulated chunk-hash store, and only never-seen hashes join the
    store — both the store append and the per-batch stats ride the
    epoch-marker exactly-once sink, so batch replays cannot
    double-count. The oracle ranks every chunk occurrence globally by
    (batch, doc_id, chunk_id), so a hash match proves the streaming
    new/dup accounting equals the batch replay exactly. This is the
    100-TB ingest-dedup shape: per-batch cost ∝ batch chunks + one
    hash-keyed anti-join against a bucket-prunable store, never a
    corpus rescan."""
    import os
    import shutil
    from pathlib import Path

    from pyspark.sql import Window as W

    from ekati_spark.operators.dedup import cdc_chunk_table

    docs = load_table(spark, sf_dir, "documents")
    tmp = Path(mkscratch("st21_"))
    src = tmp / "src"
    src.mkdir()
    hash_store = str(tmp / "hashes")
    stats_store = str(tmp / "stats")
    hsink = ops.idempotent_batch_sink(hash_store)
    ssink = ops.idempotent_batch_sink(stats_store)

    def land(b, batch_id):
        ch = cdc_chunk_table(b).select("id", "chunk_id", "chash")
        rn = F.row_number().over(
            W.partitionBy("chash").orderBy("id", "chunk_id")
        )
        ch = ch.select("id", "chunk_id", "chash", rn.alias("rn_b"))
        if os.path.exists(hash_store) and any(
            f.startswith("_committed_") for f in os.listdir(hash_store)
        ):
            seen = ops.read_committed_batches(spark, hash_store).select(
                "chash"
            ).withColumn("hit", F.lit(1))
        else:
            seen = spark.createDataFrame([], "chash string, hit int")
        fl = ch.join(F.broadcast(seen), "chash", "left")
        fl = fl.select(
            "chash",
            "rn_b",
            ((F.col("rn_b") > 1) | F.col("hit").isNotNull()).alias("dup"),
        ).transform(cut_lineage)  # consumed by stats AND the store append
        stats = fl.agg(
            F.lit(batch_id).cast("long").alias("batch"),
            F.count("*").alias("n_chunks"),
            F.sum(F.when(~F.col("dup"), 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup"),
        )
        ssink(stats, batch_id)
        hsink(fl.filter(~F.col("dup")).select("chash"), batch_id)

    for m in range(3):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"chunk{m}"))
        parts = sorted((tmp / f"chunk{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"chunk{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(docs.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return ops.read_committed_batches(spark, stats_store)


def _st22_oracle() -> str:
    from ekati_spark.queries.llm import _l80_oracle

    return _l80_oracle()


@register("st22_stream_bm25_maintenance", oracle=_st22_oracle())
def st22_stream_bm25_maintenance(spark, sf_dir):
    """STREAMING maintenance of l86's persisted BM25 index — documents
    arrive in three ordered micro-batches; each batch's postings, doc
    lengths, and corpus-stat partial append through the epoch-marker
    exactly-once sink (batch replays cannot double-count a posting or
    inflate N/L), and nothing stored is ever rewritten: df and the
    BM25 scalars derive from the committed store by aggregation.
    Scoring the l80 query from the streamed store must return l80's
    exact top-10 (oracle: the full batch rebuild), so a hash match
    proves continuous index ingestion ≡ re-indexing — the retrieval
    analog of st20's continuous-aggregate maintenance. At 100 TB this
    is the always-fresh corpus-search index: per-trigger cost ∝ batch
    tokens."""
    import shutil
    from pathlib import Path

    from ekati_spark.queries.llm import _L80_TERMS, _bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    tmp = Path(mkscratch("st22_"))
    src = tmp / "src"
    src.mkdir()
    stores = {k: str(tmp / k) for k in ("postings", "dl", "stats")}
    sinks = {k: ops.idempotent_batch_sink(p) for k, p in stores.items()}

    def land(b, batch_id):
        toks = b.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), " +")).alias(
                "tok"
            ),
        ).transform(cut_lineage)  # consumed by postings AND dl
        sinks["postings"](
            toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")),
            batch_id,
        )
        dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
        dl = dl.transform(cut_lineage)  # consumed by sink AND stats
        sinks["dl"](dl, batch_id)
        sinks["stats"](
            dl.agg(
                F.count("*").alias("n_docs"),
                F.sum("dl").alias("total_len"),
            ),
            batch_id,
        )

    for m in range(3):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m}"))
        parts = sorted((tmp / f"b{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"b{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(docs.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    tot = (
        ops.read_committed_batches(spark, stores["stats"])
        .agg(F.sum("n_docs").alias("n"), F.sum("total_len").alias("l"))
        .first()
    )
    tf = ops.read_committed_batches(spark, stores["postings"]).filter(
        F.col("tok").isin(*_L80_TERMS)
    )
    dl = ops.read_committed_batches(spark, stores["dl"])
    return _bm25_topk(tf, dl, int(tot["n"]), int(tot["l"]))


@register(
    "st23_stream_quality_gate",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM documents
    ),
    s AS (
      SELECT doc_id, source,
             CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT) AS w_sum
      FROM w GROUP BY doc_id, source
    ),
    r AS (
      SELECT doc_id, source, w_sum,
             row_number() OVER (PARTITION BY source
                                ORDER BY w_sum DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    ),
    cut AS (
      SELECT source, w_sum AS cut_score
      FROM r WHERE rn = (n * 3 + 9) // 10
    )
    SELECT s.doc_id, s.source, s.w_sum
    FROM s JOIN cut USING (source)
    WHERE s.w_sum > cut.cut_score
    """,
)
def st23_stream_quality_gate(spark, sf_dir):
    """STREAMING per-source quality gating — l89's production
    deployment shape: the per-source cut table is refreshed OFFLINE
    from the full corpus (the histogram-cutover pass,
    operators/text.adaptive_quality_cuts — #sources rows) and
    broadcast onto ingest; documents arrive in three ordered
    micro-batches, each batch scores its docs (explode -> codegen
    weight -> per-doc agg, all within the batch) and keeps those
    STRICTLY above their source's cut, landing through the
    epoch-marker exactly-once sink (batch replays cannot re-admit a
    doc). A stream can't rank ties at the cut score (that needs the
    whole corpus), so the gate admits the strictly-above set — the
    oracle derives the same cut from the naive rank window and
    applies the same strict inequality, so the streamed table is
    hash-attested. At 100 TB: per-trigger cost ∝ batch tokens + one
    broadcast of a KB-sized cut table; the gate never shuffles the
    stream."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators.text import (
        adaptive_quality_cuts,
        quality_score_sums,
    )

    docs = load_table(spark, sf_dir, "documents")
    cuts = adaptive_quality_cuts(quality_score_sums(docs)).transform(
        cut_lineage
    )  # the offline-refreshed table; reused by every micro-batch
    tmp = Path(mkscratch("st23_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "kept")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        kept = (
            quality_score_sums(b)
            .join(F.broadcast(cuts), "source")
            .filter(F.col("w_sum") > F.col("cut_score"))
            .select("doc_id", "source", "w_sum")
        )
        sink(kept, batch_id)

    for m in range(3):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m}"))
        parts = sorted((tmp / f"b{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"b{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(docs.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return ops.read_committed_batches(spark, store).select(
        "doc_id", "source", "w_sum"
    )


from ekati_spark.queries.base import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "st24_stream_ivf_maintenance",
    oracle=_REGISTRY["l70_ivf_append_parity"].oracle,
)
def st24_stream_ivf_maintenance(spark, sf_dir):
    """STREAMING maintenance of the persisted integer IVF index —
    l70's append path fed by a stream: the index is built and frozen
    on the base corpus (vec_id % 5 != 4, the l15 build), then the
    remaining vectors arrive in two ordered micro-batches; each batch
    assigns to the FROZEN centroids (one Arrow pass, centroids ride
    the closure) and its assignments land through the epoch-marker
    exactly-once sink (a replayed trigger cannot double-insert a
    vector into a list). Probing base lists ∪ committed streamed
    segments answers l70's query EXACTLY (the oracle is l70's —
    base-only Lloyd, assign-all, probe), proving stream-append ≡
    batch-append ≡ assign-into-frozen-index. Scale shape: per-trigger
    cost ∝ batch size; the base scan still partition-prunes to probed
    lists, streamed segments are batch-sized side files that
    compact_ivf_lists folds into the list partitions offline — the
    always-fresh vector index, completing the index-maintenance
    lifecycle (BM25 l86/st22, chunk store l82/st21, rollups
    r73/st20)."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators.similarity import (
        _int_assign,
        _int_probe_rows,
        _int_probe_topk,
        _quant_udf,
        _read_int_centroids,
        build_ivf_index_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim, scale, n_probe = 64, 1024, 6
    base = emb.filter(F.col("vec_id") % 5 != 4)
    fresh = emb.filter(F.col("vec_id") % 5 == 4)
    tmp = Path(mkscratch("st24_"))
    idx = str(tmp / "ivf")
    build_ivf_index_int(base, idx, n_lists=16, kmeans_iters=2)
    cents = _read_int_centroids(spark, idx)
    quant = _quant_udf(scale)
    store = str(tmp / "appended")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        f = b.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == dim)
        ).select(
            F.col("vec_id").alias("id"), quant(F.col("embedding")).alias("qv")
        )
        sink(
            _int_assign(f, cents).withColumnRenamed("id", "neighbor_id"),
            batch_id,
        )

    src = tmp / "src"
    src.mkdir()
    for m in range(2):
        fresh.filter((F.col("vec_id") % 10) == (4 if m == 0 else 9)).coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp / f"b{m}"))
        parts = sorted((tmp / f"b{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"b{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(emb.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    probe_rows = _int_probe_rows(cents, queries, n_probe, scale, dim)
    probed = sorted({r[2] for r in probe_rows})
    base_lists = (
        spark.read.parquet(f"{idx}/lists")
        .filter(F.col("list_id").isin(probed))
        .select("neighbor_id", "qv", "list_id")
    )
    streamed = (
        ops.read_committed_batches(spark, store)
        .filter(F.col("list_id").isin(probed))
        .select("neighbor_id", "qv", "list_id")
    )
    return _int_probe_topk(
        base_lists.unionByName(streamed),
        cents,
        queries,
        k=5,
        n_probe=n_probe,
        scale=scale,
        dim=dim,
        probe_rows=probe_rows,
    )


def _st25_oracle(m: int = 16384, k: int = 3) -> str:
    from ekati_spark.operators.bloom import BLOOM_POS_SQL
    from ekati_spark.queries.llm import _L94_GRAMS

    return (
        _L94_GRAMS
        + """
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id % 10 <> 0
      AND NOT EXISTS (SELECT 1 FROM cand c WHERE c.doc_id = d.doc_id)
    """
    ).format(pos=BLOOM_POS_SQL.format(j="j", val="g", m=m), k=k)


@register("st25_stream_bloom_gate", oracle=_st25_oracle())
def st25_stream_bloom_gate(spark, sf_dir):
    """STREAMING decontamination gate — l94's bloom probe deployed on
    ingest: the benchmark 8-gram Bloom filter is built OFFLINE as a
    word table (operators/bloom.py::bloom_word_table, <= m/64 rows)
    and every micro-batch broadcast-joins it; a document is REJECTED
    the moment any of its grams has all k bits set (candidate =
    possible benchmark overlap — bloom's no-false-negative side means
    nothing contaminated ever passes; the bounded fp rate quarantines
    a few clean docs, the deliberately safe direction). Admitted docs
    land through the epoch-marker exactly-once sink. Per-trigger cost:
    one codegen shingle pass + a KB-scale broadcast + ONE
    within-batch per-doc aggregate — the stream itself never
    shuffles corpus-wide, and the gate's memory is O(m) regardless of
    how much history the filter summarizes. The oracle replays the
    identical bitmap from the md5 positions, so the admitted set is
    hash-attested including the fp quarantines."""
    import shutil
    from pathlib import Path

    import ekati_spark.operators.bloom as BL
    from ekati_spark.operators import dedup as D

    M, K = 16384, 3
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % 10 == 0
    bench_grams = (
        D.shingle_rows(docs.filter(bench_pred), 8).select("g").distinct()
    )
    words = BL.bloom_word_table(bench_grams, "g", M, K).transform(
        cut_lineage
    )  # the offline-refreshed filter; reused by every micro-batch
    corpus = docs.filter(~bench_pred)

    tmp = Path(mkscratch("st25_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "admitted")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        pos = D.shingle_rows(b, 8).select(
            "id",
            "g",
            F.explode(
                F.array(
                    *[BL.bloom_position(F.col("g"), j, M) for j in range(K)]
                )
            ).alias("pos"),
        )
        bits = pos.withColumn(
            "word_idx", (F.col("pos") / 64).cast("long")
        ).join(F.broadcast(words), "word_idx", "left")
        setbit = F.expr(
            "word IS NOT NULL AND "
            "(shiftright(word, CAST(pos % 64 AS INT)) & CAST(1 AS BIGINT))"
            " = 1"
        )
        rejected = (
            bits.groupBy("id", "g")
            .agg(F.bool_and(setbit).alias("cand"))
            .filter("cand")
            .select("id")
            .distinct()
        )
        admitted = b.join(
            rejected.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
        ).select("doc_id", "source")
        sink(admitted, batch_id)

    for m_ in range(3):
        corpus.filter(F.col("doc_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(corpus.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return ops.read_committed_batches(spark, store).select(
        "doc_id", "source"
    )


@register(
    "st26_stream_counting_bloom",
    oracle=_REGISTRY["l98_counting_bloom_gc"].oracle,
)
def st26_stream_counting_bloom(spark, sf_dir):
    """STREAMING maintenance of the deletable counting-bloom ledger —
    l98's lifecycle fed by an interleaved add/delete stream: each
    micro-batch computes its per-position counter DELTAS (one batch-
    local aggregate, ≤ m rows) and appends them through the epoch-
    marker exactly-once sink; the live filter is the SUM of committed
    partials — the st15 mergeable-partial pattern, so replays are
    absorbed by the marker protocol and no read-modify-overwrite ever
    touches the state dir. The final probe (k broadcast joins against
    the merged counters) classifies every document candidate-vs-
    exact-member, answering l98's query exactly — the oracle is l98's
    by construction. At 100 TB: per-trigger cost ∝ batch values + an
    m-bounded aggregate; the filter state on disk is O(m + batches),
    compactable by re-summing."""
    import shutil
    from pathlib import Path

    import ekati_spark.operators.bloom as BL

    M, K = 4096, 3
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("v")
    )

    tmp = Path(mkscratch("st26_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "partials")
    sink = ops.idempotent_batch_sink(store)

    # interleaved feed: op-tagged adds and deletes in doc_id order
    feed = (
        vals.filter(F.col("doc_id") % 4 != 3)
        .select("doc_id", "v", F.lit("add").alias("op"))
        .unionByName(
            vals.filter(F.col("doc_id") % 8 == 1).select(
                "doc_id", "v", F.lit("del").alias("op")
            )
        )
    )

    def land(b, batch_id):
        deltas = BL.counting_bloom_counts(
            b.filter(F.col("op") == "add"),
            b.filter(F.col("op") == "del"),
            "v",
            M,
            K,
        ).withColumnRenamed("cnt", "d")
        sink(deltas, batch_id)

    for m_ in range(3):
        feed.filter(F.col("doc_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(feed.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    counts = (
        ops.read_committed_batches(spark, store)
        .groupBy("pos")
        .agg(F.sum("d").alias("cnt"))
        .filter(F.col("cnt") != 0)
    ).transform(cut_lineage)
    probed = BL.counting_bloom_probe(vals, "v", counts, M, K, "candidate")
    adds = vals.filter(F.col("doc_id") % 4 != 3).select("v")
    dels = vals.filter(F.col("doc_id") % 8 == 1).select("v")
    surv = (
        adds.withColumn("d", F.lit(1))
        .unionByName(dels.withColumn("d", F.lit(-1)))
        .groupBy("v")
        .agg(F.sum("d").alias("c"))
        .filter(F.col("c") >= 1)
        .select("v", F.lit(True).alias("mem"))
    )
    return probed.join(F.broadcast(surv), "v", "left").select(
        "doc_id",
        "candidate",
        F.coalesce("mem", F.lit(False)).alias("member"),
    )


@register(
    "st27_stream_pca_maintenance",
    oracle=_REGISTRY["l83_pca_power_iteration"].oracle,
)
def st27_stream_pca_maintenance(spark, sf_dir):
    """STREAMING maintenance of the corpus covariance — l83's PCA
    lifecycle closed (build l83 / apply l96 / MAINTAIN here): each
    micro-batch of arriving vectors computes its integer covariance
    partials (``covariance_partials`` — dim² longs per partition, the
    only N-proportional work) and appends them through the
    epoch-marker exactly-once sink; integer sums are associative, so
    the merged partials yield a component BIT-IDENTICAL to a
    from-scratch build — increment ≡ rebuild, proven by answering
    l83's query against its unchanged oracle. At 100 TB this is how
    whitening/index-prep stays current under ingest: per-trigger cost
    ∝ batch rows, the stored state is O(batches·dim²) longs
    (compactable by re-summing), and the power iteration stays a
    driver-side dim×dim scalar loop at read."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators.similarity import (
        component_from_partials,
        covariance_partials,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tmp = Path(mkscratch("st27_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "partials")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        sink(covariance_partials(b), batch_id)

    for m_ in range(3):
        emb.filter(F.col("vec_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(emb.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from ekati_spark.driverside import collect_bounded

    rows = collect_bounded(
        ops.read_committed_batches(spark, store),
        65_536,  # one dim^2 partial per (epoch, partition)
        "streamed covariance partials",
    )
    v = component_from_partials(rows, dim=64, scale=1024, iters=3)
    return spark.createDataFrame(
        [(i, int(x)) for i, x in enumerate(v)], "dim long, pc1_q long"
    )


def _st28_oracle() -> str:
    from ekati_spark.queries.base import REGISTRY

    return REGISTRY["l101_winnow_fingerprint_pairs"].oracle


@register("st28_stream_winnow_maintenance", oracle=_st28_oracle())
def st28_stream_winnow_maintenance(spark, sf_dir):
    """STREAMING maintenance of l101's winnowing fingerprint index —
    documents arrive in three micro-batches; each batch's (id, fph)
    fingerprints (per-doc local computation, so increment ≡ rebuild by
    construction — the property that makes winnowing streamable at
    all) append through the epoch-marker exactly-once sink, and the
    store is COMPACTED between batches 2 and 3 (the offline-window
    contract), so the final read crosses a compaction high-water mark:
    a replayed epoch at or below it must be skipped even though its
    per-epoch marker is gone (streaming/ops.py round-11 fix, here
    attested under the oracle, not just in pytest). The overlap-pair
    join over the streamed store must equal l101's batch output
    exactly. At 100 TB this is the always-fresh plagiarism/overlap
    index: per-trigger cost ∝ batch grams, the stored table stays
    ~2/(w+1) of gram volume, and compaction bounds file count without
    rebuilding history."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    tmp = Path(mkscratch("st28_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "fp")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        sink(D.winnow_fingerprints(b, k=4, w=5), batch_id)

    for m in range(3):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m}"))
        parts = sorted((tmp / f"b{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"b{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(docs.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if m == 1:
            # offline window between triggers: fold epochs 0-1 into a
            # compacted batch; the high-water mark now guards their
            # replay-dedup evidence
            ops.compact_committed_batches(spark, store)
    fp = ops.read_committed_batches(spark, store)
    a = fp.select(F.col("id").alias("id_a"), "fph")
    b = fp.select(F.col("id").alias("id_b"), F.col("fph").alias("fph_b"))
    return (
        a.join(
            b,
            (F.col("fph") == F.col("fph_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def _st29_oracle() -> str:
    from ekati_spark.queries.llm import _L112_ORACLE

    return _L112_ORACLE


@register("st29_stream_source_vocab", oracle=_st29_oracle())
def st29_stream_source_vocab(spark, sf_dir):
    """STREAMING maintenance of l112's per-source boilerplate
    vocabulary — documents arrive in three ordered micro-batches; each
    batch appends its per-(source, token) distinct-doc counts and
    per-source doc counts through the epoch-marker exactly-once sink
    (batch replays cannot inflate a document frequency). Partials sum
    exactly because a document exists in exactly one batch, so
    count(DISTINCT doc_id) is additive across batches. The final scrub
    derives the >= 60% vocabulary from the committed store and rewrites
    the full corpus with l112's shared tail (_scrub_with_vocab); the
    oracle is l112's batch replay, so a hash match proves continuous
    DF maintenance ≡ re-counting — the text-hygiene analog of st22's
    always-fresh BM25 index. At 100 TB: per-trigger cost ∝ batch
    tokens; the vocab read is a per-source broadcast."""
    import shutil
    from pathlib import Path

    from ekati_spark.queries.llm import _scrub_with_vocab

    docs = load_table(spark, sf_dir, "documents")
    tmp = Path(mkscratch("st29_"))
    src = tmp / "src"
    src.mkdir()
    stores = {k: str(tmp / k) for k in ("df", "nsrc")}
    sinks = {k: ops.idempotent_batch_sink(p) for k, p in stores.items()}

    def land(b, batch_id):
        tok = b.select(
            "source",
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"),
        ).transform(cut_lineage)  # consumed by df AND nsrc partials
        sinks["df"](
            tok.groupBy("source", "tok").agg(
                F.countDistinct("doc_id").alias("df")
            ),
            batch_id,
        )
        sinks["nsrc"](
            tok.groupBy("source").agg(
                F.countDistinct("doc_id").alias("n")
            ),
            batch_id,
        )

    for m in range(3):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m}"))
        parts = sorted((tmp / f"b{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"b{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(docs.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    df = (
        ops.read_committed_batches(spark, stores["df"])
        .groupBy("source", "tok")
        .agg(F.sum("df").alias("df"))
    )
    nsrc = (
        ops.read_committed_batches(spark, stores["nsrc"])
        .groupBy("source")
        .agg(F.sum("n").alias("n"))
    )
    vocab = (
        df.join(F.broadcast(nsrc), "source")
        .filter(10 * F.col("df") >= 6 * F.col("n"))
        .select("source", "tok", F.lit(1).alias("bp"))
    )
    tok = docs.select(
        "source",
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), " +")).alias(
            "i", "tok"
        ),
    )
    return _scrub_with_vocab(tok, vocab)


@register(
    "st30_stream_heavy_hitters",
    oracle=_REGISTRY["r60_heavy_hitters"].oracle,
)
def st30_stream_heavy_hitters(spark, sf_dir):
    """STREAMING maintenance of the Misra-Gries frequent-items sketch —
    r60's two-pass heavy hitters with pass 1 maintained incrementally
    over the event stream: each micro-batch sketches ITSELF into
    bounded per-partition summaries (``misra_gries_summaries``, ≤
    capacity rows per task regardless of batch volume) and appends
    them through the epoch-marker exactly-once sink. MG summaries are
    MERGEABLE by summing ``mg_lb`` per key — the per-key undercount
    bound is additive across batches (Σ n_b/(capacity+1) =
    N/(capacity+1)), so the union of committed partials covers every
    key with true total count > N/(capacity+1), exactly pass 1's
    contract in the batch twin. The final exact re-count runs over
    the landed corpus restricted to the merged candidate set; the
    oracle is r60's by construction.

    At 100 TB: per-trigger cost is one mapInPandas sweep of the batch
    (no shuffle); sketch state on disk is O(capacity × partitions ×
    epochs), compactable by re-summing per key — the same
    merge-don't-rewrite ledger discipline as st15/st26. A replayed
    epoch overwrites its own marker file, never double-counts."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators import sketch as SK

    ev = load_table(spark, sf_dir, "events")
    feed = ev.select("event_id", "event_type", "user_id")

    tmp = Path(mkscratch("st30_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "summaries")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        sink(
            SK.misra_gries_summaries(
                b, ["event_type", "user_id"], capacity=1024
            ),
            batch_id,
        )

    for m_ in range(3):
        feed.filter(F.col("event_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(feed.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    merged = (
        ops.read_committed_batches(spark, store)
        .groupBy("event_type", "user_id")
        .agg(F.sum("mg_lb").alias("mg_lb"))
    ).transform(cut_lineage)
    return SK.misra_gries_heavy_hitters(
        ev, ["event_type", "user_id"], k=20, capacity=1024, summaries=merged
    )


@register(
    "st31_stream_scaling_manifest",
    oracle=_REGISTRY["l118_scaling_law_subsets"].oracle,
)
def st31_stream_scaling_manifest(spark, sf_dir):
    """STREAMING maintenance of l118's scaling-law ablation manifest —
    documents land in three micro-batches and each batch appends its
    per-(tier, source) doc/token DELTAS (a 4×|sources|-row batch-local
    aggregate; the md5 tier draw is per-row and needs no cross-batch
    state) through the epoch-marker exactly-once sink; the manifest at
    read time is the SUM of committed cells run through l118's grid
    completion + cumulative windows + share computation. Counts are
    trivially mergeable, so replays are absorbed by the marker
    protocol and the read-side result equals the batch computation
    exactly — the oracle is l118's by construction. At 100 TB:
    per-trigger cost ∝ batch rows with a cells-sized output; the
    manifest store grows by ≤ 4·|sources| rows per epoch and compacts
    by re-summing."""
    import shutil
    from pathlib import Path

    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.lit("abl"), F.col("doc_id").cast("string"))), 1, 8
    )
    tier = (
        F.when(h < "19999999", 10)
        .when(h < "40000000", 25)
        .when(h < "80000000", 50)
        .otherwise(100)
    )
    feed = docs.select(
        "doc_id", tier.alias("tier"), "source",
        F.size(F.split(F.trim(F.lower("text")), " +")).alias("n_tokens"),
    )

    tmp = Path(mkscratch("st31_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "cells")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        sink(
            b.groupBy("tier", "source").agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("toks"),
            ),
            batch_id,
        )

    for m_ in range(3):
        feed.filter(F.col("doc_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(feed.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    cells = (
        ops.read_committed_batches(spark, store)
        .groupBy("tier", "source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("toks"),
        )
    ).transform(cut_lineage)
    grid = docs.select("source").distinct().select(
        "source",
        F.explode(
            F.array(F.lit(10), F.lit(25), F.lit(50), F.lit(100))
        ).alias("subset_pct"),
    )
    filled = grid.join(
        cells,
        (cells.tier == grid.subset_pct) & (cells.source == grid.source),
        "left",
    ).select(
        grid.subset_pct, grid.source,
        F.coalesce(cells.n_docs, F.lit(0)).alias("n_docs"),
        F.coalesce(cells.toks, F.lit(0)).alias("toks"),
    )
    from pyspark.sql import Window as _W

    wsrc = _W.partitionBy("source").orderBy("subset_pct")
    cum = filled.select(
        "subset_pct", "source",
        F.sum("n_docs").over(wsrc).alias("n_docs"),
        F.sum("toks").over(wsrc).alias("n_tokens"),
    )
    return cum.select(
        F.col("subset_pct").cast("int").alias("subset_pct"),
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "n_tokens * 1000000L div sum(n_tokens) "
            "OVER (PARTITION BY subset_pct)"
        ).cast("long").alias("token_share_ppm"),
    )


@register(
    "st32_stream_vad_maintenance",
    oracle=_REGISTRY["l121_audio_vad_segments"].oracle,
)
def st32_stream_vad_maintenance(spark, sf_dir):
    """STREAMING maintenance of l121's voice-activity segmentation —
    audio documents arrive in three micro-batches; each batch DECODES
    its own WAVs (the Arrow frame-energy pass is batch-local, payload
    bytes never cross epochs) and appends only its ACTIVE frames
    (energy > threshold — the bounded ledger) through the epoch-marker
    exactly-once sink. Segmentation happens at READ: the island
    analysis runs over the merged active-frame ledger, so segments
    that would straddle a batch boundary merge correctly — the
    classic streaming-segmentation pitfall (per-batch segmentation
    emits split segments; deferring the merge to the mergeable
    representation, active FRAMES, makes replay and boundary order
    irrelevant). Oracle = l121's by construction. At 100 TB:
    per-trigger cost ∝ batch audio; ledger rows ∝ active frames
    (compactable by re-writing distinct rows); the read-side window
    partitions by doc."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators.audio import decode_wav, planted_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    tmp = Path(mkscratch("st32_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "active_frames")
    sink = ops.idempotent_batch_sink(store)

    def frame_energies(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if pdf.empty:
                continue
            out_doc, out_frame, out_energy = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                _, _, _, samples = decode_wav(planted_wav(did))
                for f0 in range(0, len(samples) - 15, 16):
                    fr = samples[f0 : f0 + 16]
                    e = sum(x * x for x in fr)
                    if e > 20_000_000:
                        out_doc.append(did)
                        out_frame.append(f0 // 16)
                        out_energy.append(e)
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame": out_frame, "energy": out_energy}
            )

    def land(b, batch_id):
        sink(
            b.mapInPandas(
                frame_energies, "doc_id long, frame int, energy long"
            ),
            batch_id,
        )

    for m_ in range(3):
        docs.filter(F.col("doc_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(docs.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.sql import Window as _W

    active = ops.read_committed_batches(spark, store).transform(cut_lineage)
    wdoc = _W.partitionBy("doc_id").orderBy("frame")
    act = active.select(
        "doc_id", "frame", "energy",
        (F.col("frame") - F.row_number().over(wdoc)).alias("isl"),
    )
    segs = (
        act.groupBy("doc_id", "isl")
        .agg(
            F.min("frame").alias("start_frame"),
            F.max("frame").alias("end_frame"),
            F.count("*").alias("n_frames"),
            F.sum("energy").alias("energy_sum"),
        )
        .filter(F.col("n_frames") >= 2)
    )
    wseg = _W.partitionBy("doc_id").orderBy("start_frame")
    return segs.select(
        "doc_id",
        F.row_number().over(wseg).cast("int").alias("seg_id"),
        F.col("start_frame").cast("int").alias("start_frame"),
        F.col("end_frame").cast("int").alias("end_frame"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.expr("start_frame * 16 * 1000L div 8000").alias("start_ms"),
        F.col("energy_sum").cast("long").alias("energy_sum"),
    )


@register(
    "st33_stream_attribution",
    oracle=_REGISTRY["r77_linear_attribution"].oracle,
)
def st33_stream_attribution(spark, sf_dir):
    """STREAMING linear attribution — r77 computed incrementally as
    events arrive in TIME ORDER (three tertile micro-batches): each
    epoch first appends its click/view touches to a committed touch
    LEDGER, then attributes its OWN purchases against ledger ∪ batch
    touches. Because batches respect event time, every touch a
    purchase can credit (t2 < t) has already landed — so per-purchase
    credits computed once, in the purchase's epoch, equal the batch
    computation exactly and the final read is just the union of
    committed credit rows (r77's oracle by construction). This is the
    honest streaming-attribution shape: a lookback join against an
    accumulated store (the st21 accumulated-ledger pattern), not a
    recompute-the-world at read.

    At 100 TB: per-trigger cost = batch purchases × the user's
    lookback touches (the ledger join is user-keyed and the 7-day
    watermark bounds what must stay); the ledger compacts by dropping
    touches older than any in-flight purchase's lookback."""
    import shutil
    from pathlib import Path

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    ).filter(F.col("event_type").isin("purchase", "click", "view"))

    # deterministic time-tertile epochs (fixture construction only —
    # production is wall-clock triggers)
    n = base.count()

    def tertile(k: int):
        if n < 3:
            return None
        return (
            base.orderBy("t", "event_id")
            .limit(k * n // 3)
            .agg(F.max("t"))
            .first()[0]
        )

    t1, t2 = tertile(1), tertile(2)  # two scalar jobs, nothing collects

    tmp = Path(mkscratch("st33_"))
    src = tmp / "src"
    src.mkdir()
    touch_store = str(tmp / "touches")
    credit_store = str(tmp / "credits")
    touch_sink = ops.idempotent_batch_sink(touch_store)
    credit_sink = ops.idempotent_batch_sink(credit_store)

    from pyspark.sql import Window as _W

    def land(b, batch_id):
        touches = b.filter(
            F.col("event_type").isin("click", "view")
        ).select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("touch_type"),
            F.col("t").alias("t2"),
        )
        touch_sink(touches, batch_id)
        ledger = ops.read_committed_batches(b.sparkSession, touch_store)
        conv = b.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id"), "t"
        )
        joined = conv.join(
            ledger,
            (conv.user_id == ledger.t_user)
            & (ledger.t2 < conv.t)
            & (ledger.t2 >= conv.t - F.lit(604_800_000_000)),
        ).select("user_id", "purchase_id", "touch_id", "touch_type", "t2")
        wp = _W.partitionBy("purchase_id")
        wr = wp.orderBy(F.desc("t2"), F.desc("touch_id"))
        credits = joined.select(
            "user_id", "purchase_id", "touch_id", "touch_type",
            F.count("*").over(wp).cast("long").alias("n"),
            F.row_number().over(wr).alias("rnk"),
        ).select(
            "user_id", "purchase_id", "touch_id", "touch_type",
            F.expr(
                "1000L div n + CASE WHEN rnk <= 1000 % n THEN 1 ELSE 0 END"
            ).cast("long").alias("credit_milli"),
        )
        credit_sink(credits, batch_id)

    conds = [
        F.col("t") < t1 if t1 is not None else F.lit(True),
        (F.col("t") >= t1) & (F.col("t") < t2)
        if t1 is not None and t2 is not None
        else F.lit(False),
        F.col("t") >= t2 if t2 is not None else F.lit(False),
    ]
    for m_, cond in enumerate(conds):
        base.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            str(tmp / f"b{m_}")
        )
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(base.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return ops.read_committed_batches(spark, credit_store).select(
        "user_id", "purchase_id", "touch_id", "touch_type", "credit_milli"
    )


@register(
    "st34_stream_domain_reweighting",
    oracle=_REGISTRY["l129_domain_reweighting"].oracle,
)
def st34_stream_domain_reweighting(spark, sf_dir):
    """STREAMING maintenance of l129's domain-mixture optimizer —
    documents arrive in three micro-batches; each batch appends its
    per-source (n_docs, Σ utr_ppm) PARTIALS (a |sources|-row
    batch-local aggregate; per-doc type-token ratios need no
    cross-batch state) through the epoch-marker exactly-once sink. At
    read time the committed partials merge by summation — exactly the
    domain table the batch query aggregates in one pass — and the same
    5-round integer multiplicative-weights loop runs over the merged
    frame, so the final mixture equals l129's bit-for-bit and the
    oracle is l129's by construction. Counts/sums are trivially
    mergeable: replays are absorbed by the marker protocol. At 100 TB:
    per-trigger cost ∝ batch rows; the optimizer state IS the ≤dozens-
    of-domains table, re-derived from committed partials each refresh
    (mixture weights must see the WHOLE corpus, so incremental
    maintenance of the inputs, not the weights, is the correct
    factoring)."""
    import shutil
    from pathlib import Path

    from ekati_spark.driverside import collect_bounded
    from ekati_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    feed = docs.select(
        "doc_id", "source",
        F.size(tk).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_dist"),
    ).filter(F.col("n_tok") > 0)

    tmp = Path(mkscratch("st34_"))
    src = tmp / "src"
    src.mkdir()
    store = str(tmp / "partials")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        sink(
            b.groupBy("source").agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(F.expr("1000000L * n_dist div n_tok"))
                .cast("long")
                .alias("s_utr"),
            ),
            batch_id,
        )

    for m_ in range(3):
        feed.filter(F.col("doc_id") % 3 == m_).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"b{m_}"))
        parts = sorted((tmp / f"b{m_}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m_}.parquet"))
        shutil.rmtree(tmp / f"b{m_}")
        q = (
            spark.readStream.format("parquet")
            .schema(feed.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    merged = (
        ops.read_committed_batches(spark, store)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("s_utr").cast("long").alias("s_utr"),
        )
    )
    rows = collect_bounded(merged, 4096, "st34 domain table")
    tot_docs = sum(r.n_docs for r in rows)
    tot_utr = sum(r.s_utr for r in rows)
    corpus_mean = tot_utr // tot_docs
    doms = sorted(rows, key=lambda r: r.source)
    stats = {
        r.source: (
            r.n_docs,
            r.s_utr // r.n_docs,
            r.s_utr // r.n_docs - corpus_mean,
        )
        for r in doms
    }
    n_dom = len(doms)
    w = {
        r.source: 1000000 // n_dom + (1 if i < 1000000 % n_dom else 0)
        for i, r in enumerate(doms)
    }
    for _ in range(5):
        raw = {s: w[s] * (4000000 + stats[s][2]) for s in w}
        tot = sum(raw.values())
        fl = {s: raw[s] * 1000000 // tot for s in raw}
        rem = {s: raw[s] * 1000000 % tot for s in raw}
        deficit = 1000000 - sum(fl.values())
        order = sorted(w, key=lambda s: (-rem[s], s))
        w = {
            s: fl[s] + (1 if order.index(s) < deficit else 0) for s in w
        }
    out = [
        (s, stats[s][0], stats[s][1], stats[s][2], w[s])
        for s in sorted(w)
    ]
    return spark.createDataFrame(
        out,
        "source string, n_docs long, mean_utr_ppm long, "
        "excess_ppm long, weight_ppm long",
    )


@register(
    "st35_stream_graph_maintenance",
    oracle=_REGISTRY["l135_knn_graph_append"].oracle,
)
def st35_stream_graph_maintenance(spark, sf_dir):
    """STREAMING maintenance of the k-NN graph index — l135's append
    path fed by a stream, completing the graph family's maintenance
    lifecycle next to IVF (l70/st24), BM25 (l86/st22), and the chunk
    store (l82/st21): the NN-Descent graph is built and FROZEN on the
    base corpus (vec_id % 23 != 0), then the delta vectors arrive in
    two ordered micro-batches. Each trigger computes ONLY its own
    nodes' out-edges (a newcomer's links depend on the frozen graph +
    base corpus alone — batch-local by construction, so stream-append
    commutes) and lands them through the epoch-marker exactly-once
    sink; the reverse patch — touched base nodes re-ranking with ALL
    newcomers in the pool — is DERIVED AT READ from base graph ∪
    committed segments (the st15 mergeable-partial-state pattern:
    nothing read-modify-writes state, replays are absorbed by the
    sink). The final report is l135's EXACTLY (its oracle attests
    this query), proving stream-append ≡ batch-append. Scale: per
    trigger ∝ batch·L·cap probe rows + k-hop expansion; at 100 TB the
    base bucket table and graph are persisted artifacts the trigger
    joins against, and read-time patching touches ≤ |delta|·k nodes."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators import similarity as S
    from ekati_spark.queries.llm import (
        _KNN_DIM as dim, _L135_BASE, _knn_graph, _knn_valid,
    )

    valid = _knn_valid(spark, sf_dir)
    base = valid.filter(_L135_BASE)
    delta = valid.filter(F.col("vec_id") % 23 == 0)
    # FROZEN index: l135's persisted base graph — built once per
    # (session, sf_dir), joined by every trigger
    index = _knn_graph(spark, sf_dir, "l135_graph", where=_L135_BASE)
    g = index.edges
    tmp = Path(mkscratch("st35_"))
    store = str(tmp / "edges")
    sink = ops.idempotent_batch_sink(store)

    def land(b, batch_id):
        ins, _ = S.knn_graph_insert(
            g, base, b, k=5, n_planes=index.n_planes, n_tables=4, dim=dim,
            bucket_cap=64,
        )
        sink(ins, batch_id)

    src = tmp / "src"
    src.mkdir()
    for m in range(2):
        delta.filter(
            (F.col("vec_id") % 46) == (0 if m == 0 else 23)
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp / f"b{m}"))
        parts = sorted((tmp / f"b{m}").glob("*.parquet"))
        assert len(parts) == 1
        shutil.move(str(parts[0]), str(src / f"part-{m}.parquet"))
        shutil.rmtree(tmp / f"b{m}")
        q = (
            spark.readStream.format("parquet")
            .schema(valid.schema)
            .load(str(src))
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    committed = ops.read_committed_batches(spark, store).select(
        "did", "x", "cmicro", "rank"
    ).transform(cut_lineage)  # consumed 2x: report agg + reverse pool
    patched = S.knn_graph_reverse_patch(
        g, committed, base, delta, k=5, dim=dim
    )
    outagg = committed.groupBy("did").agg(
        F.count("*").alias("out_degree"),
        F.sum("cmicro").alias("link_micro_sum"),
    )
    revagg = (
        patched.filter(F.col("y") % 23 == 0)
        .groupBy("y")
        .agg(F.count("*").alias("rev_links"))
    )
    ids = delta.select(F.col("vec_id").alias("node_id"))
    zero = F.lit(0).cast("long")
    return (
        ids.join(outagg, ids.node_id == outagg.did, "left")
        .join(revagg, ids.node_id == revagg.y, "left")
        .select(
            "node_id",
            F.coalesce("out_degree", zero).alias("out_degree"),
            F.coalesce("link_micro_sum", zero).alias("link_micro_sum"),
            F.coalesce("rev_links", zero).alias("rev_links"),
        )
    )

"""Batch-mode equivalents of the streaming operator surface (tumbling/
sliding/session windows, watermark late-drop, dedup) over the `events`
fixture, each with a DuckDB oracle. The same logic compiled against
readStream lives in db_core_spark.streaming (rows-only / pytest checked —
streaming state is not SQL-expressible; SURVEY.md §7.1 phase 4).

Window starts are output as epoch seconds (BIGINT) so value hashing is
immune to timestamp precision/timezone differences between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from db_core_spark.registry import query
from db_core_spark.tables import table


def _epoch_secs(col):
    """Epoch seconds from a timestamp_ntz column (UTC session, JVM-side)."""
    return F.unix_timestamp(col.cast("timestamp")).cast("long")


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    category="streaming",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate (F.window in batch mode — identical
    semantics to the streaming query in db_core_spark.streaming)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            _epoch_secs(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - (k * INTERVAL '30 minutes') AS w_start, value
      FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k)
    )
    SELECT CAST(epoch(w_start) AS BIGINT) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM slid GROUP BY 1
    """,
    category="streaming",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min: each event lands in exactly 2
    windows. Spark's F.window(slideDuration) does the fan-out natively; the
    oracle materializes the same fan-out with an UNNEST cross join."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            _epoch_secs(F.col("window.start")).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
    category="streaming",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via lag + cumulative
    session counter — the batch twin of F.session_window. Scales as one
    shuffle on user_id (window partition) + the final agg reusing it."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_secs = F.col("ts").cast("timestamp").cast("long")
    gap = ts_secs - F.lag(ts_secs).over(w)
    marked = e.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("is_new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sessions.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        _epoch_secs(F.min("ts")).alias("session_start"),
        _epoch_secs(F.max("ts")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "stream_dedup_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS first_ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
    category="streaming",
)
def stream_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates semantics made deterministic: keep the
    earliest event per (user, type). In true streaming this is
    dropDuplicates with a watermark (state TTL); batch twin is a window."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            _epoch_secs(F.col("ts")).alias("first_ts"),
        )
    )


@query(
    "stream_watermark_latedrop",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    kept AS (
      SELECT e.* FROM events e, mx
      WHERE e.ts >= mx.max_ts - INTERVAL '6 hours')
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM kept GROUP BY 1
    """,
    category="streaming",
)
def stream_watermark_latedrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics in batch: drop events older than max(event time)
    minus the 6h watermark delay, then window-aggregate the survivors —
    what withWatermark('ts','6 hours') converges to over this bounded input."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    kept = e.crossJoin(F.broadcast(mx)).filter(
        F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 6 HOURS")
    )
    return (
        kept.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(_epoch_secs(F.col("window.start")).alias("window_start"), "n_events")
    )


@query(
    "stream_static_enrich_batch",
    oracle="""
    SELECT e.event_type, c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    category="streaming",
)
def stream_static_enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stream_static_enrich (stream-static dim
    join), rolled up per (event_type, segment). The dim side broadcasts —
    in streaming it re-broadcasts per micro-batch, so the stream side is
    never shuffled."""
    from db_core_spark.streaming.ops import stream_static_enrich

    e = table(spark, sf_dir, "events")
    dim = table(spark, sf_dir, "customer")
    return (
        stream_static_enrich(e, dim)
        .groupBy("event_type", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "stream_stream_join_batch",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           ROUND(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
    """,
    category="streaming",
)
def stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stream_stream_join: click->purchase pairs
    within 1 hour per user. In streaming both sides are watermarked and the
    interval bound lets Spark expire join state — O(window) state, the only
    viable shape for unbounded sides."""
    from db_core_spark.streaming.ops import stream_stream_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    return stream_stream_join(clicks, purchases).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


@query(
    "stream_left_outer_join_batch",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           ROUND(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
    """,
    category="streaming",
)
def stream_left_outer_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stream_stream_left_outer: every click with
    its in-window purchase or nulls. Batch computes the full outer result
    directly; in streaming the null-padded rows emit with watermark+gap
    delay (finalization, pinned in tests/test_streaming.py)."""
    from db_core_spark.streaming.ops import stream_stream_left_outer

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    return stream_stream_left_outer(clicks, purchases).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def _gap_session_intervals(e: DataFrame, etype: str, gap_us: int) -> DataFrame:
    """Gap-sessionize one event-type stream into per-user [start_us, end_us]
    intervals (integer microseconds; epoch math keeps the oracle exact)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    sess = (
        e.filter(F.col("event_type") == etype)
        .select("user_id", "event_id", "ts")
        .withColumn("us", us)
        .withColumn(
            "session_no",
            F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    return sess.groupBy("user_id", F.col("session_no").cast("int").alias("session_no")).agg(
        F.min("us").alias("start_us"),
        (F.max("us") + gap_us).alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SESS_SQL = """
      SELECT user_id, CAST(session_no AS INT) AS session_no,
             MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM (
        SELECT user_id, us,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_no
        FROM (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events WHERE event_type = '{etype}'
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)))
      GROUP BY user_id, session_no
"""


@query(
    "stream_session_overlap_batch",
    oracle="WITH c AS ("
    + _SESS_SQL.format(etype="click")
    + "), p AS ("
    + _SESS_SQL.format(etype="purchase")
    + """)
    SELECT c.user_id,
           c.session_no AS click_session, p.session_no AS purchase_session,
           c.n_events AS click_events, p.n_events AS purchase_events,
           LEAST(c.end_us, p.end_us) - GREATEST(c.start_us, p.start_us)
             AS overlap_us
    FROM c JOIN p ON c.user_id = p.user_id
     AND c.start_us <= p.end_us AND p.start_us <= c.end_us
    """,
    category="streaming",
)
def stream_session_overlap_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of cross-stream session-interval overlap: gap-sessionize
    (30 min) the click stream and the purchase stream independently per
    user, then join session intervals that OVERLAP in time — "which buying
    sessions happened while the user was mid-browse". Intervals use the
    session_window convention [first_event, last_event + gap), so the live
    F.session_window aggregation emits the SAME intervals this twin builds. Both sessionizations
    and the join hash on user_id, so the whole operator is one exchange
    reused three times; the interval predicate evaluates inside each
    user's join group (per-user session counts are small and bounded by
    the gap, so the within-group pairing never degenerates).

    The live-stream version runs `session_window` aggregations per side —
    Structured Streaming can't join two streaming AGGREGATES in one query
    (a documented engine limitation), so the production shape is
    session-stream -> sink, then this overlap join downstream; pytest
    (tests/test_streaming.py) runs both session streams to completion and
    pins their joined intervals to this twin's output."""
    e = table(spark, sf_dir, "events")
    gap_us = 1800 * 1000 * 1000
    c = _gap_session_intervals(e, "click", gap_us)
    p = _gap_session_intervals(e, "purchase", gap_us)
    joined = c.alias("c").join(
        p.alias("p"),
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.start_us") <= F.col("p.end_us"))
        & (F.col("p.start_us") <= F.col("c.end_us")),
    )
    return joined.select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.session_no").alias("click_session"),
        F.col("p.session_no").alias("purchase_session"),
        F.col("c.n_events").alias("click_events"),
        F.col("p.n_events").alias("purchase_events"),
        (
            F.least(F.col("c.end_us"), F.col("p.end_us"))
            - F.greatest(F.col("c.start_us"), F.col("p.start_us"))
        ).alias("overlap_us"),
    )


@query(
    "stream_native_sink_versioned",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    category="streaming",
)
def stream_native_sink_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the NATIVE streaming sink
    (.writeStream.format('versioned'), sources/versioned_datasource.py
    VersionedStreamWriter): the bounded event fixture flows file-by-file
    through Structured Streaming into a fresh VersionedTable — one ACID
    manifest per micro-batch, each carrying its (writer, epoch) identity —
    then a published epoch is deliberately REPLAYED through the same
    writer path (staged parts + commit with the old batchId) and must be
    skipped without publishing. The returned aggregate reads the final
    SNAPSHOT; the oracle recomputes it straight from the fixture, so any
    duplicate, lost, or phantom row from the sink path breaks the hash,
    and the replay invariants are asserted in-line (loud failure, not a
    silent wrong row).

    Reference parity: WAL-append by a continuous writer with recovery
    dedup by tsn replay check (/root/reference/src/log_mgr/buf.rs,
    system/instance.rs:221-304)."""
    import tempfile

    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import (
        VersionedStreamWriter,
        register,
    )
    from db_core_spark.streaming import events_stream, stage_events_files

    register(spark)
    work = tempfile.mkdtemp(prefix="vt_stream_native_")
    stream_dir = stage_events_files(spark, sf_dir, work + "/in", n_files=3)
    src = events_stream(spark, stream_dir)
    vt = VersionedTable.create(
        spark, work + "/vt", key_cols=["event_id"], schema=src.schema
    )
    q = (
        src.writeStream.format("versioned")
        .option("path", vt.path)
        .option("checkpointLocation", work + "/ck")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = [
        m["epoch"] for m in vt.log.manifests() if m.get("writer") is not None
    ]
    if len(epochs) < 2 or len(set(epochs)) != len(epochs):
        raise AssertionError(f"expected distinct per-batch commits, got {epochs}")
    # replay a published epoch: must not publish a second manifest
    w = VersionedStreamWriter(
        src.schema, {"path": vt.path, "checkpointlocation": work + "/ck"}
    )
    snap = vt.snapshot()
    msg = w.write(iter(snap.limit(5).collect()))
    before = len(vt.log.manifests())
    w.commit([msg], batchId=epochs[0])
    if len(vt.log.manifests()) != before:
        raise AssertionError("replayed epoch published a duplicate manifest")
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "stream_group_sink_database",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
    category="streaming",
)
def stream_group_sink_database(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the ATOMIC MULTI-TABLE streaming sink
    (streaming/ops.py stream_into_database): the bounded event fixture
    flows through Structured Streaming into a Database where every
    micro-batch lands as ONE group commit spanning the raw-events table
    and a per-user running-aggregate table (merged incrementally with
    txn-level MERGE semantics via upsert-with-read). In-line asserts pin
    the atomicity evidence — per-table manifest (writer, epoch) pairs
    line up 1:1, so no reader can ever see raw ahead of agg — then the
    returned aggregate reads the FINAL agg-table snapshot; the oracle
    recomputes it straight from the fixture, so a lost batch, double
    batch, or torn (raw-without-agg) commit breaks the hash.

    Reference parity: one WAL commit record covering every object a txn
    wrote (/root/reference/src/system/instance.rs:102-111), driven by a
    continuous writer."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans import Database
    from db_core_spark.streaming import (
        events_stream,
        stage_events_files,
        stream_into_database,
    )

    work = tempfile.mkdtemp(prefix="vt_group_sink_")
    stream_dir = stage_events_files(spark, sf_dir, work + "/in", n_files=3)
    src = events_stream(spark, stream_dir)
    db = Database.create(spark, work + "/db")
    db.create_table("raw_events", key_cols=["event_id"], schema=src.schema)
    agg_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    db.create_table("user_totals", key_cols=["user_id"], schema=agg_schema)
    agg_vt = db.table("user_totals")

    def split(batch_df):
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        # fold the delta into current state: running totals stay correct
        # because each batch commits exactly once (group replay marker)
        cur = agg_vt.snapshot().select(
            F.col("user_id"),
            F.col("n_events").alias("n0"),
            F.col("total_value").alias("t0"),
        )
        merged = delta.join(cur, "user_id", "left").select(
            "user_id",
            (F.col("n_events") + F.coalesce(F.col("n0"), F.lit(0))).alias("n_events"),
            (F.col("total_value") + F.coalesce(F.col("t0"), F.lit(0.0))).alias(
                "total_value"
            ),
        )
        return {"raw_events": batch_df, "user_totals": merged}

    q = stream_into_database(src, db, work + "/ck", split)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def epochs(vt):
        return sorted(
            (m["writer"], m["epoch"])
            for m in vt.log.manifests()
            if m.get("writer") is not None
        )

    raw_e = epochs(db.table("raw_events"))
    agg_e = epochs(agg_vt)
    if raw_e != agg_e or len(raw_e) < 2 or len(set(raw_e)) != len(raw_e):
        raise AssertionError(
            f"atomic epoch pairing violated: raw={raw_e} agg={agg_e}"
        )
    return agg_vt.snapshot().select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )


@query(
    "stream_clone_fork_diff",
    oracle="""
    SELECT event_id, 'insert' AS _change,
           CAST(NULL AS VARCHAR) AS old_event_type,
           CAST(NULL AS DOUBLE) AS old_value,
           event_type AS new_event_type,
           value AS new_value
    FROM events
    WHERE event_id % 3 = 0 AND event_id <= 600
    """,
    category="streaming",
)
def stream_clone_fork_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork-and-experiment integration (SURVEY round-7 candidate #3 /
    VERDICT-r4 #8): clone a versioned table at a cut, STREAM new data into
    the CLONE through the native exactly-once sink, diverge the upstream
    independently, then read the fork's change-set as the MVCC diff from
    its fork csn to its head — the git-branch workflow with a live
    ingestion pipeline writing to the branch.

    Invariants asserted in-line: the stream lands as >= 2 distinct
    (writer, epoch) group-free manifests on the CLONE only; the upstream's
    post-fork commit is invisible to the fork's diff (isolation both
    ways); and the diff equals EXACTLY the streamed slice — the oracle
    recomputes that slice relationally, so a lost micro-batch, a
    double-applied epoch, or fork/upstream bleed-through all break the
    hash. Clone cost is O(files) hard links; the diff is two bucketed
    zero-exchange snapshot reads + one co-partitioned full-outer join
    (plans/versioned.py diff), and the streamed keys are disjoint from the
    seed so every diff row is an insert.

    Reference parity: fork = opening a second instance over a copied
    store; the diff re-reads the fork's log tail exactly as recovery folds
    it (/root/reference/src/system/instance.rs:221-304) — adjudicated
    against the upstream head instead of replayed blindly."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import register

    register(spark)
    work = tempfile.mkdtemp(prefix="vt_clone_stream_")
    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).filter(F.col("event_id") <= 600)
    seed = e.filter(F.col("event_id") % 3 != 0)
    stream_slice = e.filter(F.col("event_id") % 3 == 0)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    up = VersionedTable.create(
        spark, work + "/upstream", key_cols=["event_id"], schema=schema
    )
    t = up.begin()
    t.upsert(seed)
    fork_csn = t.commit()

    fork = up.clone(work + "/fork")

    # upstream diverges AFTER the cut: must not appear in the fork's diff
    t = up.begin()
    t.upsert(
        seed.filter(F.col("event_id") % 9 == 1).withColumn(
            "value", F.col("value") + 100.0
        )
    )
    t.commit()

    # stage the streamed slice as two arrival files -> exactly-once sink
    in_dir = work + "/in"
    os.makedirs(in_dir)
    for i, half in enumerate((0, 1)):
        stream_slice.filter((F.col("event_id") / 3 % 2).cast("int") == half).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(in_dir, f"f{i}"))
    flat = work + "/flat"
    os.makedirs(flat)
    for i in (0, 1):
        src_dir = os.path.join(in_dir, f"f{i}")
        for name in sorted(os.listdir(src_dir)):
            if name.endswith(".parquet"):
                os.replace(
                    os.path.join(src_dir, name), os.path.join(flat, f"{i:02d}-{name}")
                )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    q = (
        src.writeStream.format("versioned")
        .option("path", fork.path)
        .option("checkpointLocation", work + "/ck")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    epochs = [
        m["epoch"]
        for m in fork.log.manifests()
        if m.get("writer") is not None and m["csn"] > fork_csn
    ]
    if len(epochs) < 2 or len(set(epochs)) != len(epochs):
        raise AssertionError(f"expected >=2 distinct stream epochs, got {epochs}")
    if any(m.get("writer") is not None for m in up.log.manifests()):
        raise AssertionError("stream epochs leaked onto the upstream table")

    return fork.diff(fork_csn, fork.latest_csn()).select(
        "event_id",
        "_change",
        "old_event_type",
        "old_value",
        "new_event_type",
        "new_value",
    )

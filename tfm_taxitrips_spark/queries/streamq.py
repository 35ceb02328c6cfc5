"""Streaming queries (SURVEY.md §2.9, A5, S5-S6, J2-streaming).

Each runs a REAL Structured-Streaming query (file source standing in for
Kafka, ``availableNow`` trigger, memory sink) and returns the drained
result as a batch DataFrame — so the driver's DuckDB oracle can check the
streaming path against plain SQL (batch-stream parity, SURVEY.md §5.4).
Complete output mode is used for the drained aggregations: over a finite
replay it must equal the batch answer exactly.

One deliberate exception lives here for family cohesion:
:func:`q_debounce_episode_audit` is the BATCH window form of the
debounce policy (round 15) — it shares the module's TTL constants and
reconciles against the stateful twin by test, but exercises no
streaming engine itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfm_taxitrips_spark.functions.aggregates import dsum, dsum_sql
from tfm_taxitrips_spark.queries.registry import QuerySpec
from tfm_taxitrips_spark.sources.readers import table
from tfm_taxitrips_spark.streaming.pipeline import (
    read_events_stream,
    run_to_memory,
    stream_table,
    windowed_rollup,
)


def q_stream_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — the Druid 15-minute rollup, owned natively as a watermarked
    windowed streaming aggregation."""
    stream = read_events_stream(spark, sf_dir)
    rolled = windowed_rollup(stream)
    return run_to_memory(rolled, spark)


_STREAM_ROLLUP_SQL = f"""
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events GROUP BY 1, 2
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates: the source is replayed twice (union) so the
    stateful dedup has real work; counts must equal the single-copy batch."""
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.union(read_events_stream(spark, sf_dir))
    deduped = doubled.dropDuplicates(["event_id"])
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    return run_to_memory(counts, spark)


_STREAM_DEDUP_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events GROUP BY 1
"""


#: anchored-TTL dedup window — shared verbatim between the streaming
#: operator and the recursive-CTE oracle (derived to µs for the SQL)
STREAM_DEDUP_TTL = "24 hours"


def q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with state-TTL eviction (round 13 —
    `streaming/stateful.py:streaming_ttl_dedup`, see its docstring for
    the eviction contract): per user, the first event is admitted and
    anchors a TTL window; events inside the window are suppressed;
    the first event past it re-arms. Emitted per-key per-batch
    increments are re-aggregated here into per-user totals with an
    exact suppressed-ppm — the dedup-rate audit a telemetry ingest
    pipeline watches. Contrast `stream_dedup` (exact-id dedup whose
    state grows with ids-ever-seen): TTL semantics is what you deploy
    when the stream runs forever.

    The oracle walks the SAME greedy anchor chain as a recursive CTE —
    per key, one chain node per admission; iteration depth is the
    max admissions per key (time-span/TTL — bounded by retention, not
    row count).
    """
    from tfm_taxitrips_spark.streaming.stateful import streaming_ttl_dedup

    stream = read_events_stream(spark, sf_dir)
    increments = streaming_ttl_dedup(stream, ttl=STREAM_DEDUP_TTL)
    drained = run_to_memory(increments, spark, output_mode="append")
    return (
        drained.groupBy("user_id")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"),
             F.sum("n_admitted").cast("bigint").alias("n_admitted"))
        .select(
            "user_id", "n_events", "n_admitted",
            F.expr("(n_events - n_admitted) * 1000000 div n_events")
            .cast("bigint").alias("suppressed_ppm"),
        )
    )


def _stream_dedup_ttl_sql() -> str:
    from tfm_taxitrips_spark.operators.temporal import _duration_us

    ttl_us = _duration_us(STREAM_DEDUP_TTL)
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
adm AS (
  SELECT user_id, MIN(us) AS us FROM base GROUP BY 1
  UNION ALL
  SELECT a.user_id,
         (SELECT MIN(b.us) FROM base b
          WHERE b.user_id IS NOT DISTINCT FROM a.user_id
            AND b.us > a.us + {ttl_us}) AS us
  FROM adm a
  WHERE EXISTS (SELECT 1 FROM base b
                WHERE b.user_id IS NOT DISTINCT FROM a.user_id
                  AND b.us > a.us + {ttl_us})
),
tot AS (SELECT user_id, COUNT(*) AS n_events FROM base GROUP BY 1),
admc AS (SELECT user_id, COUNT(*) AS n_admitted FROM adm GROUP BY 1)
SELECT t.user_id, t.n_events, a.n_admitted,
       (t.n_events - a.n_admitted) * 1000000 // t.n_events AS suppressed_ppm
FROM tot t JOIN admc a ON a.user_id IS NOT DISTINCT FROM t.user_id
"""


#: refreshing-anchor (debounce) window — 8 hours sits between the
#: fixture's p10 (~1.2 h) and p90 (~25 h) inter-event gaps, so both the
#: admit and the suppress branch carry real mass; deliberately NOT the
#: anchored twin's 24 h so the two policies produce visibly different
#: admission counts on the same stream
STREAM_DEBOUNCE_TTL = "8 hours"


def q_stream_dedup_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming debounce dedup (round 14 —
    `streaming/stateful.py:streaming_debounce_dedup`, see its docstring
    for the refreshing-anchor contract): per user, an event is admitted
    iff its gap from the PREVIOUS event strictly exceeds the TTL; every
    event refreshes the anchor. The policy pair with `stream_dedup_ttl`
    (fixed anchor, "at most once per period") — this is "once per
    episode": a long burst stays collapsed however long it runs.
    Per-key per-batch increments re-aggregate into per-user totals with
    the exact suppressed-ppm, same audit shape as the twin.

    Because the anchor refreshes on every event, the admission flag
    depends only on the gap to the immediate predecessor — the oracle is
    ONE LAG window per event, no recursive chain walk (contrast the
    anchored twin's recursive CTE). Duplicate timestamps compare through
    their values, so window tiebreak order cannot change any flag.
    """
    from tfm_taxitrips_spark.streaming.stateful import (
        streaming_debounce_dedup,
    )

    stream = read_events_stream(spark, sf_dir)
    increments = streaming_debounce_dedup(stream, ttl=STREAM_DEBOUNCE_TTL)
    drained = run_to_memory(increments, spark, output_mode="append")
    return (
        drained.groupBy("user_id")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"),
             F.sum("n_admitted").cast("bigint").alias("n_admitted"))
        .select(
            "user_id", "n_events", "n_admitted",
            F.expr("(n_events - n_admitted) * 1000000 div n_events")
            .cast("bigint").alias("suppressed_ppm"),
        )
    )


def _stream_dedup_debounce_sql() -> str:
    from tfm_taxitrips_spark.operators.temporal import _duration_us

    ttl_us = _duration_us(STREAM_DEBOUNCE_TTL)
    return f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT user_id,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us > LAG(us) OVER w + {ttl_us}
              THEN 1 ELSE 0 END AS adm
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us)
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(adm) AS BIGINT) AS n_admitted,
       CAST((COUNT(*) - SUM(adm)) * 1000000 // COUNT(*) AS BIGINT)
         AS suppressed_ppm
FROM flagged GROUP BY 1
"""


def q_debounce_episode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-episode debounce audit (round 15 — the r14 shortlist's
    `packing_efficiency_report` analog for the debounce policy pair):
    the refreshing-anchor rule partitions each key's event stream into
    EPISODES (an admission plus every event it debounces — maximal runs
    where consecutive gaps stay ≤ TTL), and this report is their length
    histogram: per episode length, how many episodes, how many raw
    events they absorb (exact ppm of the corpus), and the time span they
    cover. This is the table that justifies a TTL choice: a fat tail of
    long episodes says the TTL glues independent visits together; mass
    at length 1 says it mostly passes events through.

    Same TTL constant as `stream_dedup_debounce`
    (``STREAM_DEBOUNCE_TTL`` — one policy, two views) and the SAME
    LAG-expressible rule, so by construction
    Σ n_episodes = the debounce query's Σ n_admitted and
    Σ n_events matches its event total (pinned by the round-15 replay
    test). Batch form of a streaming policy — the audit runs on the
    retained window of a stream the stateful twin dedups live.

    Determinism contract: events order by ``(us, event_id ASC NULLS
    FIRST)`` in both engines (spelled out — DuckDB defaults NULLS LAST);
    the running admission sum uses an explicit ROWS frame, so episode
    ids are total-order stable. NULL user is a real key (the stateful
    twin's contract); NULL-ts rows are excluded by the shared events
    guard in both engines. ppm numerators route through
    DECIMAL(38,0)/HUGEINT (10¹³ events × 10⁶ overflows int64).

    Scale shape: ONE shuffle of the events (hash-partition by user_id
    for the flag/episode windows — per-key window state is bounded by
    the key's events); the episode collapse groups by (user_id, ep),
    which the SAME partitioning already clusters (no second exchange —
    pinned in test_plans); the histogram is a map-side-combined agg to
    |distinct lengths| rows, and the single-partition ppm window rides
    that aggregate (the repo's |groups|-row window convention).
    """
    from tfm_taxitrips_spark.operators.temporal import _duration_us

    ttl_us = _duration_us(STREAM_DEBOUNCE_TTL)
    events = table(spark, sf_dir, "events")
    base = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"))
    w = Window.partitionBy("user_id").orderBy(
        F.asc("us"), F.asc_nulls_first("event_id"))
    lag_us = F.lag("us").over(w)
    flagged = base.withColumn(
        "adm",
        F.when(lag_us.isNull() | (F.col("us") > lag_us + F.lit(ttl_us)),
               F.lit(1)).otherwise(F.lit(0)))
    eps = flagged.withColumn(
        "ep",
        F.sum("adm").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    episodes = eps.groupBy("user_id", "ep").agg(
        F.count(F.lit(1)).alias("ep_len"),
        (F.max("us") - F.min("us")).alias("span_us"))
    report = episodes.groupBy("ep_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
        F.sum("span_us").cast("bigint").alias("total_span_us"),
        F.max("span_us").cast("bigint").alias("max_span_us"))
    out = report.select(
        F.col("ep_len").cast("bigint").alias("episode_len"),
        "n_episodes",
        (F.col("ep_len") * F.col("n_episodes")).cast("bigint")
        .alias("n_events"),
        "total_span_us", "max_span_us",
    ).withColumn("all_events",
                 F.sum("n_events").over(Window.partitionBy()))
    return out.select(
        "episode_len", "n_episodes", "n_events", "total_span_us",
        "max_span_us",
        F.expr("CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000 div "
               "all_events AS BIGINT)").alias("events_ppm"),
    )


def _debounce_episode_audit_sql() -> str:
    from tfm_taxitrips_spark.operators.temporal import _duration_us

    ttl_us = _duration_us(STREAM_DEBOUNCE_TTL)
    return f"""
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us > LAG(us) OVER w + {ttl_us}
              THEN 1 ELSE 0 END AS adm
  FROM base
  WINDOW w AS (PARTITION BY user_id
               ORDER BY us, event_id ASC NULLS FIRST)
),
eps AS (
  SELECT user_id, us,
         SUM(adm) OVER (PARTITION BY user_id
                        ORDER BY us, event_id ASC NULLS FIRST
                        ROWS UNBOUNDED PRECEDING) AS ep
  FROM flagged
),
episodes AS (
  SELECT user_id, ep, COUNT(*) AS ep_len, MAX(us) - MIN(us) AS span_us
  FROM eps GROUP BY 1, 2
),
rep AS (
  SELECT ep_len, COUNT(*) AS n_episodes,
         SUM(span_us) AS total_span_us, MAX(span_us) AS max_span_us
  FROM episodes GROUP BY 1
)
SELECT CAST(ep_len AS BIGINT) AS episode_len,
       CAST(n_episodes AS BIGINT) AS n_episodes,
       CAST(ep_len * n_episodes AS BIGINT) AS n_events,
       CAST(total_span_us AS BIGINT) AS total_span_us,
       CAST(max_span_us AS BIGINT) AS max_span_us,
       CAST(CAST(ep_len * n_episodes AS HUGEINT) * 1000000
            // SUM(ep_len * n_episodes) OVER () AS BIGINT) AS events_ppm
FROM rep
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (streaming) — stream-static inner join
    (/root/reference/StreamingTaxiTrips.py:140-141): events stream enriched
    against the static customer dimension, rolled up by segment. Inner join
    semantics: unmatched user_ids drop out (the reference's Druid feed
    behavior)."""
    stream = read_events_stream(spark, sf_dir)
    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    # customer scales with SF — leave the broadcast decision to the static
    # side's size statistics (SCALE.md §Joins, "SF-scaling sides")
    joined = stream.join(customer, stream.user_id == customer.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    return run_to_memory(agg, spark)


_STREAM_JOIN_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


def q_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: gap-based sessionization over the stream
    via ``applyInPandasWithState`` (streaming/stateful.py). Over a finite
    ordered replay it must equal the batch window-function sessionizer —
    the oracle is that batch SQL."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_sessionize

    stream = read_events_stream(spark, sf_dir)
    sess = streaming_sessionize(stream, gap="30 minutes")
    return run_to_memory(sess, spark, output_mode="append")


def _stream_session_sql() -> str:
    from tfm_taxitrips_spark.queries.temporal import GAP_US

    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
x AS (
  SELECT *,
         CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > {GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, event_id, us,
       CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM x
"""


_STREAM_SESSION_SQL = _stream_session_sql()


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a same-user click
    within the following 30 minutes. Both sides carry a 1-hour watermark and
    the join condition carries the time range — that pair is what lets Spark
    bound the join state (clicks older than watermark+range are evicted)
    instead of buffering both streams forever. Output columns are epoch
    micros (engine-portable comparison)."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    return run_to_memory(out, spark, output_mode="append")


_STREAM_STREAM_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
FROM events c
JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


STREAM_TOPK_K = 20


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k serving view — the reference's Superset
    ``ORDER BY ... LIMIT`` over the Druid rollup
    (/root/reference/README.md:10-11), owned natively: update-mode windowed
    rollup → foreachBatch dynamic-partition upsert into a parquet serving
    table → TakeOrderedAndProject top-k read (streaming/serving.py). The
    throwaway serving dir is removed after the k rows are materialized so
    repeated runs (bench / differential / driver) don't accumulate in
    /tmp."""
    import shutil
    import tempfile

    from tfm_taxitrips_spark.session import ephemeral_scratch_dir
    from tfm_taxitrips_spark.streaming.serving import (
        run_topk_serving,
        topk_view,
    )

    stream = read_events_stream(spark, sf_dir)
    rolled = windowed_rollup(stream)

    # r19 (ADVICE r18): the SERVING TABLE goes to the real filesystem —
    # the durable upsert + parquet read-back is the contract this query
    # proves (a production deployment passes a durable location through
    # streaming.serving). Only the drain checkpoint (written, never
    # re-read, deleted in-call) stays on RAM scratch.
    base = tempfile.mkdtemp(prefix="tfm_serving_")
    chk = ephemeral_scratch_dir("tfm_chk_")
    try:
        run_topk_serving(rolled, f"{base}/table", chk)
        view = topk_view(spark, f"{base}/table", STREAM_TOPK_K)
        # materialize the k rows BEFORE removing the serving dir (the view
        # is lazy over its parquet files); k is small by construction, so
        # localizing it is the serving read, not a driver-side loop
        return spark.createDataFrame(view.collect(), view.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


_STREAM_TOPK_SQL = f"""
WITH rolled AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
         event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
  FROM events GROUP BY 1, 2
)
SELECT * FROM rolled
-- NULLS LAST is DuckDB's default; spelled out because the Spark side
-- must PIN it (Spark's ASC defaults nulls FIRST — serving.topk_view)
ORDER BY total_value DESC NULLS LAST, window_start ASC,
         event_type ASC NULLS LAST
LIMIT {STREAM_TOPK_K}
"""


def q_stream_window_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches inside streaming state: per-window approximate distinct
    users via HyperLogLog++ (``approx_count_distinct``) — the ONLY distinct
    form streaming aggregation supports, precisely because its state is a
    mergeable fixed-size register set instead of the unbounded value set an
    exact COUNT(DISTINCT) would have to buffer per window.

    Oracle strategy follows queries/sketches.py: the estimate is
    engine-specific, so the emitted column is the accuracy-contract
    boolean — the streamed estimate vs the BATCH exact distinct for the
    same window, joined after the availableNow drain; DuckDB re-derives
    the exact column and asserts the bound held.
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("_hll"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "_hll"
        )
    )
    streamed = run_to_memory(agg, spark)
    ev = table(spark, sf_dir, "events")
    exact = ev.groupBy(
        F.window("ts", "15 minutes").alias("w"), "event_type"
    ).agg(F.count_distinct("user_id").alias("n_users")).select(
        F.col("w.start").alias("window_start"), "event_type", "n_users"
    )
    # bound: 5% relative OR 2 absolute — per-window cardinalities are tiny
    # (a 15-min slice), where HLL's integer-rounded estimate can sit ±1-2
    # off even though the relative contract holds at aggregate scale
    # eqNullSafe on event_type: a NULL-typed window is a real group in
    # BOTH aggregations (batch and streamed) — the plain equi-join
    # silently dropped it where the oracle's GROUP BY kept it (r12
    # sweep). window_start is non-NULL by the events guard (NULL ts
    # excluded), so plain equality is exact there.
    streamed_r = (streamed.withColumnRenamed("event_type", "_et")
                  .withColumnRenamed("window_start", "_ws"))
    return exact.join(
        streamed_r,
        (F.col("window_start") == F.col("_ws"))
        & F.col("event_type").eqNullSafe(F.col("_et")),
    ).select(
        "window_start",
        "event_type",
        "n_users",
        (F.abs(F.col("_hll") - F.col("n_users"))
         <= F.greatest(0.05 * F.col("n_users"), F.lit(2.0))).alias("hll_within_bound"),
    )


_STREAM_HLL_SQL = """
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       event_type, COUNT(DISTINCT user_id) AS n_users,
       TRUE AS hll_within_bound
FROM events GROUP BY 1, 2
"""


def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 ``transformWithStateInPandas`` stateful operator: every event
    emitted with its as-of per-user running count + value total (the
    incremental feature-store shape). Over the finite ordered replay it
    must equal the batch cumulative-window SQL — that is the oracle."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_running_totals

    stream = read_events_stream(spark, sf_dir)
    totals = streaming_running_totals(stream)
    return run_to_memory(totals, spark, output_mode="append")


_STREAM_RUNNING_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS us,
       CAST(COUNT(*) OVER w AS BIGINT) AS run_n,
       -- COALESCE: NULL value = 0 cents by the stateful operator's
       -- stated contract (the row still counts; r12 sweep)
       CAST(SUM(COALESCE(CAST(round(value * 100) AS BIGINT), 0))
            OVER w AS BIGINT) / 100.0 AS run_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS UNBOUNDED PRECEDING)
"""


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered 3-stage funnel computed ON THE STREAM: per-user
    first-occurrence timestamps accumulate as streaming aggregate state
    (complete mode — per-user funnel state is the serving table a live
    funnel dashboard reads), then the drained state collapses to the same
    3-row stage table as the batch form, under the SAME oracle
    (queries.analytics._FUNNEL_SQL). Batch/stream funnel parity, checked
    end-to-end.

    State note: per-user minimums are compact (3 longs/user) but
    unbounded in users — the production eviction is a TTL on user
    inactivity via applyInPandasWithState (the sessionization pattern);
    the finite replay here drains before eviction matters."""
    stream = read_events_stream(spark, sf_dir)
    us = F.unix_micros("ts")
    per_user = stream.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_us"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("c_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    drained = run_to_memory(per_user, spark)
    s2 = F.col("v_us").isNotNull() & (F.col("c_us") > F.col("v_us"))
    s3 = s2 & (F.col("p_us") > F.col("c_us"))
    counts = drained.agg(
        F.count("v_us").alias("n1"),
        F.count(F.when(s2, F.lit(1))).alias("n2"),
        F.count(F.when(s3, F.lit(1))).alias("n3"),
    )
    return counts.selectExpr(
        "stack(3, 'view', n1, 'view_click', n2, 'view_click_purchase', n3) "
        "as (stage, n_users)"
    )


def _stream_funnel_sql() -> str:
    from tfm_taxitrips_spark.queries.analytics import _FUNNEL_SQL

    return _FUNNEL_SQL


def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality gate applied to a DOCUMENT STREAM — the
    streaming-ingest form of corpus gating (docs filtered as they land,
    not in a nightly batch). The signal computation is the SAME builder
    the batch query uses (queries.retrieval.quality_flags), so
    batch/stream parity holds by construction; this query then counts the
    per-rule outcome grid through a complete-mode drain so the oracle
    checks the whole gate truth table, not just the keep total."""
    from tfm_taxitrips_spark.queries.retrieval import quality_flags

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = stream_table(spark, sf_dir, "documents", raw_schema)
    flagged = quality_flags(stream)
    grid = flagged.groupBy(
        "words_ok", "word_len_ok", "stop_ok", "keep"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    return run_to_memory(grid, spark)


def _stream_gate_sql() -> str:
    from tfm_taxitrips_spark.queries.retrieval import _GOPHER_SQL

    return (
        f"SELECT words_ok, word_len_ok, stop_ok, keep,"
        f" COUNT(*) AS n_docs\nFROM ({_GOPHER_SQL})\nGROUP BY 1, 2, 3, 4"
    )


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: the batch resample's composite-keyed
    ``min_by``/``max_by`` running INSIDE a watermarked streaming
    aggregation — proving the open/close picks are micro-batch-order
    independent (state merges partial bars exactly like the batch
    partial/final split; the struct(ts, event_id) total order is what
    makes the merge associative). Complete-mode drain over the finite
    replay must equal the batch window SQL — that is the oracle.
    """
    stream = read_events_stream(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", key).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
        )
    )
    return run_to_memory(bars, spark)


_STREAM_OHLC_SQL = """
WITH r AS (
  SELECT event_type,
         date_trunc('hour', ts) AS ws,
         value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT ws AS window_start, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS n_events
FROM r
GROUP BY 1, 2
"""


def q_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transitions maintained ON THE STREAM via
    custom state (`streaming/stateful.streaming_transitions`): each event
    emits with its user's previous event type, with the previous-event
    state surviving micro-batch boundaries — the incremental feed for
    `markov_transitions`' matrix. Over the finite ordered replay it must
    equal the batch ``lag`` window — that is the oracle (first events
    carry a NULL src, same as lag's leading NULL)."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_transitions

    stream = read_events_stream(spark, sf_dir)
    trans = streaming_transitions(stream)
    return run_to_memory(trans, spark, output_mode="append")


_STREAM_TRANS_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS us,
       LAG(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS src_type,
       event_type AS dst_type
FROM events
"""


def q_stream_orphan_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming referential gate: events whose ``user_id`` has no row in
    the supplier registry (the batch `fk_integrity_audit`'s orphan check
    running ON THE STREAM) are routed out as quarantine rows instead of
    silently vanishing in a downstream inner join.

    Stream-static anti-join semantics via the streaming-supported
    left_outer + IS NULL filter (bare left_anti is not a supported
    stream-static join type). The supplier registry SCALES with the
    data, so it carries no hard broadcast hint (SCALE.md §Joins,
    "SF-scaling sides"): the static side's size statistics broadcast it
    while it fits — the gate then adds no shuffle to the stream — and
    degrade to a shuffled stream-static join past the threshold instead
    of an executor OOM. Oracle: the batch anti-join.
    """
    stream = read_events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("dim_key")
    )
    gated = (
        stream.join(
            dim,
            stream["user_id"] == dim["dim_key"],
            "left_outer",
        )
        .where(F.col("dim_key").isNull())
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(gated, spark, output_mode="append")


_STREAM_ORPHAN_SQL = """
SELECT event_id, user_id, event_type
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.user_id)
"""


QUERIES: dict[str, QuerySpec] = {
    "stream_funnel": QuerySpec(q_stream_funnel, _stream_funnel_sql(),
                               tags=("streaming", "funnel", "stateful")),
    "stream_transitions": QuerySpec(q_stream_transitions, _STREAM_TRANS_SQL,
                                    tags=("streaming", "stateful",
                                          "sequence")),
    "stream_orphan_gate": QuerySpec(q_stream_orphan_gate, _STREAM_ORPHAN_SQL,
                                    tags=("streaming", "quality", "join")),
    "stream_quality_gate": QuerySpec(q_stream_quality_gate, _stream_gate_sql(),
                                     tags=("streaming", "quality", "pipeline")),
    "stream_topk": QuerySpec(q_stream_topk, _STREAM_TOPK_SQL,
                             tags=("streaming", "topk", "serving")),
    "stream_running_totals": QuerySpec(q_stream_running_totals, _STREAM_RUNNING_SQL,
                                       tags=("streaming", "stateful")),
    "stream_window_hll": QuerySpec(q_stream_window_hll, _STREAM_HLL_SQL,
                                   tags=("streaming", "sketch", "A4", "A5")),
    "stream_window_rollup": QuerySpec(q_stream_window_rollup, _STREAM_ROLLUP_SQL,
                                      bench=True, tags=("A5", "S5", "streaming")),
    "stream_stream_join": QuerySpec(q_stream_stream_join, _STREAM_STREAM_SQL,
                                    tags=("streaming", "join")),
    "stream_sessionization": QuerySpec(q_stream_sessionization, _STREAM_SESSION_SQL,
                                       tags=("streaming", "stateful", "temporal")),
    "stream_dedup": QuerySpec(q_stream_dedup, _STREAM_DEDUP_SQL, tags=("streaming", "dedup")),
    "stream_dedup_ttl": QuerySpec(
        q_stream_dedup_ttl, _stream_dedup_ttl_sql(),
        tags=("streaming", "dedup", "stateful")),
    "stream_dedup_debounce": QuerySpec(
        q_stream_dedup_debounce, _stream_dedup_debounce_sql(),
        tags=("streaming", "dedup", "stateful")),
    "debounce_episode_audit": QuerySpec(
        q_debounce_episode_audit, _debounce_episode_audit_sql(),
        tags=("streaming", "dedup", "audit", "window")),
    "stream_static_join": QuerySpec(q_stream_static_join, _STREAM_JOIN_SQL,
                                    tags=("streaming", "J2")),
    "stream_ohlc_resample": QuerySpec(q_stream_ohlc, _STREAM_OHLC_SQL,
                                      tags=("streaming", "resample", "A5")),
}

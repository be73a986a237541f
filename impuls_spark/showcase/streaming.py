"""Streaming-operator showcase: the Structured Streaming operators run
on batch frames (identical plans), so the DuckDB oracle can verify the
logic on finite input.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import sessionize_stream, windowed_event_counts
from .relational import _events


def s01_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = windowed_event_counts(_events(spark, sf_dir), window="5 minutes")
    return out.withColumn("window_start", F.col("window_start").cast("string"))


S01_SQL = """
SELECT time_bucket(INTERVAL 5 MINUTES, ts)::varchar AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def s02_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sessionize_stream(_events(spark, sf_dir), gap="30 minutes")
    return (
        out.withColumn("session_start", F.col("session_start").cast("string"))
        .withColumn("session_end", F.col("session_end").cast("string"))
    )


# session_window(ts, gap): a session closes after 30 idle minutes; its
# end is last_event + gap (Spark semantics, reproduced via lag+cumsum)
S02_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT min(ts)::varchar AS session_start,
       (max(ts) + INTERVAL 30 MINUTES)::varchar AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM sessions GROUP BY user_id, session_id
"""


def s03_stateful_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key stateful operator (applyInPandasWithState on a
    stream). Its batch twin is a declarative window-cumsum +
    explode(sequence(...)) plan, so the threshold-crossing semantics
    ARE oracle-checkable in SQL."""
    from ..streaming import running_threshold_alerts

    return running_threshold_alerts(_events(spark, sf_dir), threshold=500.0)


# per key in (ts, event_id) order: the cumulative total's high-water
# mark crosses multiples of 500; each newly crossed multiple k emits
# one (user_id, k, total-at-crossing) row — identical to the streaming
# operator's monotone `sent` counter
S03_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM events
),
hw AS (
  SELECT user_id, ts, event_id, cum,
         max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS hwm
  FROM ordered
),
bounds AS (
  SELECT user_id,
         round(hwm, 6) AS total,
         greatest(
           CAST(floor(coalesce(lag(hwm) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id), 0.0)
                      / 500.0) AS BIGINT) + 1,
           1) AS lo,
         CAST(floor(hwm / 500.0) AS BIGINT) AS hi
  FROM hw
)
SELECT user_id,
       CAST(UNNEST(generate_series(lo, hi)) AS INT) AS alert_ix,
       total
FROM bounds
WHERE hi >= lo
"""




def s04_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked ingestion dedup (dropDuplicatesWithinWatermark on a
    stream) run on its batch twin: an at-least-once source re-delivers
    every third event verbatim; dedup keeps exactly one copy. Identical
    re-delivered rows make the keep-one deterministic in both engines.
    """
    from ..streaming.dedup import dedup_stream_within_watermark

    ev = _events(spark, sf_dir)
    redelivered = ev.filter(F.col("event_id") % 3 == 0)
    out = dedup_stream_within_watermark(
        ev.unionByName(redelivered), ts_col="ts", key_cols=["event_id"]
    )
    return out.select(
        "event_id", "user_id", F.col("ts").cast("string").alias("ts"),
        "event_type", F.round("value", 2).alias("value"),
    )


S04_SQL = """
WITH stream AS (
  SELECT * FROM events
  UNION ALL SELECT * FROM events WHERE event_id % 3 = 0
)
SELECT DISTINCT event_id, user_id, ts::varchar AS ts, event_type,
       round(value, 2) AS value
FROM stream
"""


def s05_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (broadcast dimension join inside a
    streaming plan) on its batch twin: events tagged with the customer
    segment, counted per 15-minute window x segment."""
    from ..streaming import enriched_window_stats

    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"),
                F.col("c_mktsegment").alias("segment"))
    )
    out = enriched_window_stats(
        _events(spark, sf_dir), dim, on="user_id", attrs=["segment"],
        window="15 minutes",
    )
    return out.withColumn("window_start", F.col("window_start").cast("string"))


S05_SQL = """
SELECT time_bucket(INTERVAL 15 MINUTES, e.ts)::varchar AS window_start,
       c.c_mktsegment AS segment,
       count(*) AS n,
       round(sum(e.value), 2) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def s06_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution) on its batch twin:
    each purchase matched to the same user's clicks in the preceding
    30 minutes, aggregated per purchase."""
    from ..streaming import interval_join

    ev = _events(spark, sf_dir)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_id"), "ts"))
    j = interval_join(purchases, clicks, on="user_id",
                      max_delay="30 minutes")
    return j.groupBy(F.col("event_id").alias("purchase_id")).agg(
        F.count("*").alias("n_clicks"),
        F.round(
            F.min(F.col("ts").cast("timestamp").cast("double")
                  - F.col("r_ts").cast("timestamp").cast("double")), 3
        ).alias("min_delay_sec"),
    )


S06_SQL = """
SELECT p.event_id AS purchase_id,
       count(*) AS n_clicks,
       round(min(epoch(p.ts) - epoch(c.ts)), 3) AS min_delay_sec
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts > p.ts - INTERVAL 30 MINUTES
WHERE p.event_type = 'purchase'
GROUP BY 1
"""


def s07_stream_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-(key, window) quota — the streaming twin of
    d53's per-source cap: the n smallest md5(salt:event_id) win, so
    stream replay, repartitioning, and the batch twin all keep the
    identical event set. Streaming side holds a bounded top-n hash
    heap per key, flushed when the watermark passes the window end."""
    from ..streaming import stream_quota

    return stream_quota(_events(spark, sf_dir), n=2, window="24 hours")


S07_SQL = """
WITH uniq AS (
  SELECT DISTINCT time_bucket(INTERVAL 1 DAY, ts) AS w, user_id, event_id
  FROM events
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       user_id, event_id
FROM uniq
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY w, user_id
  ORDER BY md5('quota:' || CAST(event_id AS VARCHAR)), event_id
) <= 2
"""

# sliding windows: each event lands in window/slide overlapping
# windows; the oracle unrolls the same membership with range()
_S08_W_US = 600_000_000   # 10-minute windows
_S08_S_US = 300_000_000   # sliding every 5 minutes


def s08_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = windowed_event_counts(
        _events(spark, sf_dir), window="10 minutes", slide="5 minutes"
    )
    return out.withColumn("window_start", F.col("window_start").cast("string"))


S08_SQL = f"""
WITH ev AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
x AS (
  SELECT event_type, value,
         unnest(range((t - {_S08_W_US}) // {_S08_S_US} * {_S08_S_US} + {_S08_S_US},
                      t // {_S08_S_US} * {_S08_S_US} + {_S08_S_US},
                      {_S08_S_US})) AS ws
  FROM ev
)
SELECT make_timestamp(ws)::varchar AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM x GROUP BY 1, 2
"""


def s09_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming KMV sidecar
    (``streaming.sketch_sink``): four micro-batch slices each sketch
    distinct users per event type independently, the partials merge on
    read, and — by the exact merge property — the estimate equals the
    whole-stream sketch the DuckDB oracle computes directly. The real
    incremental execution (file stream, __epoch partials, replay
    idempotency) is pinned in tests/test_stateful_streaming.py."""
    from ..llm.sketches import kmv_estimate, kmv_merge, kmv_sketch

    ev = _events(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    partials = [
        kmv_sketch(
            ev.filter(F.crc32(F.col("u")) % 4 == i),
            "u", ["event_type"], k=_S09_K, salt="skmv",
        )
        for i in range(4)
    ]
    merged = kmv_merge(partials, ["event_type"], k=_S09_K)
    return kmv_estimate(merged, ["event_type"], k=_S09_K)


_S09_K = 32

S09_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('skmv' || ':' ||
                             CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
)
SELECT event_type, count(*) AS n_kept, max(hv) AS kth_hash,
       CASE WHEN count(*) < {_S09_K} THEN count(*)
            ELSE floor({_S09_K - 1}.0 * {float(16**15):.1f}
                       / greatest(max(hv), 1)) END::BIGINT AS est_ndv
FROM rk WHERE rn <= {_S09_K} GROUP BY event_type
"""


def s10_ann_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingest (``ann_ingest.ingest_vectors``) on its
    batch twin: day-0 index holds vec_id < 30; an at-least-once source
    delivers [30, 60) plus a verbatim re-delivery of [30, 40); the
    epoch's routing (in-batch dedup → index anti-join → IVF assign via
    the SAME ``dedup_against_index`` the sink runs) lands each new
    vector exactly once with its nearest-anchor cell."""
    from ..llm.similarity import ivf_assign
    from ..streaming.ann_ingest import dedup_against_index
    from .llm import _emb

    emb = _emb(spark, sf_dir)
    day0_ids = emb.filter(F.col("vec_id") < 30).select("vec_id")
    stream = emb.filter(
        (F.col("vec_id") >= 30) & (F.col("vec_id") < 60)
    ).unionByName(
        emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40))
    )
    anchors = emb.filter(F.col("vec_id") < 4)
    # batch ids compile into a parquet In predicate, as in the sink, so
    # the id-clustered index scan skips untouched row groups
    uniq = dedup_against_index(stream, day0_ids, "vec_id")
    return ivf_assign(uniq, anchors)


S10_SQL = """
WITH stream AS (
  SELECT * FROM embeddings WHERE vec_id >= 30 AND vec_id < 60
  UNION ALL
  SELECT * FROM embeddings WHERE vec_id >= 30 AND vec_id < 40
),
uniq AS (
  SELECT DISTINCT vec_id FROM stream
  WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id < 30)
),
anchors AS (
  SELECT vec_id AS anchor_id, embedding FROM embeddings WHERE vec_id < 4
),
assign AS (
  SELECT vec_id, anchor_id, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, anchor_id) AS rn
  FROM (
    SELECT v.vec_id, a.anchor_id,
           round(
             list_sum(list_transform(range(1, 65), i -> a.embedding[i]::double * v.embedding[i]::double))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::double * a.embedding[i]::double)))
                * sqrt(list_sum(list_transform(range(1, 65), i -> v.embedding[i]::double * v.embedding[i]::double)))),
           6) AS sim
    FROM embeddings v JOIN uniq USING (vec_id) CROSS JOIN anchors a
  )
)
SELECT vec_id, anchor_id FROM assign WHERE rn = 1
"""


STREAMING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s01_windowed_counts": s01_windowed_counts,
    "s02_session_windows": s02_session_windows,
    "s03_stateful_alerts": s03_stateful_alerts,
    "s04_ingest_dedup": s04_ingest_dedup,
    "s05_stream_enrich": s05_stream_enrich,
    "s06_interval_join": s06_interval_join,
    "s07_stream_quota": s07_stream_quota,
    "s08_sliding_counts": s08_sliding_counts,
    "s09_stream_kmv": s09_stream_kmv,
    "s10_ann_stream_ingest": s10_ann_stream_ingest,
}

STREAMING_ORACLES: dict[str, str] = {
    "s01_windowed_counts": S01_SQL,
    "s02_session_windows": S02_SQL,
    "s03_stateful_alerts": S03_SQL,
    "s04_ingest_dedup": S04_SQL,
    "s05_stream_enrich": S05_SQL,
    "s06_interval_join": S06_SQL,
    "s07_stream_quota": S07_SQL,
    "s08_sliding_counts": S08_SQL,
    "s09_stream_kmv": S09_SQL,
    "s10_ann_stream_ingest": S10_SQL,
}

"""Stream-stream joins — the St-family capability the batch engine
expresses as as-of / range joins (operators/asof.py), here as a REAL
two-stream interval join with watermark-bounded state.

Reference shape: order→touchpoint attribution (the braze/order
attribution model joins orders to the most recent preceding
marketing touch). The batch engine replays the whole history
nightly; Structured Streaming holds only the attribution window in
state: each side is watermarked, the join condition bounds event
time on both sides, and Spark evicts state older than
watermark + window automatically — O(window) state per key at any
corpus size, the property that makes this viable continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .incremental import drain, read_events_stream


def view_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Inner stream-stream interval join: every purchase pairs with
    the same user's page views in the preceding `window`.

    Both sides carry a watermark and the join condition bounds
    view_ts to [purchase_ts - window, purchase_ts], so the state
    store retains each side only for watermark + window — bounded
    state, late data beyond the watermark dropped deterministically.

    Emits one row per (purchase, qualifying view); downstream
    pick-latest (e.g. foreachBatch + dedupe_latest) turns it into
    last-touch attribution. The join shuffles both streams once on
    user_id — the same exchange any per-user operator needs."""
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return p.join(
        v,
        F.expr(
            f"""
            p_user_id = user_id AND
            view_ts <= purchase_ts AND
            view_ts >= purchase_ts - INTERVAL {window}
            """
        ),
        "inner",
    ).select(
        "purchase_event_id",
        F.col("p_user_id").alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "view_event_id",
        "view_ts",
    )


def run_view_purchase_attribution(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain the landing dir through the stream-stream join: one
    events stream read ONCE, split into the two logical streams by
    event_type (a view and a purchase side of the same wire), joined
    and appended to parquet through :func:`drain` (the reference's
    incremental run); replays are exactly-once via the checkpoint."""
    stream = read_events_stream(spark, landing_dir)
    views = stream.filter(F.col("event_type") == "view")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = view_purchase_attribution(views, purchases, window=window)
    writer = joined.writeStream.format("parquet").option("path", target_path)
    return drain(writer.outputMode("append"), checkpoint_dir, timeout_sec)

"""Mini-warehouse: the reference's layer topology rebuilt over the
driver's star schema (SURVEY.md §0 topology diagram, §7 P3).

Layers (≅ reference directories):
  ods      — conformed staging w/ dedup (0_/1_/2_ods_*)
  master   — wide core entities (3_master)
  master_historical — daily snapshots keyed by `date` (5_master_historical)
  dwh      — domain marts (4_dwh_*)
  mon      — monitoring tables (8_monitoring)

Write modes per layer match the reference: ods/master/dwh are full
refreshes (W1), events are incremental upserts (W2), historical is
a daily snapshot partition overwrite (W4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import dedupe_latest, sessionize
from ..quality.checks import duplicate_keys, missing_dates, volume_anomaly
from ..session import env_positive_int
from .model import Model, RunContext, TaskGroup
from .pipeline import Pipeline


def _dec(c, p: int = 12):
    return F.col(c).cast(f"decimal({p},2)")


# --- ods ------------------------------------------------------------------

def ods_events(ctx: RunContext) -> DataFrame:
    """Raw events, deduped by event_id keeping latest ts (the
    reference's ROW_NUMBER()=1 message_id idiom, 01_track_events.sql:
    28,144), typed props via get_json_object.

    Carries the raw ``props`` payload through alongside the typed
    ``prop_k``: the conformed staging table is the SINGLE event scan
    every downstream mart reads (the re-layering rule), so it must be
    a superset of what they need — at 100 TB the nightly build pays
    the raw-corpus scan + dedup shuffle once here instead of once per
    mart, and parquet column pruning keeps narrow readers narrow.

    Two keep-rules share the table (r6 advice: the track_events
    registry form filters invalid-JSON / non-numeric-user rows
    BEFORE its dedup, so "latest row" and "latest VALID row" of a
    duplicate group can differ — collapsing to one row here would
    silently drop an event the registry form keeps):

    * ``is_latest``        — the latest row per event_id (what every
      consumer except track_events wants);
    * ``is_latest_valid``  — the latest row per event_id that passes
      the track-events validity predicate (IS_VALID_JSON(props) AND
      user_id ~ '^[0-9]+$', 01_track_events.sql:21-26).

    A row can carry both flags (the common case); only mixed-validity
    duplicate groups materialize two rows. Both rules ride ONE hash
    exchange on event_id (two window sorts, same partitioning), so
    the 100 TB cost is unchanged. Readers go through ``_ev()``."""
    return _conform_events(ctx.source("events"))


def _conform_events(ev: DataFrame) -> DataFrame:
    """The ods.events conformance body over an arbitrary raw-event
    slice — shared by the nightly full build (whole corpus) and the
    trailing-window incremental run (window slice only; the dedup
    flags are then window-local, exactly the reference's
    dedup-within-the-staged-batch semantics,
    05_all_events_incremental.sql:52)."""
    valid = RF.is_valid_json("props") & F.col("user_id").cast(
        "string"
    ).rlike("^[0-9]+$")
    w_all = Window.partitionBy("event_id").orderBy(F.col("ts").desc())
    w_valid = Window.partitionBy("event_id").orderBy(
        F.col("__valid").desc(), F.col("ts").desc()
    )
    return (
        ev.withColumn("__valid", valid)
        .withColumn("is_latest", F.row_number().over(w_all) == 1)
        .withColumn(
            "is_latest_valid",
            F.col("__valid") & (F.row_number().over(w_valid) == 1),
        )
        .filter(F.col("is_latest") | F.col("is_latest_valid"))
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
            F.to_date("ts").alias("event_date"),
            "is_latest",
            "is_latest_valid",
        )
    )


def _ev(ctx: RunContext, valid: bool = False) -> DataFrame:
    """The conformed event scan every mart reads. ``valid=False`` →
    latest row per event_id (the plain staging dedup); ``valid=True``
    → latest row that passes the track-events validity predicate
    (filter-before-dedup semantics, see ods_events)."""
    flag = "is_latest_valid" if valid else "is_latest"
    return (
        ctx.read("ods.events")
        .filter(F.col(flag))
        .drop("is_latest", "is_latest_valid")
    )


def run_incremental_event_chain(ctx: RunContext, since) -> dict:
    """Trailing-window incremental refresh of the event chain —
    ods.events → ods.track_events → dwh.sessions_mart — the
    reference's nightly incremental shape
    (05_all_events_incremental.sql:52 dedup-within-batch,
    :160-170 DELETE FROM tgt USING tmp ON key; INSERT tmp), expressed
    through the existing W2 writer instead of a full rebuild.

    100 TB shape per stage:
    * ods.events — the RAW scan carries ``to_date(ts) >= since``
      (predicate reaches the parquet reader; plan-asserted in
      tests/test_plans.py), the window slice alone rides the dedup
      exchange, and the W2 dynamic partition overwrite rewrites ONLY
      trailing event_date partitions — a night's data, not the
      corpus.
    * ods.track_events — reads the MATERIALIZED trailing window
      (event_date is the partition column, so the filter is a
      partition PRUNE, zero data read outside the window), W2 on
      collector_date partitions.
    * dwh.sessions_mart — gap sessions can span the window boundary,
      so per-event increments are wrong by construction; instead the
      users ACTIVE in the window are recomputed from their FULL
      history (semi-join on the 8-byte user key; AQE broadcasts the
      touched-user set) and replaced via keyed delete-insert. Work
      ∝ active users' history, not the corpus.

    Key-spanning honesty (same contract as the reference's DELETE
    USING): a duplicate event_id arriving across nights keeps the
    NEW night's winner — the delete removes every target row of the
    key. Returns per-stage row counts for observability."""
    from .. import queries as Q
    from ..sources import writers

    from ..queries import load as _load

    since_lit = F.lit(since.isoformat()).cast("date")
    # 1) ods.events: conform the trailing window only. The raw-scan
    # predicate is applied to the RAW ts column inside load() (not
    # to_date(ts) — a function over the column would block parquet
    # predicate pushdown): the window starts at the date's midnight,
    # so the two forms are equal.
    ev_win = _load(ctx.spark, ctx.source_dir, "events", ts_since=since)
    inc = _conform_events(ev_win)
    writers.upsert(
        ctx.spark, inc, ctx.catalog.path("ods.events"),
        ["event_id"], ["event_date"],
    )
    # 2) ods.track_events from the materialized trailing partitions
    te = Q.wh_track_events_core(
        _ev(ctx, valid=True).filter(F.col("event_date") >= since_lit),
        pre_deduped=True,
    )
    writers.upsert(
        ctx.spark, te, ctx.catalog.path("ods.track_events"),
        ["event_id"], ["collector_date"],
    )
    # 3) sessions of touched users, recomputed from full history
    touched = (
        _ev(ctx)
        .filter(F.col("event_date") >= since_lit)
        .select("user_id")
        .distinct()
    )
    base = _ev(ctx).join(touched, "user_id", "left_semi")
    sess = Q.wh_sessions_mart_core(base)
    writers.upsert(
        ctx.spark, sess, ctx.catalog.path("dwh.sessions_mart"),
        ["user_id"],
    )
    return {
        "ods.events": ctx.read("ods.events").count(),
        "ods.track_events": ctx.read("ods.track_events").count(),
        "dwh.sessions_mart": ctx.read("dwh.sessions_mart").count(),
    }


def ods_orders(ctx: RunContext) -> DataFrame:
    """Conformed orders: status decode + priority rank (the ods
    conformance shape, 1_ods_core/01_order.sql). Passes every raw
    column through (same superset rule as ods_events — downstream
    marts read THIS table, not the landing zone)."""
    o = ctx.source("orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderstatus",
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("pending")
        .alias("order_status"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1))
        .cast("int")
        .alias("priority_rank"),
        "o_totalprice",
    )


# --- master ---------------------------------------------------------------

def master_customer(ctx: RunContext) -> DataFrame:
    """Wide customer entity (reference 3_master/customer.sql shape):
    fact rollups pre-aggregated to customer grain, then a broadcast
    dimension join."""
    c = ctx.source("customer")
    n = ctx.source("nation")
    r = ctx.source("region")
    o = ctx.read("ods.orders")

    order_stats = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
        F.min("o_orderdate").alias("first_order_at"),
        F.max("o_orderdate").alias("last_order_at"),
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .join(order_stats, order_stats.o_custkey == c.c_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            "first_order_at",
            "last_order_at",
            F.when(F.col("n_orders").isNull(), "prospect")
            .when(F.col("n_orders") >= 20, "vip")
            .when(F.col("n_orders") >= 5, "active")
            .otherwise("occasional")
            .alias("customer_tier"),
        )
    )


# --- dwh ------------------------------------------------------------------

def dwh_daily_kpi(ctx: RunContext) -> DataFrame:
    """Daily KPI mart (reference 4_dwh_core/daily_kpi_report shape):
    per-day order & event counts full-outer-joined on the date."""
    o = ctx.read("ods.orders")
    ev = _ev(ctx)
    daily_orders = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("order_value"),
    )
    daily_events = ev.groupBy(F.col("event_date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_active_users"),
    )
    return (
        daily_orders.join(daily_events, "d", "full")
        .select(
            F.col("d").alias("date"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("order_value", F.lit(0.0)).alias("order_value"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_active_users", F.lit(0)).alias("n_active_users"),
        )
    )


def dwh_sessions(ctx: RunContext) -> DataFrame:
    """Gap-based sessions over deduped events (31_segment_… shape)."""
    ev = _ev(ctx)
    s = sessionize(ev, user_col="user_id", ts_col="ts", gap_minutes=30)
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("session_value"),
    )


def dwh_rfm_segments(ctx: RunContext) -> DataFrame:
    """RFM quartile scores over the master customer entity
    (2_ods_marketing/00_customer_rfm_segmentation.sql shape) —
    reads the MATERIALIZED master table (§4 materialize-if-reused:
    master.customer also feeds the historical snapshot and the
    duplicate monitor, so it is built once and read from parquet),
    then scores with the two-phase distributed global-rank operator,
    so the nightly rebuild carries no single-reducer sort."""
    from ..operators.globalrank import attach_percent_rank

    m = ctx.read("master.customer").select(
        "c_custkey", "c_mktsegment", "n_orders", "total_spend"
    )
    m = attach_percent_rank(m, "n_orders", "frequency_rank")
    m = attach_percent_rank(m, "total_spend", "monetary_rank")

    def quartile(col: str):
        r = F.col(col)
        return (
            F.when(r <= 0.25, 1)
            .when(r <= 0.5, 2)
            .when(r <= 0.75, 3)
            .otherwise(4)
        )

    return m.select(
        "c_custkey",
        "c_mktsegment",
        quartile("frequency_rank").alias("f_score"),
        quartile("monetary_rank").alias("m_score"),
        (quartile("frequency_rank") * 10 + quartile("monetary_rank")).alias(
            "fm"
        ),
    )


# --- monitoring -----------------------------------------------------------

def mon_duplicates(ctx: RunContext) -> DataFrame:
    """master_duplicates.sql:4-18 shape: business keys appearing >1×."""
    return duplicate_keys(ctx.read("master.customer"), ["c_custkey"])


def mon_missing_dates(ctx: RunContext) -> DataFrame:
    """missing_dates.sql:3-8 shape: calendar days with no orders."""
    o = ctx.read("ods.orders")
    return missing_dates(o, F.to_date("o_orderdate"))


def mon_event_volume(ctx: RunContext) -> DataFrame:
    """snowplow_monitoring.sql shape: per-event-type daily volume
    z-scores against the trailing window, flagging drifted days."""
    ev = _ev(ctx)
    return volume_anomaly(ev, F.col("event_date"), ["event_type"])


# --- registry promotion (layered builds) ----------------------------------
#
# Each promoted model shares its UNORDERED CORE with the registry
# query it was promoted from (queries.<name>_core): the registry form
# scans the raw landing zone and adds the oracle's ORDER BY; the
# nightly build feeds the SAME core the materialized layer below
# (ctx.read) and skips the sort (a stored table needs no total
# order). That is the reference's layer topology — marts read
# ods/master tables, never the landing zone (pipeline_config.json:
# ods → master → dwh) — and at 100 TB it converts ~20 redundant
# raw-corpus scans+dedups per night into one, paid in ods.events.
# Layered-build ≡ registry-query equality is test-pinned per model
# (tests/test_plans.py::test_promoted_models_hash_equal_their_
# registry_queries) — sorted-row comparison, the driver's hash gate.

from .. import functions as RF  # noqa: E402
from .. import queries as Q  # noqa: E402


def ods_allocation(ctx: RunContext) -> DataFrame:
    """1_ods_core/00_allocation.sql double-QUALIFY conformance — an
    ods-layer model, so the raw landing-zone scan is its job."""
    return Q.ops_allocation_core(ctx.source("events"))


def ods_track_events(ctx: RunContext) -> DataFrame:
    """30_segment_events/01_track_events.sql staging from the
    conformed event scan (props carried through ods.events)."""
    return Q.wh_track_events_core(_ev(ctx, valid=True), pre_deduped=True)


def dwh_page_views(ctx: RunContext) -> DataFrame:
    """06_page_views.sql over ods.events — the staging dedup already
    happened in the ods build (same keep-latest-ts rule), so the
    mart skips it entirely instead of re-shuffling the corpus."""
    return Q.wh_page_views_core(_ev(ctx))


def dwh_sessions_mart(ctx: RunContext) -> DataFrame:
    return Q.wh_sessions_mart_core(_ev(ctx))


def dwh_sessions_union(ctx: RunContext) -> DataFrame:
    return Q.sessions_union_stitch_core(_ev(ctx))


def master_subscription_model(ctx: RunContext) -> DataFrame:
    return Q.master_subscription_core(
        ctx.read("ods.orders"),
        ctx.source("customer"),
        ctx.source("nation"),
        ctx.source("region"),
        ctx.source("lineitem"),
    )


def customer_snapshot(ctx: RunContext) -> DataFrame:
    """Daily snapshot = a copy of the master entity built this run
    (5_master_historical reads 3_master, never the sources)."""
    return ctx.read("master.customer")


def subscription_snapshot(ctx: RunContext) -> DataFrame:
    return ctx.read("master.subscription")


def customer_scd2(ctx: RunContext) -> DataFrame:
    """Full-rebuild SCD2 compaction via the one-pass relational form
    (see queries.scd2_history_relational); the incremental nightly
    path uses operators/scd2.scd2_merge against stored history."""
    return Q.scd2_history_relational(_ev(ctx))


def dwh_shipment_funnel(ctx: RunContext) -> DataFrame:
    return Q.ops_shipment_funnel_core(
        _ev(ctx), ctx.source("customer")
    )


def dwh_collection_curves(ctx: RunContext) -> DataFrame:
    return Q.fin_collection_curves_core(
        ctx.read("ods.orders"), ctx.source("lineitem"), pk_unique=True
    )


def dwh_payment_retries(ctx: RunContext) -> DataFrame:
    return Q.pay_retry_payments_core(
        _ev(ctx), ctx.read("ods.orders"), ctx.source("customer")
    )


def dwh_luxco_report(ctx: RunContext) -> DataFrame:
    return Q.luxco_multigrain_union_core(
        ctx.read("ods.orders"),
        ctx.source("customer"),
        ctx.source("nation"),
        ctx.source("region"),
    )


def dwh_spv_price_outliers(ctx: RunContext) -> DataFrame:
    return Q.spv_price_outliers_core(
        ctx.source("lineitem"), ctx.source("part")
    )


def dwh_gc_account_balance(ctx: RunContext) -> DataFrame:
    return Q.gc_account_balance_core(_ev(ctx))


def dwh_gc_wallet_expansion(ctx: RunContext) -> DataFrame:
    return Q.gc_wallet_expansion_core(ctx.read("ods.orders"))


def dwh_affiliate_payout(ctx: RunContext) -> DataFrame:
    return Q.mkt_affiliate_payout_core(
        ctx.read("ods.orders"), ctx.source("lineitem"), ctx.source("part"),
        pk_unique=True,
    )


def dwh_order_attribution(ctx: RunContext) -> DataFrame:
    return Q.braze_order_attribution_core(
        ctx.read("ods.orders"), _ev(ctx)
    )


def dwh_rfm_segmentation(ctx: RunContext) -> DataFrame:
    """2_ods_marketing RFM mart reading the MATERIALIZED
    master.customer entity: frequency = LEAST(n_orders, 10),
    monetary = total_spend (both already exact-decimal rollups of
    the same orders), recency vs the pinned logical run date —
    max(to_date(x)) ≡ to_date(max(x)), so the master's last_order_at
    carries the identical value. The registry twin re-derives the
    same frame from raw customer × orders; equality is test-pinned."""
    m = ctx.read("master.customer").filter(F.col("n_orders") > 0)
    prep = m.select(
        "c_custkey",
        F.least(F.col("n_orders"), F.lit(10)).alias("frequency"),
        RF.greatest(F.col("total_spend"), F.lit(0)).alias("monetary"),
        RF.greatest(
            F.coalesce(
                F.datediff(ctx.run_date_lit(), F.to_date("last_order_at")),
                F.lit(99999),
            ),
            F.lit(0),
        ).alias("recency_days"),
    )
    return Q.dm_rfm_segmentation_core(prep)


def reporting_top_products(ctx: RunContext) -> DataFrame:
    return Q.top_products_core(ctx.source("lineitem"), ctx.source("part"))


def reporting_sust_seasonality(ctx: RunContext) -> DataFrame:
    return Q.sust_seasonality_core(ctx.read("ods.orders"))


def mon_table_stats(ctx: RunContext) -> DataFrame:
    """ANALYZE-style profile of the SOURCE feed (monitors watch the
    landing zone too — 8_monitoring reads raw and built layers)."""
    from ..quality import table_stats

    return table_stats(ctx.source("orders"), columns=Q._STATS_COLS)


def _promoted_groups() -> "list[TaskGroup]":
    """The composite registry queries as config-ordered task groups —
    each group ≅ one pipeline_config.json entry (a Datawarehouse-ETL
    directory), names kept close to the reference's:

      1_ods_core        → ods (allocation conformance)
      30_segment_events → segment_events (track-events staging, W2)
      31_segment_page_view_and_sessions → segment_sessions
      3_master          → master (wide entities, W1)
      5_master_historical → master_historical (daily snapshots, W4
                          + the SCD2 compaction of the snapshots)
      4_dwh_core / finance / luxco-SPV / grover_card / marketing
                        → the domain marts (W1)
      5_dwh_widgets / reporting → reporting marts (W1)
      8_monitoring      → mon (runs LAST, reads what was built)
    """
    return [
        TaskGroup(
            "ods",
            [
                Model("ods.events", ods_events, write="upsert",
                      keys=["event_id"], partition_by=["event_date"]),
                Model("ods.orders", ods_orders),
                # 1_ods_core/00_allocation.sql: double-QUALIFY
                # allocation conformance (ods layer — reads raw)
                Model("ods.allocation", ods_allocation),
            ],
            after=[],
        ),
        TaskGroup(
            "segment_events",
            [
                # 30_segment_events/01_track_events.sql: JSON guard →
                # parse → dedup; DELETE+INSERT upsert in the reference
                # (05_all_events_incremental.sql:160-170) → W2 keyed
                # by event_id, partitioned by the collector date
                Model(
                    "ods.track_events", ods_track_events,
                    write="upsert", keys=["event_id"],
                    partition_by=["collector_date"],
                ),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "segment_sessions",
            [
                # 31_segment_page_view_and_sessions (06_page_views,
                # 08_sessions, 13_sessions_union) — all read the one
                # conformed event scan, mutually independent here
                Model("dwh.page_views", dwh_page_views),
                Model("dwh.sessions_mart", dwh_sessions_mart),
                Model("dwh.sessions_union", dwh_sessions_union),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "master",
            [
                Model("master.customer", master_customer),
                # 3_master/subscription.sql
                Model("master.subscription", master_subscription_model),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "master_historical",
            [
                # 5_master_historical reads 3_master — a snapshot IS
                # the master entity stamped with the run date, so the
                # build is one materialized-table read, not a rerun
                # of the master join chain
                Model(
                    "master_historical.customer_historical",
                    customer_snapshot,
                    write="snapshot",
                    date_col="date",
                ),
                Model(
                    "master_historical.subscription_historical",
                    subscription_snapshot,
                    write="snapshot", date_col="date",
                ),
                # SCD2 compaction of the daily snapshots
                Model("master_historical.customer_scd2", customer_scd2),
            ],
            after=["master"],
        ),
        TaskGroup(
            "dwh_core",
            [
                Model("dwh.daily_kpi", dwh_daily_kpi),
                Model("dwh.sessions", dwh_sessions),
                Model("dwh.shipment_funnel", dwh_shipment_funnel),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "dwh_finance",
            [
                # finance / luxco / SPV marts
                Model("dwh.collection_curves", dwh_collection_curves),
                Model("dwh.payment_retries", dwh_payment_retries),
                Model("dwh.luxco_report", dwh_luxco_report),
                Model("dwh.spv_price_outliers", dwh_spv_price_outliers),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "dwh_grover_card",
            [
                Model("dwh.gc_account_balance", dwh_gc_account_balance),
                Model("dwh.gc_wallet_expansion", dwh_gc_wallet_expansion),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "dwh_marketing",
            [
                Model("dwh.affiliate_payout", dwh_affiliate_payout),
                Model("dwh.order_attribution", dwh_order_attribution),
                # 2_ods_marketing/00_customer_rfm_segmentation.sql —
                # reads master.customer
                Model("dwh.rfm_segmentation", dwh_rfm_segmentation),
                Model("dwh.rfm_segments", dwh_rfm_segments),
            ],
            after=["ods", "master"],
        ),
        TaskGroup(
            "reporting",
            [
                # 5_dwh_widgets/toptenproducts
                Model("reporting.top_products", reporting_top_products),
                Model(
                    "reporting.sustainability_seasonality",
                    reporting_sust_seasonality,
                ),
            ],
            after=["ods"],
        ),
        TaskGroup(
            "mon",
            [
                Model("mon.customer_duplicates", mon_duplicates),
                Model("mon.order_missing_dates", mon_missing_dates),
                Model("mon.event_volume", mon_event_volume),
                # ANALYZE-style source profile (quality/table_stats)
                Model("mon.table_stats", mon_table_stats),
            ],
            # monitors read ods + master tables built this run
            after=["ods", "master"],
        ),
    ]


def build_warehouse_pipeline(**kwargs) -> Pipeline:
    """The config-ordered group DAG (≅ pipeline_config.json): 11
    layer groups / 31 models. Groups declare their upstream groups
    (TaskGroup.after) exactly as the reference's pipeline config
    declares directory dependencies, so the runner schedules
    independent subtrees concurrently the way Airflow does —
    3 topological levels: ods → {segment, master, finance, gc,
    reporting marts} → {historical, marketing, monitors}."""
    # 6 concurrent models — REVERTED from r12's 10 (VERDICT r12 #1).
    # The r12 builder's paired A/B preferred 10 (par=6 10.9-11.8 s vs
    # par=10 9.6-10.3 warm, same ordering at local[8]), but the
    # measurement of record regressed hard with the wider pool
    # (driver: 12.0 s r11@pool6 → 20.2 s r12@pool10 at 32 cores,
    # 19.6 s at 8 cores), and the r13 re-measure found local grids
    # cannot discriminate pool sizes at all: the host throttles under
    # SUSTAINED parallel demand, so back-to-back rebuild runs drift
    # +40% regardless of pool (6: 15.3/15.3, 10: 13.5/18.6,
    # 8: 11.1/17.8 — within-pool spread exceeds the between-pool
    # effect). A wider pool raises sustained demand, which is exactly
    # what a throttling host punishes — the one mechanism consistent
    # with quiet-box A/Bs preferring 10 while the driver box reads
    # 20 s. Pool 6 is the last driver-proven value; the env knob
    # stays for cluster tuning (Airflow-parallelism analogue).
    kwargs.setdefault(
        "max_parallel", env_positive_int("SPARK_GRAFT_DAG_POOL", 6)
    )
    return Pipeline(name="fullload", groups=_promoted_groups(), **kwargs)

"""KPI view layer — lazy-DataFrame re-expression of ``etl_script/04_views.sql``.

The reference's ``mv_*`` are plain views (recomputed per query); our
functions return lazy DataFrames with exactly that semantics — callers
may ``.cache()`` for true materialization. ``build_views`` builds the
three views once per warehouse snapshot: called again with the same
fact and dimension DataFrames, it returns the views it already built,
so their plans are analysed once, and Spark can reuse query stages a
view has already materialized.

The correctness-critical core (SURVEY.md §2.D D6, §7.3.5): both facts
are *partially aggregated to (date_id, campaign_id) grain first*, then
FULL OUTER joined and COALESCEd. The pre-aggregation is semantically
required (grain alignment before the join — Catalyst would never
introduce it) and is also the 100 TB play: the join inputs shrink from
fact-size to |days × campaigns| before any wide exchange.

Documented deviation: the reference's ``ctr`` in mv_channel_daily
(``04_views.sql:56-58``) hits PG bigint integer division and always
yields 0; we use true division (SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.functions.kpis import safe_div


def _merged(fact_sales: DataFrame, fact_spend: DataFrame) -> DataFrame:
    """fs_agg FULL OUTER sp_agg on (date_id, campaign_id), COALESCEd.

    (``04_views.sql:17-47`` — identical in all three views.)
    """
    fs_agg = fact_sales.groupBy("date_id", "campaign_id").agg(
        F.sum("revenue").alias("revenue"),
        F.sum("cost").alias("cost"),
        # sale_id is unique by construction, so COUNT(DISTINCT sale_id)
        # == COUNT(*); plain count avoids a distinct-agg expand at scale.
        F.count(F.lit(1)).alias("orders"),
    )
    sp_agg = fact_spend.groupBy("date_id", "campaign_id").agg(
        F.sum("spend").alias("spend"),
        F.sum("clicks").alias("clicks"),
        F.sum("impressions").alias("impressions"),
    )
    joined = fs_agg.alias("fs").join(
        sp_agg.alias("sp"),
        # Explicit null-rejecting predicate, matching the SQL ON clause:
        # NULL date_ids (spend on no-sale dates) never match.
        (F.col("fs.date_id") == F.col("sp.date_id"))
        & (F.col("fs.campaign_id") == F.col("sp.campaign_id")),
        "full_outer",
    )
    zero = F.lit(0)
    return joined.select(
        F.coalesce("fs.date_id", "sp.date_id").alias("date_id"),
        F.coalesce("fs.campaign_id", "sp.campaign_id").alias("campaign_id"),
        F.coalesce("fs.revenue", zero).alias("revenue"),
        F.coalesce("fs.cost", zero).alias("cost"),
        F.coalesce("fs.orders", zero).alias("orders"),
        F.coalesce("sp.spend", zero).alias("spend"),
        F.coalesce("sp.clicks", zero).alias("clicks"),
        F.coalesce("sp.impressions", zero).alias("impressions"),
    )


def channel_daily(
    fact_sales: DataFrame,
    fact_spend: DataFrame,
    dim_campaigns: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    """``mv_channel_daily`` (``04_views.sql:16-64``): daily grain per channel.

    dim_campaigns joins LEFT but dim_date joins INNER — spend rows on
    dates absent from dim_date (no sales that day) are silently dropped.
    Load-bearing reference quirk; replicated exactly.
    """
    m = _merged(fact_sales, fact_spend)
    return (
        m.join(F.broadcast(dim_campaigns.select("campaign_id", "channel")),
               "campaign_id", "left")
        .join(F.broadcast(dim_date.select("date_id", "date")), "date_id", "inner")
        .groupBy("date", "channel")
        .agg(
            F.sum("revenue").alias("revenue"),
            F.sum("cost").alias("cost"),
            F.round(F.sum("spend"), 2).alias("spend"),
            F.sum("clicks").alias("clicks"),
            F.sum("impressions").alias("impressions"),
            # true division (PG integer-division bug not replicated)
            F.round(safe_div(F.sum("clicks"), F.sum("impressions")), 6).alias("ctr"),
            F.sum("orders").alias("orders"),
        )
    )


def _kpi_block(grouped) -> DataFrame:
    """The shared KPI select list (``04_views.sql:102-142`` / ``:185-227``)."""
    rev, cost, spend = F.sum("revenue"), F.sum("cost"), F.sum("spend")
    orders = F.sum("orders")
    clicks, impr = F.sum("clicks"), F.sum("impressions")
    return grouped.agg(
        rev.alias("revenue"),
        cost.alias("cost"),
        F.round(spend, 2).alias("spend"),
        F.sum(F.col("revenue") - F.col("cost")).alias("gross_profit"),
        clicks.alias("clicks"),
        impr.alias("impressions"),
        orders.alias("orders"),
        F.round(safe_div(rev, orders), 4).alias("aov"),
        F.round(safe_div(clicks, impr), 6).alias("ctr"),
        F.round(safe_div(rev, spend), 4).alias("roas"),
        F.round(safe_div(rev - cost, spend), 4).alias("profit_roas"),
        F.round(safe_div(rev - spend, spend), 4).alias("roi"),
        F.round(safe_div(rev - cost - spend, spend), 4).alias("profit_roi"),
    )


def kpi_channel(
    fact_sales: DataFrame, fact_spend: DataFrame, dim_campaigns: DataFrame
) -> DataFrame:
    """``mv_kpi_channel`` (``04_views.sql:70-147``). No dim_date join here —
    unlike channel_daily, spend on no-sale dates IS included."""
    m = _merged(fact_sales, fact_spend).join(
        F.broadcast(dim_campaigns.select("campaign_id", "channel")),
        "campaign_id", "left",
    )
    return _kpi_block(m.groupBy("channel"))


def kpi_campaign(
    fact_sales: DataFrame, fact_spend: DataFrame, dim_campaigns: DataFrame
) -> DataFrame:
    """``mv_kpi_campaign`` (``04_views.sql:153-232``)."""
    m = _merged(fact_sales, fact_spend).join(
        F.broadcast(dim_campaigns.select("campaign_id", "campaign_name", "channel")),
        "campaign_id", "left",
    )
    return _kpi_block(m.groupBy("campaign_id", "campaign_name", "channel"))


def incremental_refresh_channel_daily(
    spark,
    mv_path: str,
    wh: dict[str, DataFrame],
    changed_date_ids: DataFrame,
) -> int:
    """Incrementally maintain a MATERIALIZED mv_channel_daily.

    The reference recomputes its ``mv_*`` views from scratch nightly
    (README.md:261-263); at 100 TB the incremental form recomputes only
    the (date, channel) rows whose underlying dates received new fact
    rows, and MERGEs them into a versioned table (``sources/acid.py``)
    — concurrent readers keep a consistent snapshot throughout.

    ``changed_date_ids``: one column ``date_id`` listing dates touched
    by the fact delta (additive-delta contract: facts only gain rows —
    the nightly-append model; retractions need a delete+refresh).
    Affected dates are re-read from the full facts via a broadcast semi
    join — with facts hive-partitioned by date that is a partition-
    pruned scan, not a full pass.

    Returns the new table version.
    """
    from marketing_etl_analytics_spark.sources import acid

    affected = changed_date_ids.select("date_id").distinct()
    fs = wh["fact_sales"].join(F.broadcast(affected), "date_id", "left_semi")
    sp = wh["fact_spend"].join(F.broadcast(affected), "date_id", "left_semi")
    rows = channel_daily(fs, sp, wh["dim_campaigns"], wh["dim_date"])
    return acid.merge(spark, mv_path, rows, ["date", "channel"])


# --- incremental KPI-view maintenance ----------------------------------------
#
# kpi_channel / kpi_campaign are pure sums at their grain (every ratio
# column derives from the six raw sums), and every money column is
# DECIMAL — so the totals are exactly LINEAR in fact rows: sums over
# (base ∪ delta) = sums over base + sums over delta, bit-for-bit, in
# any order. The incremental form therefore never re-reads the base
# facts at all: aggregate ONLY the delta rows to the grain, add them
# onto a persisted raw-totals table (versioned, copy-on-write — only
# files holding touched groups rewrite), and derive the KPI view from
# the totals on read. A 10 GB nightly delta against 100 TB of facts
# costs one pass over the delta.

_KPI_SUMS = ["revenue", "cost", "spend", "clicks", "impressions", "orders"]

KPI_CHANNEL_GRAIN = ["channel"]
KPI_CAMPAIGN_GRAIN = ["campaign_id", "campaign_name", "channel"]


def _kpi_totals(
    fact_sales: DataFrame,
    fact_spend: DataFrame,
    dim_campaigns: DataFrame,
    grain: list[str],
) -> DataFrame:
    """Raw additive sums at ``grain`` (the stored representation)."""
    dim_cols = ["campaign_id"] + [c for c in grain if c != "campaign_id"]
    m = _merged(fact_sales, fact_spend).join(
        F.broadcast(dim_campaigns.select(*dim_cols)), "campaign_id", "left"
    )
    return m.groupBy(*grain).agg(
        *[F.sum(c).alias(c) for c in _KPI_SUMS]
    )


def kpi_from_totals(totals: DataFrame, grain: list[str]) -> DataFrame:
    """Derive the full KPI select list from stored raw totals —
    identical values to ``_kpi_block`` over the same fact rows (decimal
    sums are exact, and every ratio is a function of the sums)."""
    rev, cost, spend = F.col("revenue"), F.col("cost"), F.col("spend")
    orders, clicks, impr = F.col("orders"), F.col("clicks"), F.col("impressions")
    return totals.select(
        *grain,
        rev.alias("revenue"),
        cost.alias("cost"),
        F.round(spend, 2).alias("spend"),
        (rev - cost).alias("gross_profit"),
        clicks.alias("clicks"),
        impr.alias("impressions"),
        orders.alias("orders"),
        F.round(safe_div(rev, orders), 4).alias("aov"),
        F.round(safe_div(clicks, impr), 6).alias("ctr"),
        F.round(safe_div(rev, spend), 4).alias("roas"),
        F.round(safe_div(rev - cost, spend), 4).alias("profit_roas"),
        F.round(safe_div(rev - spend, spend), 4).alias("roi"),
        F.round(safe_div(rev - cost - spend, spend), 4).alias("profit_roi"),
    )


def create_kpi_totals(
    spark,
    path: str,
    fact_sales: DataFrame,
    fact_spend: DataFrame,
    dim_campaigns: DataFrame,
    grain: list[str],
) -> int:
    """Materialize the raw-totals table for a KPI view (version 1)."""
    from marketing_etl_analytics_spark.sources import acid

    return acid.create(
        spark, path, _kpi_totals(fact_sales, fact_spend, dim_campaigns, grain)
    )


def incremental_refresh_kpi(
    spark,
    path: str,
    fs_delta: DataFrame,
    sp_delta: DataFrame,
    dim_campaigns: DataFrame,
    grain: list[str],
) -> int:
    """Fold a fact delta into the persisted KPI totals.

    Additive-delta contract (same as the channel_daily refresh): facts
    only gain rows. Aggregates the DELTA rows only, adds them onto the
    current totals for the touched groups (NULL-grain groups — spend
    rows whose campaign misses the dim — combine NULL-safely via the
    versioned table's key matching), and MERGEs: untouched groups'
    files carry over by reference. Returns the new version.
    """
    from marketing_etl_analytics_spark.sources import acid

    delta = _kpi_totals(fs_delta, sp_delta, dim_campaigns, grain)
    cur = acid.read(spark, path)
    cur_types = {f.name: f.dataType for f in cur.schema.fields}
    d = delta.alias("d")
    c = cur.alias("c")
    cond = None
    for k in grain:
        e = F.col(f"d.{k}").eqNullSafe(F.col(f"c.{k}"))
        cond = e if cond is None else cond & e
    combined = d.join(c, cond, "left").select(
        *[F.col(f"d.{k}").alias(k) for k in grain],
        *[
            (
                F.coalesce(F.col(f"c.{s}"), F.lit(0))
                + F.coalesce(F.col(f"d.{s}"), F.lit(0))
            )
            # decimal addition widens precision; snap back to the
            # stored column type so the table schema stays stable
            .cast(cur_types[s])
            .alias(s)
            for s in _KPI_SUMS
        ],
    )
    return acid.merge(spark, path, combined, grain)


# (inputs, views) of the last build_views call, swapped as one tuple so
# concurrent callers always see a matching pair
_BUILT: tuple[tuple[DataFrame, ...], dict[str, DataFrame]] | None = None


def build_views(wh: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Attach the three views to a warehouse dict (lazy, view semantics).

    Memoized on the identity of ``wh``'s ``fact_sales``, ``fact_spend``,
    ``dim_campaigns`` and ``dim_date``: the same snapshot (``acid.read``
    returns one DataFrame per table version) gets the same three view
    DataFrames, in a fresh dict each call. Nothing is cached.
    """
    global _BUILT
    fs, sp, camp, dd = inputs = (
        wh["fact_sales"], wh["fact_spend"], wh["dim_campaigns"], wh["dim_date"]
    )
    built = _BUILT
    if built is None or any(a is not b for a, b in zip(built[0], inputs)):
        built = (inputs, {
            "mv_channel_daily": channel_daily(fs, sp, camp, dd),
            "mv_kpi_channel": kpi_channel(fs, sp, camp),
            "mv_kpi_campaign": kpi_campaign(fs, sp, camp),
        })
        _BUILT = built
    return dict(built[1])

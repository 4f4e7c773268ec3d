"""KPI view layer — lazy-DataFrame re-expression of ``etl_script/04_views.sql``.

The reference's ``mv_*`` are plain views (recomputed per query); our
functions return lazy DataFrames with exactly that semantics — callers
may ``.cache()`` for true materialization. ``build_views`` builds the
three views once per warehouse snapshot: called again with the same
fact and dimension DataFrames, it returns the views it already built,
so their plans are analysed once, and Spark can reuse query stages a
view has already materialized.

The reference aggregates both facts to (date_id, campaign_id), FULL
OUTER joins them and COALESCEs to 0 before it rolls up (SURVEY.md §2.D
D6, §7.3.5). Every column is a decimal sum or a count, so each view is
one aggregation of the facts' UNION (``_facts``) at its own grain: the
same sums, exactly, from one exchange instead of three.

Documented deviation: the reference's ``ctr`` in mv_channel_daily
(``04_views.sql:56-58``) hits PG bigint integer division and always
yields 0; we use true division (SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.functions.kpis import safe_div


# the additive columns of the merged grain, in its column order
_SUMS = ["revenue", "cost", "orders", "spend", "clicks", "impressions"]
# a view's money column is a SUM over the per-(date_id, campaign_id)
# sums of DECIMAL(18,2) fact money, so it keeps that doubly widened type
_VIEW_MONEY = "decimal(38,2)"


def _facts(fact_sales: DataFrame, fact_spend: DataFrame) -> DataFrame:
    """Both facts' keys and six additive columns, NULL where the other
    fact has them; ``orders`` is 1 per sale (sale_id is unique)."""
    return fact_sales.select(
        "date_id", "campaign_id", "revenue", "cost", F.lit(1).alias("orders")
    ).unionByName(
        fact_spend.select("date_id", "campaign_id", "spend", "clicks", "impressions"),
        allowMissingColumns=True,
    )


def _summed(facts: DataFrame, grain: list[str], cols: list[str]) -> DataFrame:
    """SUM of ``cols`` at ``grain``, NULL as 0, money typed as the
    reference's roll-up of the merged grain types it."""
    return facts.groupBy(*grain).agg(
        *[F.sum(F.coalesce(c, F.lit(0))).alias(c) for c in cols]
    ).withColumns({c: F.col(c).cast(_VIEW_MONEY) for c in ("revenue", "cost", "spend")})


def merged(fact_sales: DataFrame, fact_spend: DataFrame) -> DataFrame:
    """fs_agg FULL OUTER sp_agg on (date_id, campaign_id), COALESCEd
    (``04_views.sql:17-47`` — identical in all three views).

    One aggregation of ``_facts``: a key that both facts share gets one
    row, as the join matches it. The SQL ``ON`` never matches a NULL, so
    a key with a NULL component is grouped per fact as well, and a sales
    group and a spend group under it stay two rows.
    """
    null_key = F.col("date_id").isNull() | F.col("campaign_id").isNull()
    side = F.when(null_key, F.col("orders").isNull()).alias("_spend_side")
    return (
        _facts(fact_sales, fact_spend)
        .groupBy("date_id", "campaign_id", side)
        .agg(*[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in _SUMS])
        .drop("_spend_side")
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
    facts = (
        _facts(fact_sales, fact_spend)
        .join(F.broadcast(dim_campaigns.select("campaign_id", "channel")),
              "campaign_id", "left")
        .join(F.broadcast(dim_date.select("date_id", "date")), "date_id", "inner")
    )
    clicks, impr = F.col("clicks"), F.col("impressions")
    return _summed(facts, ["date", "channel"], _SUMS).select(
        "date", "channel", "revenue", "cost",
        F.round("spend", 2).alias("spend"),
        clicks, impr,
        # true division (PG integer-division bug not replicated)
        F.round(safe_div(clicks, impr), 6).alias("ctr"),
        "orders",
    )


def kpi_channel(
    fact_sales: DataFrame, fact_spend: DataFrame, dim_campaigns: DataFrame
) -> DataFrame:
    """``mv_kpi_channel`` (``04_views.sql:70-147``). No dim_date join here —
    unlike channel_daily, spend on no-sale dates IS included."""
    return kpi_from_totals(
        _kpi_totals(fact_sales, fact_spend, dim_campaigns, KPI_CHANNEL_GRAIN),
        KPI_CHANNEL_GRAIN,
    )


def kpi_campaign(
    fact_sales: DataFrame, fact_spend: DataFrame, dim_campaigns: DataFrame
) -> DataFrame:
    """``mv_kpi_campaign`` (``04_views.sql:153-232``)."""
    return kpi_from_totals(
        _kpi_totals(fact_sales, fact_spend, dim_campaigns, KPI_CAMPAIGN_GRAIN),
        KPI_CAMPAIGN_GRAIN,
    )


def incremental_refresh_channel_daily(
    spark,
    mv_path: str,
    wh: dict[str, DataFrame],
    changed_date_ids: DataFrame,
) -> int:
    """Incrementally maintain a MATERIALIZED mv_channel_daily.

    The reference recomputes its ``mv_*`` views from scratch nightly
    (README.md:261-263); the incremental form recomputes only the dates
    that received new fact rows. The table is bounded by dates x
    channels, so it is rewritten whole (``acid.rewrite``): the stored
    rows of the other dates plus the recomputed ones.

    ``changed_date_ids``: one column ``date_id`` listing dates touched
    by the fact delta (additive-delta contract: facts only gain rows —
    the nightly-append model; retractions need a delete+refresh).
    Affected dates are re-read from the full facts via a broadcast semi
    join — with facts hive-partitioned by date that is a partition-
    pruned scan, not a full pass.

    Returns the new table version.
    """
    from marketing_etl_analytics_spark.sources import acid

    # a semi join ignores duplicate keys, so no distinct (and its shuffle)
    affected = F.broadcast(changed_date_ids.select("date_id"))
    fs = wh["fact_sales"].join(affected, "date_id", "left_semi")
    sp = wh["fact_spend"].join(affected, "date_id", "left_semi")
    fresh = channel_daily(fs, sp, wh["dim_campaigns"], wh["dim_date"])
    dates = F.broadcast(wh["dim_date"].join(affected, "date_id", "left_semi").select("date"))
    return acid.rewrite(spark, mv_path, lambda cur: cur.join(
        dates, "date", "left_anti").unionByName(fresh))


# --- incremental KPI-view maintenance ----------------------------------------
#
# kpi_channel / kpi_campaign are pure sums at their grain (every ratio
# derives from the six raw sums), and money is DECIMAL, so the totals
# are exactly linear in fact rows. The incremental form sums ONLY the
# delta rows with a persisted raw-totals table (at most one row per
# campaign, so each delta rewrites it whole), and derives the KPI view
# from the totals on read.

_KPI_SUMS = ["revenue", "cost", "spend", "clicks", "impressions", "orders"]

KPI_CHANNEL_GRAIN = ["channel"]
KPI_CAMPAIGN_GRAIN = ["campaign_id", "campaign_name", "channel"]


def _kpi_rows(
    fact_sales: DataFrame,
    fact_spend: DataFrame,
    dim_campaigns: DataFrame,
    grain: list[str],
) -> DataFrame:
    """Both facts' rows with the campaign columns of ``grain``."""
    dim_cols = ["campaign_id"] + [c for c in grain if c != "campaign_id"]
    return _facts(fact_sales, fact_spend).join(
        F.broadcast(dim_campaigns.select(*dim_cols)), "campaign_id", "left"
    )


def _kpi_totals(
    fact_sales: DataFrame,
    fact_spend: DataFrame,
    dim_campaigns: DataFrame,
    grain: list[str],
) -> DataFrame:
    """Raw additive sums at ``grain`` (the stored representation)."""
    return _summed(_kpi_rows(fact_sales, fact_spend, dim_campaigns, grain), grain, _KPI_SUMS)


def kpi_from_totals(totals: DataFrame, grain: list[str]) -> DataFrame:
    """The KPI select list (``04_views.sql:102-142`` / ``:185-227``)
    over raw totals at ``grain``: every ratio is a function of the sums,
    and decimal sums are exact, so stored totals and a fresh aggregate
    give identical rows."""
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
    only gain rows. One aggregation sums the DELTA rows with the stored
    totals (NULL grain keys, spend whose campaign misses the dim, in one
    group), and ``acid.rewrite`` writes it whole. Returns the new version.
    """
    from marketing_etl_analytics_spark.sources import acid

    delta = _kpi_rows(fs_delta, sp_delta, dim_campaigns, grain)
    return acid.rewrite(spark, path, lambda cur: _summed(
        delta.unionByName(cur, allowMissingColumns=True), grain, _KPI_SUMS))


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

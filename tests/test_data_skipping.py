"""Statistics-based file skipping in the versioned table.

A table created with ``stats_cols`` records per-file min/max (+ null
count). ``read_range`` must scan strictly fewer files under a selective
predicate while returning exactly the rows of a full-scan filter, and
``merge`` planning must prune its touched-file scan the same way —
with NULL-key and no-stats cases handled conservatively (never skip a
file that could match).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from marketing_etl_analytics_spark.sources import acid


def _table_df(spark):
    # 8 range-partitioned files -> disjoint id ranges per file
    return (
        spark.range(0, 800)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            F.concat(F.lit("v"), F.col("id")).alias("payload"),
        )
        .repartitionByRange(8, "id")
    )


def _make(spark, tmp_path, name="skip_tbl"):
    path = str(tmp_path / name)
    v = acid.create(spark, path, _table_df(spark), stats_cols=["id"])
    assert v == 1
    return path


def test_manifest_records_stats(spark, tmp_path):
    path = _make(spark, tmp_path)
    m = acid.read_manifest(path, 1)
    assert m.stats_cols == ["id"]
    assert set(m.stats) == {os.path.basename(f) for f in m.files}
    for ent in m.stats.values():
        mn, mx, n_null = ent["id"]
        assert mn <= mx and n_null == 0


def test_read_range_scans_fewer_files(spark, tmp_path):
    path = _make(spark, tmp_path)
    total = len(acid.read_manifest(path, 1).files)
    assert total > 1

    df = acid.read_range(spark, path, "id", 100, 120)
    scanned = {os.path.basename(f) for f in df.inputFiles()}
    assert 0 < len(scanned) < total  # pruned, not a full scan

    full = acid.read(spark, path).filter(F.col("id").between(100, 120))
    assert sorted(r.id for r in df.collect()) == sorted(
        r.id for r in full.collect()
    )


def test_merge_planning_prunes_candidate_files(spark, tmp_path):
    path = _make(spark, tmp_path)
    m1 = acid.read_manifest(path, 1)

    # a point-ish delta: keys 10..19 live in one range file
    delta = spark.range(10, 20).select(
        F.col("id"),
        F.lit(99).alias("grp"),
        F.lit("updated").alias("payload"),
    )
    v = acid.merge(spark, path, delta, ["id"])
    assert v == 2
    m2 = acid.read_manifest(path, 2)

    # copy-on-write + skipping: all but the touched file(s) carried over
    carried = set(m1.files) & set(m2.files)
    rewritten = set(m1.files) - set(m2.files)
    assert len(rewritten) <= 2 and len(carried) >= len(m1.files) - 2

    # stats followed the rewrite: every current file has an entry
    assert set(m2.stats) == {os.path.basename(f) for f in m2.files}

    # values are the usual merge semantics
    out = acid.read(spark, path)
    assert out.filter(F.col("payload") == "updated").count() == 10
    assert out.count() == 800

    # prune_files on the delta range selects a strict subset
    cand = acid.prune_files(m1, "id", 10, 19)
    assert 0 < len(cand) < len(m1.files)


def test_null_keys_disable_skipping_conservatively(spark, tmp_path):
    path = str(tmp_path / "null_tbl")
    base = spark.createDataFrame(
        [(None, "n0"), (1, "a"), (500, "b")], "id long, payload string"
    ).repartition(3)
    acid.create(spark, path, base, stats_cols=["id"])
    m = acid.read_manifest(path, 1)

    # a NULL source key must keep every file holding NULLs as candidate
    cand = acid.prune_files(m, "id", None, None, src_has_null=True)
    nullish = [
        f for f in m.files
        if m.stats[os.path.basename(f)]["id"][2] > 0
        or m.stats[os.path.basename(f)]["id"][0] is None
    ]
    assert set(nullish) <= set(cand)

    # NULL-safe merge semantics still hold end-to-end with stats on
    delta = spark.createDataFrame(
        [(None, "n1"), (2, "c")], "id long, payload string"
    )
    acid.merge(spark, path, delta, ["id"])
    rows = {(r.id, r.payload) for r in acid.read(spark, path).collect()}
    assert rows == {(None, "n1"), (1, "a"), (2, "c"), (500, "b")}


def test_stats_free_table_unaffected(spark, tmp_path):
    """Tables created without stats_cols behave exactly as before."""
    path = str(tmp_path / "plain_tbl")
    acid.create(spark, path, _table_df(spark))
    m = acid.read_manifest(path, 1)
    assert m.stats is None and m.stats_cols is None
    assert acid.prune_files(m, "id", 0, 5) == list(m.files)
    delta = spark.range(0, 5).select(
        F.col("id"), F.lit(0).alias("grp"), F.lit("u").alias("payload")
    )
    v = acid.merge(spark, path, delta, ["id"])
    assert v == 2
    assert acid.read_manifest(path, 2).stats is None
    assert acid.read(spark, path).count() == 800


def test_clustered_compaction_restores_skipping(spark, tmp_path):
    """Merges scatter keys across files; compact(order_by) re-clusters
    so stats ranges become disjoint and skipping gets selective again."""
    path = str(tmp_path / "cluster_tbl")
    # deliberately hash-partitioned: every file spans the full id range
    df = _table_df(spark).repartition(8)
    acid.create(spark, path, df, stats_cols=["id"])
    m1 = acid.read_manifest(path, 1)
    assert len(acid.prune_files(m1, "id", 100, 120)) == len(m1.files)  # no skip

    v = acid.compact(spark, path, target_files=8, order_by=["id"])
    assert v == 2
    m2 = acid.read_manifest(path, 2)
    cand = acid.prune_files(m2, "id", 100, 120)
    assert 0 < len(cand) < len(m2.files)  # clustered -> skipping works

    out = acid.read_range(spark, path, "id", 100, 120)
    assert sorted(r.id for r in out.collect()) == list(range(100, 121))
    assert acid.read(spark, path).count() == 800  # no row changes

def test_zorder_compaction_skips_on_both_dimensions(spark, tmp_path):
    """Z-order clustering keeps per-file ranges narrow on BOTH listed
    columns, so selective predicates on either dimension skip files.
    A linear sort on x gives y ranges that span everything."""
    path_z = str(tmp_path / "z_tbl")
    path_lin = str(tmp_path / "lin_tbl")
    # two independent uniform dimensions, hash-scattered across files
    n = 1 << 12
    base = (
        spark.range(0, n)
        .select(
            F.col("id"),
            (F.col("id") % 64).alias("x"),
            F.floor(F.col("id") / 64).alias("y"),
        )
        .repartition(16)
    )
    for p in (path_z, path_lin):
        acid.create(spark, p, base, stats_cols=["x", "y"])

    acid.compact(spark, path_z, target_files=16, zorder_by=["x", "y"])
    acid.compact(spark, path_lin, target_files=16, order_by=["x"])

    mz = acid.read_manifest(path_z, 2)
    ml = acid.read_manifest(path_lin, 2)
    total = len(mz.files)
    assert total == len(ml.files) > 4

    # point-ish range on each dimension
    zx = len(acid.prune_files(mz, "x", 3, 4))
    zy = len(acid.prune_files(mz, "y", 3, 4))
    lx = len(acid.prune_files(ml, "x", 3, 4))
    ly = len(acid.prune_files(ml, "y", 3, 4))

    assert lx < total          # linear sort skips on its sort column...
    assert ly == total         # ...but spans everything on the other
    assert zx < total and zy < total  # z-order skips on BOTH
    # and z-order's worst dimension beats linear's worst dimension
    assert max(zx, zy) < max(lx, ly)

    # no row changes; values identical to the linear table
    rows_z = {(r.id, r.x, r.y) for r in acid.read(spark, path_z).collect()}
    rows_l = {(r.id, r.x, r.y) for r in acid.read(spark, path_lin).collect()}
    assert rows_z == rows_l and len(rows_z) == n


def test_zorder_rejects_non_numeric_and_both_orders(spark, tmp_path):
    path = str(tmp_path / "z_bad")
    acid.create(spark, path, _table_df(spark), stats_cols=["id"])
    import pytest

    with pytest.raises(ValueError, match="numeric"):
        acid.compact(spark, path, target_files=2, zorder_by=["payload"])
    with pytest.raises(ValueError, match="not both"):
        acid.compact(
            spark, path, target_files=2, order_by=["id"], zorder_by=["id"]
        )


# --- file stats from parquet footers -----------------------------------------


def _spark_stats(spark, files, cols):
    """Per-file min/max/null count, aggregated by Spark over the rows."""
    df = spark.read.parquet(*files).withColumn(
        "_f", acid._basename(F.input_file_name())
    )
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
        ]
    return {
        r["_f"]: {c: [r[f"mn_{c}"], r[f"mx_{c}"], r[f"nn_{c}"]] for c in cols}
        for r in df.groupBy("_f").agg(*aggs).collect()
    }


_FOOTER_COLS = ["b", "i", "s", "z"]


def test_footer_stats_equal_spark_aggregate(spark, tmp_path):
    """Footer stats of Spark-written files equal a Spark aggregate for
    bigint, int and string columns with NULLs and an all-NULL column."""
    rows = [
        (None if k % 5 == 0 else k * 3 - 40, None if k % 7 == 0 else -k,
         None if k % 4 == 0 else f"s{k:03d}", None)
        for k in range(60)
    ]
    df = spark.createDataFrame(rows, "b bigint, i int, s string, z bigint").repartition(3)
    path = str(tmp_path / "footer_tbl")
    acid.create(spark, path, df, stats_cols=_FOOTER_COLS)
    m = acid.read_manifest(path, 1)
    assert m.stats_cols == _FOOTER_COLS
    assert m.stats == _spark_stats(spark, m.files, _FOOTER_COLS)
    for ent in m.stats.values():
        assert ent["z"][:2] == [None, None] and ent["z"][2] > 0


def test_footer_stats_merge_row_groups(spark, tmp_path):
    """A file with several row groups: bounds merge across them, and a
    row group that is all-NULL in a column adds only to its null count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 50
    table = pa.table({
        "b": pa.array([None if k < 10 else 1000 - k * 7 for k in range(n)], pa.int64()),
        "i": pa.array([None if k % 3 == 0 else k - 25 for k in range(n)], pa.int32()),
        "s": pa.array([None if k % 6 == 0 else f"t{(k * 37) % 101}" for k in range(n)]),
        "z": pa.array([None] * n, pa.int64()),
    })
    f = str(tmp_path / "groups.parquet")
    pq.write_table(table, f, row_group_size=10)
    assert pq.read_metadata(f).num_row_groups == 5
    assert acid._collect_stats([f], _FOOTER_COLS) == _spark_stats(spark, [f], _FOOTER_COLS)


def test_double_columns_are_not_eligible(spark, tmp_path):
    """Parquet min/max leave NaN out, and Spark orders NaN above +inf,
    so floating-point columns carry no file stats."""
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 0.5)], "id bigint, d double"
    ).repartition(1)
    assert acid.eligible_stats_cols(df.schema, ["d", "id"]) == ["id"]
    path = str(tmp_path / "dbl_tbl")
    acid.create(spark, path, df, stats_cols=["d"])
    m = acid.read_manifest(path, 1)
    assert m.stats is None and m.stats_cols is None


def test_footer_stats_start_no_spark_job(spark, tmp_path):
    path = _make(spark, tmp_path)
    files = acid.read_manifest(path, 1).files
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("footer-stats", "footer stats")
        stats = acid._collect_stats(files, ["id"])
        # a control: a Spark read under another group is seen
        sc.setJobGroup("footer-stats-control", "control scan")
        spark.read.parquet(*files).count()
    finally:
        sc._jsc.clearJobGroup()
    assert len(stats) == len(files)
    assert tracker.getJobIdsForGroup("footer-stats") == []
    assert tracker.getJobIdsForGroup("footer-stats-control")

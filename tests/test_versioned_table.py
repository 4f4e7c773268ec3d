"""Versioned parquet table (sources/acid.py): incremental MERGE with
snapshot isolation, copy-on-write file granularity, time travel,
optimistic-concurrency conflict detection, vacuum."""

from __future__ import annotations

import json
import os
import shutil
from decimal import Decimal as D

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from marketing_etl_analytics_spark import views
from marketing_etl_analytics_spark.sources import acid
from tests.test_versioned_table_crash import _rows, _unlisted


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    initial = _df(spark, [(k, f"a{k}") for k in range(100)]).repartitionByRange(
        4, "k"
    )
    acid.create(spark, path, initial)
    return path


def test_two_incremental_merges_roundtrip(spark, table):
    # merge 1: update 95..99, insert 100..104
    acid.merge(
        spark, table, _df(spark, [(k, f"b{k}") for k in range(95, 105)]), ["k"]
    )
    # merge 2: update 0..4 again
    acid.merge(
        spark, table, _df(spark, [(k, f"c{k}") for k in range(5)]), ["k"]
    )
    got = {r.k: r.v for r in acid.read(spark, table).collect()}
    assert len(got) == 105
    assert got[0] == "c0" and got[4] == "c4"
    assert got[97] == "b97" and got[104] == "b104"
    assert got[50] == "a50"
    assert acid.history(table) == [1, 2, 3]


def test_merge_is_copy_on_write(spark, table):
    m1 = acid.read_manifest(table, 1)
    # range-partitioned initial files: low keys live in few files
    acid.merge(spark, table, _df(spark, [(k, f"u{k}") for k in range(5)]), ["k"])
    m2 = acid.read_manifest(table, 2)
    carried = set(m1.files) & set(m2.files)
    rewritten = set(m1.files) - set(m2.files)
    assert carried, "untouched files must carry over by reference"
    assert rewritten, "files holding matched keys must be rewritten"
    assert len(rewritten) < len(m1.files)


def test_snapshot_isolation_and_time_travel(spark, table):
    before = acid.read(spark, table)  # pinned to version 1's files
    acid.merge(spark, table, _df(spark, [(0, "NEW")]), ["k"])
    # the pre-merge handle still reads the old snapshot
    assert {r.v for r in before.filter("k = 0").collect()} == {"a0"}
    assert {
        r.v for r in acid.read(spark, table).filter("k = 0").collect()
    } == {"NEW"}
    assert {
        r.v for r in acid.read(spark, table, version=1).filter("k = 0").collect()
    } == {"a0"}


def test_concurrent_writer_conflict(spark, table):
    # another writer commits version 2 first
    os.makedirs(acid._versions_dir(table), exist_ok=True)
    with open(acid._manifest_path(table, 2), "x") as f:
        f.write("{}")
    with pytest.raises(acid.ConcurrentWriteError):
        acid.merge(spark, table, _df(spark, [(0, "x")]), ["k"])


def test_losing_create_removes_its_files(spark, table):
    """A create at a path that holds a table loses the version-1 commit
    and deletes the data files it wrote."""
    want = _rows(spark, table)
    with pytest.raises(acid.ConcurrentWriteError):
        acid.create(spark, table, _df(spark, [(0, "second")]))
    assert _rows(spark, table) == want
    assert _unlisted(table) == set()


def _merged_table(spark, path):
    acid.create(spark, path, _df(spark, [(k, f"a{k}") for k in range(50)]),
                stats_cols=["k"])
    acid.merge(spark, path, _df(spark, [(k, f"b{k}") for k in range(45, 55)]), ["k"])
    return path


def test_table_bytes_do_not_depend_on_its_location(spark, tmp_path):
    short = _merged_table(spark, str(tmp_path / "t"))
    deep = _merged_table(spark, str(tmp_path / ("deeper" * 8) / "t"))

    def manifest_bytes(path):
        return sum(os.path.getsize(acid._manifest_path(path, v)) for v in acid.history(path))

    assert manifest_bytes(short) == manifest_bytes(deep)
    for v in acid.history(short):
        with open(acid._manifest_path(short, v)) as f:
            assert not any(os.path.isabs(p) for p in json.load(f)["files"])


def test_moved_table_reads_and_vacuums(spark, tmp_path):
    orig = _merged_table(spark, str(tmp_path / "orig"))
    want = _rows(spark, orig)
    moved = str(tmp_path / "elsewhere" / "t")
    shutil.copytree(orig, moved)
    shutil.rmtree(orig)
    assert _rows(spark, moved) == want
    live = set(acid.read_manifest(moved, acid.current_version(moved)).files)
    removed = acid.vacuum(moved, keep_last=1)
    assert removed and not live & set(removed)
    assert all(os.path.exists(f) for f in live)
    assert _rows(spark, moved) == want


def test_delete_where_copy_on_write(spark, table):
    m1 = acid.read_manifest(table, 1)
    acid.delete_where(spark, table, "k < 10")
    assert acid.read(spark, table).count() == 90
    assert acid.read(spark, table).filter("k < 10").count() == 0
    m2 = acid.read_manifest(table, 2)
    assert set(m1.files) & set(m2.files), "untouched files carry over"


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    path = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, None), (2, 10.0), (3, 2.0)], "k long, v double"
    )
    acid.create(spark, path, df)
    acid.delete_where(spark, path, "v > 5")
    # SQL DELETE semantics: the NULL-predicate row survives
    assert {r.k for r in acid.read(spark, path).collect()} == {1, 3}


def test_vacuum_drops_unreachable_files(spark, table):
    acid.merge(spark, table, _df(spark, [(k, "z") for k in range(100)]), ["k"])
    v1_files = set(acid.read_manifest(table, 1).files)
    removed = acid.vacuum(table, keep_last=1)
    # every v1-only file is gone, current snapshot intact
    assert v1_files <= set(removed) | set(acid.read_manifest(table, 2).files)
    assert acid.read(spark, table).count() == 100
    assert acid.history(table) == [2]
    for f in removed:
        assert not os.path.exists(f)


def test_vacuum_keep_last_zero_keeps_only_the_current_version(spark, table):
    for tag in ("b", "c"):
        acid.merge(
            spark, table, _df(spark, [(k, f"{tag}{k}") for k in range(0, 100, 7)]), ["k"]
        )
    want = _rows(spark, table)
    with pytest.raises(ValueError, match="keep_last"):
        acid.vacuum(table, keep_last=-1)
    assert acid.history(table) == [1, 2, 3]
    assert acid.vacuum(table, keep_last=4) == []  # more than the history
    assert acid.history(table) == [1, 2, 3]
    for v in (1, 2, 3):
        assert all(os.path.exists(f) for f in acid.read_manifest(table, v).files)
    acid.vacuum(table, keep_last=0)
    assert acid.history(table) == [3]
    assert not _unlisted(table)
    assert all(os.path.exists(f) for f in acid.read_manifest(table, 3).files)
    assert _rows(spark, table) == want


def test_merge_normalizes_source_column_order(spark, table):
    shuffled = spark.createDataFrame([("zz", 300)], "v string, k long")
    acid.merge(spark, table, shuffled, ["k"])
    got = {r.k: r.v for r in acid.read(spark, table).collect()}
    assert got[300] == "zz" and got[0] == "a0"


def test_insert_only_merge_carries_all_files(spark, table):
    m1 = acid.read_manifest(table, 1)
    acid.merge(
        spark, table, _df(spark, [(k, f"n{k}") for k in range(200, 210)]), ["k"]
    )
    m2 = acid.read_manifest(table, 2)
    assert set(m1.files) <= set(m2.files)
    assert acid.read(spark, table).count() == 110


def test_changes_feed_tags_insert_update_delete(spark, table):
    acid.merge(
        spark, table, _df(spark, [(0, "UPD"), (500, "NEW")]), ["k"]
    )  # v2: update k=0, insert k=500
    acid.delete_where(spark, table, "k = 1")  # v3
    got = {
        (r._change_type, r.k): r.v
        for r in acid.changes(spark, table, 1, 3, ["k"]).collect()
    }
    assert got == {("update", 0): "UPD", ("insert", 500): "NEW", ("delete", 1): "a1"}


def test_changes_feed_ignores_rewritten_but_unchanged_rows(spark, table):
    # k=0 shares a data file with other low keys; rewriting that file
    # must not report its unchanged neighbors as changes
    acid.merge(spark, table, _df(spark, [(0, "UPD")]), ["k"])
    rows = acid.changes(spark, table, 1, 2, ["k"]).collect()
    assert [(r._change_type, r.k, r.v) for r in rows] == [("update", 0, "UPD")]


def test_changes_feed_reads_only_touched_files(spark, table):
    m1, _ = acid.read_manifest(table, 1), acid.merge(
        spark, table, _df(spark, [(0, "UPD")]), ["k"]
    )
    m2 = acid.read_manifest(table, 2)
    # the diff inputs: files removed from v1 + files added by v2
    touched = (set(m1.files) - set(m2.files)) | (set(m2.files) - set(m1.files))
    assert len(touched) < len(set(m1.files) | set(m2.files)), (
        "carried-over files must stay out of the CDC diff"
    )


def test_compact_produces_empty_change_feed(spark, table):
    acid.compact(spark, table, target_files=2)
    assert acid.changes(spark, table, 1, 2, ["k"]).count() == 0


def test_merge_schema_evolution_appends_column(spark, table):
    src = spark.createDataFrame(
        [(0, "UPD", 1.5), (600, "NEW", 2.5)], "k long, v string, score double"
    )
    with pytest.raises(Exception):
        acid.merge(spark, table, src, ["k"])  # strict mode still errors
    v = acid.merge(spark, table, src, ["k"], schema_evolution=True)
    cur = acid.read(spark, table)
    assert cur.columns == ["k", "v", "score"]
    got = {r.k: (r.v, r.score) for r in cur.collect()}
    assert got[0] == ("UPD", 1.5) and got[600] == ("NEW", 2.5)
    assert got[50] == ("a50", None), "old rows read NULL for the appended column"
    # time travel to v1 keeps the original schema
    assert acid.read(spark, table, version=1).columns == ["k", "v"]
    # a later plain merge uses the evolved schema (missing col -> NULL? no:
    # strict mode requires all columns; evolution fills source gaps)
    acid.merge(
        spark,
        table,
        spark.createDataFrame([(700, "X")], "k long, v string"),
        ["k"],
        schema_evolution=True,
    )
    got = {r.k: (r.v, r.score) for r in acid.read(spark, table).collect()}
    assert got[700] == ("X", None)
    assert v == 2


def test_restore_rolls_back_as_new_commit(spark, table):
    v1_rows = sorted(map(tuple, acid.read(spark, table).collect()))
    acid.merge(spark, table, _df(spark, [(0, "CHANGED"), (200, "new")]), ["k"])
    assert sorted(map(tuple, acid.read(spark, table).collect())) != v1_rows

    v = acid.restore(table, 1)
    assert v == 3  # rollback is itself a commit, not history rewriting
    assert acid.current_version(table) == 3
    assert sorted(map(tuple, acid.read(spark, table).collect())) == v1_rows
    # the pre-restore state stays time-travelable
    assert sorted(map(tuple, acid.read(spark, table, version=2).collect())) != v1_rows
    assert acid.history(table) == [1, 2, 3]


def test_restore_survives_vacuum_of_target(spark, table):
    """After restoring v1 and vacuuming down to the last versions, the
    restored commit still reads: its manifest re-references v1's files,
    which vacuum must therefore retain."""
    v1_rows = sorted(map(tuple, acid.read(spark, table).collect()))
    acid.merge(spark, table, _df(spark, [(0, "CHANGED")]), ["k"])
    acid.restore(table, 1)
    acid.vacuum(table, keep_last=1)
    assert sorted(map(tuple, acid.read(spark, table).collect())) == v1_rows


def test_changes_feed_across_restore_shows_rollback(spark, table):
    """The CDC feed across a restore must describe the rollback itself:
    reading changes(pre_restore -> restored) yields the inverse of the
    rolled-back merge (the changed row back at its old value, the
    inserted row deleted)."""
    acid.merge(spark, table, _df(spark, [(0, "CHANGED"), (200, "new")]), ["k"])
    v_restore = acid.restore(table, 1)
    feed = {
        (r.k, r._change_type): r.v
        for r in acid.changes(spark, table, 2, v_restore, ["k"]).collect()
    }
    assert feed.get((0, "update")) == "a0"  # back to the v1 value
    assert (200, "delete") in feed
    assert not any(k == 1 for k, _ in feed)  # untouched rows stay silent


# --- the staged MERGE source -------------------------------------------------


def test_merge_evaluates_source_once(spark, tmp_path):
    """The prune bounds, the touched-file scan and the write all read
    one staged copy of the source: a UDF computing the key runs once
    per source row, however many of those steps the merge takes."""
    path = str(tmp_path / "once")
    acid.create(
        spark, path, _df(spark, [(k, f"a{k}") for k in range(20)]).repartition(2),
        stats_cols=["k"],
    )
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def key(x):
        seen.add(1)
        return x

    n = 10  # keys 15..24: five updates, five inserts
    src = spark.range(15, 15 + n).select(key("id").alias("k"), F.lit("b").alias("v"))
    acid.merge(spark, path, src, ["k"])
    assert seen.value == n
    got = {r.k: r.v for r in acid.read(spark, path).collect()}
    assert len(got) == 25 and got[15] == "b" and got[24] == "b" and got[14] == "a14"


def test_merge_releases_staged_source(spark, table):
    """The staged source's blocks are freed when merge returns, and
    when it raises on a lost commit race."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    acid.merge(spark, table, _df(spark, [(k, "x") for k in range(95, 105)]), ["k"])
    assert jsc.getPersistentRDDs().size() == before

    # another writer commits version 3 first
    with open(acid._manifest_path(table, 3), "x") as f:
        f.write("{}")
    with pytest.raises(acid.ConcurrentWriteError):
        acid.merge(spark, table, _df(spark, [(0, "y")]), ["k"])
    assert jsc.getPersistentRDDs().size() == before


def test_repeated_merges_of_the_same_keys_keep_one_live_file(spark, tmp_path):
    """A merge that replaces every row of a file commits no 0-row file
    in its place, so merging the same keys again and again leaves one
    live file, not one more empty file per merge."""
    path = str(tmp_path / "same_keys")
    acid.create(spark, path, _df(spark, [(k, "a") for k in range(10)]).coalesce(1))
    for i in range(3):
        acid.merge(spark, path, _df(spark, [(k, f"m{i}") for k in range(10)]), ["k"])
    files = acid.read_manifest(path, acid.current_version(path)).files
    assert len(files) == 1
    assert pq.read_metadata(files[0]).num_rows == 10
    assert {r.v for r in acid.read(spark, path).collect()} == {"m2"}


def test_create_of_an_empty_frame_commits_no_file(spark, tmp_path):
    path = str(tmp_path / "empty")
    schema = "k long not null, v string"
    acid.create(spark, path, spark.createDataFrame([], schema))
    assert acid.read_manifest(path, 1).files == []
    df = acid.read(spark, path)
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], schema).schema


# --- whole-table rewrite -----------------------------------------------------


def test_rewrite_replaces_the_table_in_its_column_order(spark, table):
    v = acid.rewrite(spark, table, lambda cur: cur.filter("k < 10").select(
        F.concat(F.lit("r"), "v").alias("v"), "k"))
    assert v == 2
    assert acid.read(spark, table).columns == ["k", "v"]
    assert _rows(spark, table) == [(k, f"ra{k}") for k in range(10)]
    assert not set(acid.read_manifest(table, 1).files) & set(acid.read_manifest(table, 2).files)


def test_rewrite_loses_to_a_writer_that_commits_first(spark, table):
    """The rewritten rows derive from version 1; a merge that commits
    version 2 while ``fn`` runs wins, and the rewrite deletes its files."""
    def fn(cur):
        acid.merge(spark, table, _df(spark, [(0, "other")]), ["k"])
        return cur.withColumn("v", F.lit("rewritten"))

    with pytest.raises(acid.ConcurrentWriteError):
        acid.rewrite(spark, table, fn)
    assert acid.history(table) == [1, 2]
    got = {r.k: r.v for r in acid.read(spark, table).collect()}
    assert len(got) == 100 and got[0] == "other" and got[1] == "a1"
    assert _unlisted(table) == set()
    assert len([d for d in os.listdir(os.path.join(table, "data"))
                if d.startswith("v00002-")]) == 1


def test_changes_over_a_kpi_rewrite_report_only_changed_groups(spark, tmp_path):
    """A rewrite carries no file over, so the change feed diffs the whole
    table; groups whose sums the delta left alone still drop out."""
    sales = "date_id int, campaign_id int, revenue decimal(18,2), cost decimal(18,2)"
    spend = ("date_id int, campaign_id int, spend decimal(18,2), clicks int, "
             "impressions int")
    camps = spark.createDataFrame([(1, "Email"), (2, "Search"), (3, "Social")],
                                  "campaign_id int, channel string")
    fs = spark.createDataFrame([(1, c, D(10), D(4)) for c in (1, 2, 3)], sales)
    sp = spark.createDataFrame([(1, c, D(5), 7, 70) for c in (1, 2, 3)], spend)
    path = str(tmp_path / "kpi_totals")
    views.create_kpi_totals(spark, path, fs, sp, camps, views.KPI_CHANNEL_GRAIN)
    v = views.incremental_refresh_kpi(
        spark, path, spark.createDataFrame([(2, 2, D(30), D(1))], sales),
        spark.createDataFrame([], spend), camps, views.KPI_CHANNEL_GRAIN)
    feed = acid.changes(spark, path, 1, v, views.KPI_CHANNEL_GRAIN).collect()
    assert [(r._change_type, r.channel, r.revenue, r.orders) for r in feed] == [
        ("update", "Search", 40, 2)]


def test_small_insert_merge_adds_one_file(spark, table):
    """A small insert-only merge writes one data file: the staged
    source keeps adaptive execution's partition coalescing (a cached
    source would not, and would write a file per shuffle partition)."""
    m1 = acid.read_manifest(table, 1)
    acid.merge(spark, table, _df(spark, [(k, f"n{k}") for k in range(200, 230)]), ["k"])
    m2 = acid.read_manifest(table, 2)
    assert set(m1.files) <= set(m2.files)
    assert len(m2.files) == len(m1.files) + 1

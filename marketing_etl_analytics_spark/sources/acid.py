"""Versioned parquet tables: snapshot-isolated MERGE without a lakehouse jar.

The nightly-rebuild model of the reference (drop + reload, README's
orchestration; `etl_script/03_transform.sql:14,22` upserts via ON
CONFLICT) needs an incremental twin at scale: rewriting 100 TB nightly
to apply a 10 GB delta is not a plan. Table formats (Delta, Iceberg)
solve this with immutable data files + a manifest + an atomic commit;
neither ships in this environment, so this module implements that core
protocol, reduced to its essentials, on plain parquet + JSON:

- **Immutable data files.** A table version is a MANIFEST — an explicit
  list of parquet files plus the schema. Files are never modified.
- **Atomic commits.** The manifest for version N is created with
  O_EXCL (``open(..., "x")``) — two concurrent writers racing to the
  same version see exactly one winner; the loser gets
  :class:`ConcurrentWriteError` and can retry on the new snapshot
  (optimistic concurrency, the Delta protocol's arbiter). The current
  version pointer is swapped with ``os.replace`` (atomic on POSIX), so
  a reader resolves a complete, consistent snapshot at every instant.
- **Copy-on-write MERGE at file granularity.** Only data files that
  contain a matched key are rewritten; every other file carries over
  by reference. A small delta against a 100 TB table rewrites a small
  fraction of it, not the table.
- **Whole-table rewrite of dimension-bounded tables.** ``rewrite``
  replaces a table with a function of its current snapshot in one
  write. For a table whose size follows a dimension (a view's totals),
  writing every row costs less than MERGE's staging, touched-file scan
  and anti-join. Its commit races like any other, so the new rows
  always derive from the version they replace.
- **One pass over the MERGE source.** ``merge`` stages its
  key-deduplicated source once with ``localCheckpoint`` (Delta's
  ``MergeIntoMaterializeSource``); the prune bounds, the touched-file
  scan and the write all read that copy, and its blocks are freed when
  ``merge`` returns or raises. Not ``persist``: a cached plan keeps its
  shuffle partitioning (adaptive execution may not coalesce it), so a
  small merge would write a file per shuffle partition instead of one.
- **Snapshot isolation + time travel.** A DataFrame opened against
  version N keeps reading version N's files regardless of later
  commits; ``read(version=N)`` re-opens any retained version.
  ``vacuum`` deletes files unreachable from the kept versions.
  ``read`` opens each table version once per session: it resolves
  ``_current`` and the manifest on every call, then hands back the
  DataFrame it last opened for that path when the manifest lists the
  same files under the same schema. The memo is exact, because
  manifests are immutable and data files live in nonce-named
  directories — a table re-created at the same path lists other files.

Single-table layout::

    <path>/_current              -> {"version": N}   (os.replace'd)
    <path>/_versions/v0000N.json -> {"files": [...], "schema": ...,
                                     "stats": ..., "stats_cols": ...}
    <path>/data/v0000N-<nonce>/part-*.parquet

A manifest lists its files relative to ``<path>`` (Delta's relative
``add.path``): a table's bytes do not depend on where it lives, and a
table directory can be moved or copied and still reads.

- **Statistics-based file skipping.** Manifests record per-file
  min/max (+ null count) for declared stats columns (the Delta
  ``dataSkippingNumIndexedCols`` analog), read from the footers of the
  parquet files just written, without a Spark job. ``merge`` prunes its
  touched-file scan to files whose key range can intersect the source
  keys, and ``read_range`` serves selective reads from the candidate
  files only — a point MERGE against a 100 TB table plans against
  file-count metadata and scans the overlapping fraction.

Not implemented (documented non-goals at this scope): multi-table
transactions and a commit service for cross-host writers on non-POSIX
stores (S3 needs a DynamoDB-style arbiter — same gap Delta has
without a LogStore).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first; reload and retry."""


@dataclass(frozen=True)
class Manifest:
    version: int
    files: list[str]
    schema_json: str
    # per-file column statistics: {basename: {col: [min, max, n_null]}}
    stats: dict | None = None
    stats_cols: list[str] | None = None


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_versions_dir(path), f"v{version:05d}.json")


def _pointer_path(path: str) -> str:
    return os.path.join(path, "_current")


def current_version(path: str) -> int:
    with open(_pointer_path(path)) as f:
        return int(json.load(f)["version"])


def read_manifest(path: str, version: int) -> Manifest:
    """Version ``version``'s manifest, its files as absolute paths. An
    entry that is already absolute resolves to itself."""
    with open(_manifest_path(path, version)) as f:
        m = json.load(f)
    root = os.path.abspath(path)
    return Manifest(
        version=version,
        files=[os.path.join(root, f) for f in m["files"]],
        schema_json=m["schema"],
        stats=m.get("stats"),
        stats_cols=m.get("stats_cols"),
    )


def _commit(path: str, version: int, files: list[str], schema_json: str,
            stats: dict | None = None, stats_cols: list[str] | None = None) -> None:
    """O_EXCL manifest creation is the commit arbiter; the pointer swap
    is atomic, so readers never observe a partial commit."""
    os.makedirs(_versions_dir(path), exist_ok=True)
    body = json.dumps(
        {
            "files": [os.path.relpath(f, path) for f in files],
            "schema": schema_json,
            "stats": stats,
            "stats_cols": stats_cols,
        },
        indent=1,
    )
    try:
        with open(_manifest_path(path, version), "x") as f:
            f.write(body)
    except FileExistsError as e:
        raise ConcurrentWriteError(
            f"version {version} of {path} was committed by another writer"
        ) from e
    tmp = _pointer_path(path) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, _pointer_path(path))


# --- per-file statistics (data skipping) ------------------------------------

# stats are kept only for types whose min/max survive a JSON round
# trip exactly — a lossy bound (e.g. decimal -> float) could prune a
# file that actually contains a matching key. Floating-point columns
# are left out too: parquet min/max skip NaN, while Spark orders NaN
# above +inf, so a footer bound could prune a file holding a NaN key.
_STATS_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


def eligible_stats_cols(schema: StructType, wanted: list[str] | None) -> list[str]:
    """The columns of ``wanted`` whose type can carry exact file stats:
    integers and strings. ``float`` and ``double`` are not eligible
    (their footer bounds leave NaN out), nor are decimals, dates or
    timestamps (their bounds do not survive the JSON manifest)."""
    if not wanted:
        return []
    ok = {f.name for f in schema.fields if f.dataType.simpleString() in _STATS_TYPES}
    return [c for c in wanted if c in ok]


def _footer_stats(md: pq.FileMetaData, j: int) -> list | None:
    """[min, max, n_null] of column ``j`` over a file's row groups, or
    None when a row group that is not all-NULL lacks min/max (or any
    lacks a null count): the file then records no bounds for the
    column and is always scanned."""
    mn = mx = None
    n_null = 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = rg.column(j).statistics
        if st is None or not st.has_null_count:
            return None
        n_null += st.null_count
        if st.null_count == rg.num_rows:
            continue  # all-NULL row group: no bounds to merge
        if not st.has_min_max:
            return None
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    return [mn, mx, n_null]


def _collect_stats(files: list[str], stats_cols: list[str]) -> dict:
    """{basename: {col: [min, max, n_null]}} for just-written files,
    read from the parquet footers the write produced — no Spark job,
    as a table format takes its file stats at commit time. Min and max
    merge across row groups; an all-NULL column reads [None, None, n].
    A column without footer bounds gets no entry (always scanned)."""
    out: dict = {}
    for f in files:
        md = pq.read_metadata(f)
        idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
        entry = {}
        for c in stats_cols:
            st = _footer_stats(md, idx[c])
            if st is not None:
                entry[c] = st
        out[os.path.basename(f)] = entry
    return out


def _file_may_match(
    entry: dict | None, col: str, lo, hi, src_has_null: bool
) -> bool:
    """Conservative skip test: True unless the file's recorded range
    provably excludes every source key."""
    if not entry or col not in entry:
        return True  # no stats recorded -> must scan
    mn, mx, n_null = entry[col]
    if src_has_null and n_null > 0:
        return True  # NULL-safe key match: NULL meets NULL
    if mn is None or mx is None:
        # file is all-NULL in this column; only NULL keys could match
        return src_has_null
    if lo is None or hi is None:
        # source side entirely NULL: only files with NULLs matter
        return src_has_null and n_null > 0
    return not (hi < mn or lo > mx)


def prune_files(m: Manifest, col: str, lo, hi, src_has_null: bool = False) -> list[str]:
    """Manifest files whose ``col`` range may intersect [lo, hi]."""
    if not m.stats:
        return list(m.files)
    return [
        f
        for f in m.files
        if _file_may_match(m.stats.get(os.path.basename(f)), col, lo, hi, src_has_null)
    ]


def _write(
    path: str,
    base: Manifest | None,
    rows: DataFrame | None,
    keep: list[str],
    schema_json: str,
    stats_cols: list[str] | None,
) -> int:
    """Commit the version after ``base`` (version 1 without one): the
    ``keep`` files of ``base`` plus new data files holding ``rows``, in
    a fresh ``data/v<N>-<nonce>/`` directory. Kept files carry their
    recorded stats; new files get theirs from their parquet footers.
    A writer that loses the commit race deletes its new directory
    before re-raising, or it would leak files no manifest lists.
    A data file that holds no rows is deleted and not listed, so a
    table with no rows lists no file. Returns the new version."""
    version = base.version + 1 if base else 1
    out_dir = os.path.join(path, "data", f"v{version:05d}-{uuid.uuid4().hex[:8]}")
    new_files: list[str] = []
    if rows is not None:
        rows.write.mode("error").parquet(out_dir)
        # Spark writes partition 0's file even when it is empty; a file
        # with no rows is deleted (with its checksum), not committed and
        # then carried forever
        for f in sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet")):
            full = os.path.join(out_dir, f)
            if pq.read_metadata(full).num_rows:
                new_files.append(full)
            else:
                for g in (full, os.path.join(out_dir, f".{f}.crc")):
                    if os.path.exists(g):
                        os.remove(g)
        if not new_files:
            shutil.rmtree(out_dir)
    stats = None
    if stats_cols:
        recorded = (base.stats if base else None) or {}
        stats = {b: recorded[b] for b in map(os.path.basename, keep) if b in recorded}
        stats.update(_collect_stats(new_files, stats_cols))
    try:
        _commit(path, version, keep + new_files, schema_json, stats, stats_cols)
    except ConcurrentWriteError:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
    return version


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """A 0-row frame with ``schema`` (nullability included). Built on an
    empty RDD, so counting or scanning it starts no Python worker."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _scan(spark: SparkSession, files: list[str], schema_json: str) -> DataFrame:
    """The rows of ``files`` under a manifest schema. The schema is
    explicit: after additive schema evolution a manifest may list files
    written under an older (narrower) schema, and parquet fills the
    missing columns with NULL."""
    schema = StructType.fromJson(json.loads(schema_json))
    if not files:
        return _empty(spark, schema)
    return spark.read.schema(schema).parquet(*files)


def create(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
) -> int:
    """Create a versioned table at ``path`` from ``df`` (version 1).

    ``stats_cols``: columns to index with per-file min/max stats (the
    table's merge keys are the natural choice) — enables file skipping
    in ``merge`` planning and ``read_range``. Non-JSON-roundtrippable
    column types are silently excluded (conservative: no stats = scan).
    """
    return _write(
        path, None, df, [], df.schema.json(),
        eligible_stats_cols(df.schema, stats_cols) or None,
    )


# absolute table path -> (session, files, schema_json, DataFrame) of the
# last snapshot ``read`` opened there. Each entry is replaced whole, so
# threads that miss together each open a correct frame; the last stays.
_OPENED: dict[str, tuple] = {}


def read(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Open a snapshot (the current one, or time-travel to ``version``).

    The returned DataFrame is pinned to the snapshot's explicit file
    list — later commits don't change what it reads (data files are
    immutable until vacuum drops the version).

    The pointer and manifest are read on every call, so a read always
    sees the latest commit. When that manifest lists the same files
    under the same schema as the snapshot this session last opened at
    ``path``, the same DataFrame is returned, and a dashboard pays for
    file listing and analysis once per table version, not per query.
    """
    v = current_version(path) if version is None else version
    m = read_manifest(path, v)
    key = os.path.abspath(path)
    hit = _OPENED.get(key)
    if hit is not None and hit[0] is spark and hit[1:3] == (m.files, m.schema_json):
        return hit[3]
    df = _scan(spark, m.files, m.schema_json)
    _OPENED[key] = (spark, m.files, m.schema_json, df)
    return df


def restore(path: str, version: int) -> int:
    """Roll the table back to ``version`` as a NEW commit (Delta
    RESTORE semantics): the restored state becomes the current
    version, history is preserved, and the rollback itself is
    visible in ``history()``/``changes()``. Pure manifest operation —
    no data files move (the target version's immutable files are
    re-referenced, which also keeps them safe from ``vacuum`` for as
    long as the restore commit is retained)."""
    target = read_manifest(path, version)
    cur = current_version(path)
    _commit(path, cur + 1, target.files, target.schema_json, target.stats,
            target.stats_cols)
    return cur + 1


def merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    schema_evolution: bool = False,
) -> int:
    """MERGE ``source`` into the table: update matched keys (source row
    replaces target row), insert unmatched. Copy-on-write: only data
    files containing a matched key are rewritten. Key matching is
    NULL-safe (a NULL key component matches NULL — upsert-by-key
    semantics, so rows keyed by an outer-join's NULL column update in
    place instead of duplicating).

    With ``schema_evolution=True``, columns present only in ``source``
    are appended to the table schema (additive evolution, the Delta
    ``mergeSchema`` analog): existing rows and carried-over files read
    NULL for the new columns; type changes are NOT evolution and still
    error. Without it, the source must provide exactly the table's
    columns.

    The source is evaluated once: after column alignment and key
    de-duplication it is staged with ``localCheckpoint``, and the prune
    bounds, the touched-file scan and the write read that copy. A
    ``persist``ed source would keep its shuffle partitioning under
    adaptive execution and write one file per partition; the staged
    blocks are released when ``merge`` returns or raises.

    Returns the new version number. Raises :class:`ConcurrentWriteError`
    if another writer commits first (retry against the new snapshot).
    """
    m = read_manifest(path, current_version(path))
    cur = _scan(spark, m.files, m.schema_json)
    schema_json = m.schema_json
    if schema_evolution:
        extra = [f for f in source.schema.fields if f.name not in set(cur.columns)]
        if extra:
            evolved = StructType(list(cur.schema.fields) + extra)
            schema_json = evolved.json()
            for f in extra:
                cur = cur.withColumn(f.name, F.lit(None).cast(f.dataType))
        missing = [f for f in cur.schema.fields if f.name not in source.columns]
        for f in missing:
            source = source.withColumn(f.name, F.lit(None).cast(f.dataType))
    else:
        extra_names = [c for c in source.columns if c not in set(cur.columns)]
        if extra_names:
            raise ValueError(
                f"source has columns {extra_names} not in the table schema; "
                "pass schema_evolution=True to append them"
            )
    # normalize to the table's column order so every data file in the
    # manifest carries one physical layout (also enforces that the
    # source provides exactly the table's columns). Then stage it once:
    # the prune bounds, the touched-file scan and the write all read
    # this one materialization instead of re-running the source plan.
    staged = source.select(*cur.columns).dropDuplicates(key_cols).localCheckpoint()

    def _key_cond(left, right):
        cond = None
        for k in key_cols:
            c = left[k].eqNullSafe(right[k])
            cond = c if cond is None else cond & c
        return cond

    try:
        # dropDuplicates on key_cols already made the keys unique
        # (NULL-safely), so no distinct is needed
        skeys = staged.select(*key_cols)

        # file skipping: bound the touched-file scan to files whose
        # recorded key range can intersect the source keys. One tiny agg
        # over the source (min/max/null of the first indexed key column)
        # prunes the planning scan from |table| to the overlapping files —
        # the point-MERGE-against-100TB case reads almost nothing.
        cand_files = m.files
        prune_col = next(
            (c for c in key_cols if c in (m.stats_cols or [])), None
        )
        if prune_col is not None and m.stats:
            b = staged.agg(
                F.min(prune_col),
                F.max(prune_col),
                F.sum(F.col(prune_col).isNull().cast("long")),
            ).collect()[0]
            lo, hi, src_has_null = b[0], b[1], bool(b[2] or 0)
            cand_files = prune_files(m, prune_col, lo, hi, src_has_null)

        touched: set[str] = set()
        if cand_files:
            # candidate scan under the (possibly evolved) manifest schema
            cand = _scan(spark, cand_files, schema_json)
            # which files hold matched keys? file paths are metadata-sized —
            # the one deliberate driver-side collect (same shape as a
            # format's manifest planning step). Files are matched by
            # basename: Spark part-file names embed a per-job UUID, and
            # input_file_name()'s URI scheme spelling (file:/ vs file:///)
            # must not matter.
            tagged = cand.withColumn("_vt_file", _basename(F.input_file_name()))
            touched_rows = tagged.join(
                F.broadcast(skeys), _key_cond(tagged, skeys), "left_semi"
            )
            touched = {r[0] for r in touched_rows.select("_vt_file").distinct().collect()}
        # else: pruning is conservative, so no file can hold a source key

        if touched:
            # rows of rewritten files that keep their target version,
            # plus every source row (updates replace, inserts append)
            rewrite = tagged.filter(F.col("_vt_file").isin(sorted(touched))).drop(
                "_vt_file"
            )
            new_data = rewrite.join(
                F.broadcast(skeys), _key_cond(rewrite, skeys), "left_anti"
            ).unionByName(staged)
        else:  # inserts only — untouched files all carry over
            new_data = staged
        carried = [f for f in m.files if os.path.basename(f) not in touched]
        return _write(path, m, new_data, carried, schema_json, m.stats_cols)
    finally:
        # DataFrame.unpersist does not free a local checkpoint; the
        # checkpointed RDD behind the plan does
        staged._jdf.queryExecution().analyzed().rdd().unpersist(False)


def rewrite(spark: SparkSession, path: str, fn) -> int:
    """Replace the table with ``fn(current snapshot)`` as the next
    version: a read-modify-write of the whole table (Delta's overwrite
    under optimistic concurrency). Meant for tables bounded by dimension
    size, where writing every row costs less than finding the files a
    change touches. The rows are written in the table's column order,
    and no file carries over.

    The new rows derive from exactly the version they replace: if
    another writer commits first (also from inside ``fn``), the rewrite
    raises :class:`ConcurrentWriteError`, deletes its files, and the
    other writer's version stands. Returns the new version."""
    m = read_manifest(path, current_version(path))
    cur = _scan(spark, m.files, m.schema_json)
    return _write(path, m, fn(cur).select(*cur.columns), [], m.schema_json, m.stats_cols)


def read_range(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Selective read: ``col BETWEEN lo AND hi``, scanning only data
    files whose recorded stats range intersects [lo, hi]. Falls back to
    the full file list when the table carries no stats for ``col``
    (then parquet row-group pushdown is the remaining pruning layer).
    The residual filter still applies — stats pruning is a superset
    guarantee, not an exact index."""
    v = current_version(path) if version is None else version
    m = read_manifest(path, v)
    files = prune_files(m, col, lo, hi)
    return _scan(spark, files, m.schema_json).filter(F.col(col).between(lo, hi))


def delete_where(spark: SparkSession, path: str, predicate: str) -> int:
    """Copy-on-write DELETE: rewrite only files containing matching rows."""
    m = read_manifest(path, current_version(path))
    tagged = _scan(spark, m.files, m.schema_json).withColumn(
        "_vt_file", _basename(F.input_file_name())
    )
    touched = {
        r[0] for r in tagged.filter(predicate).select("_vt_file").distinct().collect()
    }
    survivors = None
    if touched:
        survivors = (
            tagged.filter(F.col("_vt_file").isin(sorted(touched)))
            # SQL DELETE semantics: remove rows where the predicate is
            # TRUE; rows where it evaluates NULL survive (a bare
            # NOT(pred) filter would silently drop them too)
            .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
            .drop("_vt_file")
        )
    carried = [f for f in m.files if os.path.basename(f) not in touched]
    return _write(path, m, survivors, carried, m.schema_json, m.stats_cols)


_Z_BITS = 8  # equi-depth buckets per column = 2^8; z-value fits in a long


def _zorder_value(df: DataFrame, cols: list[str]) -> F.Column:
    """Morton (Z-order) key over ``cols`` as a pure column expression.

    Each column is mapped to an equi-depth bucket id in [0, 256) against
    boundaries sampled once with ``approxQuantile`` (the sampling role
    ``range_partition_id`` plays in Delta's OPTIMIZE ZORDER), then the
    per-column 8-bit ids are bit-interleaved. Equi-depth (not min/max
    scaling) keeps skewed distributions evenly spread across buckets.
    Everything after the one-time quantile probe is a projection —
    no shuffle, no UDF; the only shuffle is the range partition on the
    final z-value that the rewrite needs anyway.
    """
    n_buckets = 1 << _Z_BITS
    k = len(cols)
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString()
        in ("tinyint", "smallint", "int", "bigint", "float", "double")
    }
    bad = [c for c in cols if c not in numeric]
    if bad:
        raise ValueError(f"zorder_by supports numeric columns only, got: {bad}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # one quantile probe for ALL columns — approxQuantile's multi-column
    # form computes every boundary set in a single scan of the snapshot
    all_cuts = df.stat.approxQuantile(list(cols), probs, 1.0 / (4 * n_buckets))
    z = F.lit(0).cast("bigint")
    for ci, c in enumerate(cols):
        cuts = sorted(set(all_cuts[ci]))
        # bucket id = #boundaries strictly below the value (NULL -> 0)
        arr = F.array(*[F.lit(float(b)) for b in cuts])
        bucket = F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, b: acc
            + F.when(F.col(c).cast("double") > b, F.lit(1)).otherwise(F.lit(0)),
        )
        # interleave: bit j of this column lands at position j*k + ci
        for j in range(_Z_BITS):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * k + ci)
            )
    return z


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    order_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite the current snapshot into ``target_files`` data files as
    a new version — no row changes, readers keep snapshot isolation
    throughout. Incremental MERGEs accrete small files; at scale this
    runs periodically like a format's OPTIMIZE.

    ``order_by`` range-partitions + sorts the rewrite on the given
    columns (OPTIMIZE ... ZORDER's one-dimensional analog): files end
    up with disjoint key ranges, so the min/max stats recorded in the
    manifest make ``read_range``/``merge`` skipping maximally
    selective — MERGEs scatter keys across files over time, clustering
    restores the skipping guarantee.

    ``zorder_by`` is the multi-column variant (OPTIMIZE ... ZORDER):
    rows are clustered on an interleaved-bit Morton key over the given
    numeric columns, so per-file min/max ranges stay narrow on EVERY
    listed column at once — a predicate on any one of them skips files.
    A linear sort can only do this for its leading column."""
    if order_by and zorder_by:
        raise ValueError("pass order_by or zorder_by, not both")
    m = read_manifest(path, current_version(path))
    cur = _scan(spark, m.files, m.schema_json)
    if zorder_by:
        shaped = (
            cur.withColumn("_vt_z", _zorder_value(cur, zorder_by))
            .repartitionByRange(target_files, "_vt_z")
            .sortWithinPartitions("_vt_z")
            .drop("_vt_z")
        )
    elif order_by:
        shaped = cur.repartitionByRange(target_files, *order_by).sortWithinPartitions(
            *order_by
        )
    else:
        shaped = cur.repartition(target_files)
    return _write(path, m, shaped, [], m.schema_json, m.stats_cols)


def changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two snapshots: the rows a downstream
    consumer must apply to go from ``v_from`` to ``v_to``, tagged
    ``_change_type`` in ('insert', 'update', 'delete') (updates carry
    the post-image).

    Copy-on-write makes this cheap without write-time change logs: a
    data file listed in BOTH manifests is byte-identical, so only files
    removed since ``v_from`` (rewritten/deleted) and files added by
    ``v_to`` can contribute changes — a 10 GB MERGE against a 100 TB
    table diffs the touched fraction, not two full snapshots. The two
    sides full-outer join on the (NULL-safe) key; rows that were merely
    copied unchanged into a rewritten file drop out. Schema evolution:
    both sides are read under ``v_to``'s schema (old files yield NULL
    for appended columns), so a row whose only difference is a newly
    NULL column is correctly reported unchanged.
    """
    mf, mt = read_manifest(path, v_from), read_manifest(path, v_to)
    old = _scan(spark, sorted(set(mf.files) - set(mt.files)), mt.schema_json)
    new = _scan(spark, sorted(set(mt.files) - set(mf.files)), mt.schema_json)
    cols = new.columns
    val_cols = [c for c in cols if c not in key_cols]
    o = old.select(F.struct(*key_cols).alias("_k"), F.struct(*cols).alias("_o"))
    n = new.select(F.struct(*key_cols).alias("_k"), F.struct(*cols).alias("_n"))
    j = o.join(n, o["_k"].eqNullSafe(n["_k"]), "full_outer")
    tag = (
        F.when(o["_k"].isNull() & ~n["_k"].isNull(), F.lit("insert"))
        .when(n["_k"].isNull() & ~o["_k"].isNull(), F.lit("delete"))
        .when(
            ~F.struct(*[o["_o"][c] for c in val_cols]).eqNullSafe(
                F.struct(*[n["_n"][c] for c in val_cols])
            ),
            F.lit("update"),
        )
        .otherwise(F.lit(None))  # rewritten-but-unchanged row: no change
    )
    img = F.coalesce(n["_n"], o["_o"])
    return (
        j.select(tag.alias("_change_type"), img.alias("_row"))
        .filter(F.col("_change_type").isNotNull())
        .select("_change_type", *[F.col("_row")[c].alias(c) for c in cols])
    )


def history(path: str) -> list[int]:
    # f[1:-5] strips "v" and ".json" — version numbers wider than the
    # zero-padded 5 digits still parse correctly
    return sorted(
        int(f[1:-5]) for f in os.listdir(_versions_dir(path)) if f.endswith(".json")
    )


def vacuum(path: str, keep_last: int = 2) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and
    delete every data file no kept manifest lists: the files of dropped
    versions and those of writers that died between writing and
    committing. A data directory above the current version may belong
    to a writer still in flight and stays; a writer whose directory is
    at or below it has lost its commit race (``_commit`` raises
    ConcurrentWriteError). Returns removed file paths. (Time travel to
    vacuumed versions stops working — same contract as Delta's
    VACUUM.) ``keep_last=0`` keeps only the current version; a negative
    ``keep_last`` raises ValueError."""
    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    current = current_version(path)
    versions = history(path)
    keep = set(versions[max(len(versions) - keep_last, 0):]) | {current}
    # data files are <path>/data/v<version>-<nonce>/<part>: the last two
    # components name a file, also in a manifest that recorded absolute
    # paths under another spelling or location of ``path``
    keep_files = {
        tuple(f.split(os.sep)[-2:])
        for v in keep
        for f in read_manifest(path, v).files
    }
    for v in versions:
        if v not in keep:
            os.remove(_manifest_path(path, v))
    removed: list[str] = []
    data_root = os.path.join(path, "data")
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        version = d[1:].partition("-")[0]
        full = os.path.join(data_root, d)
        if not (version.isdigit() and int(version) <= current and os.path.isdir(full)):
            continue
        for f in sorted(os.listdir(full)):
            if f.endswith(".parquet") and (d, f) not in keep_files:
                os.remove(os.path.join(full, f))
                removed.append(os.path.join(full, f))
        if not any(f.endswith(".parquet") for f in os.listdir(full)):
            shutil.rmtree(full)
    return removed


def _basename(col):
    return F.element_at(F.split(col, "/"), -1)

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
    <path>/_versions/v0000N.json -> {"files": [...], "schema": ...}
    <path>/data/v0000N-<nonce>/part-*.parquet

- **Statistics-based file skipping.** Manifests record per-file
  min/max (+ null count) for declared stats columns (the Delta
  ``dataSkippingNumIndexedCols`` analog). ``merge`` prunes its
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
    parent: int | None
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
    with open(_manifest_path(path, version)) as f:
        m = json.load(f)
    return Manifest(
        version=version,
        files=m["files"],
        schema_json=m["schema"],
        parent=m.get("parent"),
        stats=m.get("stats"),
        stats_cols=m.get("stats_cols"),
    )


def _commit(path: str, version: int, files: list[str], schema_json: str,
            parent: int | None, stats: dict | None = None,
            stats_cols: list[str] | None = None) -> None:
    """O_EXCL manifest creation is the commit arbiter; the pointer swap
    is atomic, so readers never observe a partial commit."""
    os.makedirs(_versions_dir(path), exist_ok=True)
    body = json.dumps(
        {
            "files": files,
            "schema": schema_json,
            "parent": parent,
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


def _write_data_files(df: DataFrame, path: str, version: int) -> list[str]:
    """Write a batch of immutable data files; return their paths."""
    out_dir = os.path.join(
        path, "data", f"v{version:05d}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(out_dir)
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )


# --- per-file statistics (data skipping) ------------------------------------

# stats are kept only for types whose min/max survive a JSON round
# trip exactly — a lossy bound (e.g. decimal -> float) could prune a
# file that actually contains a matching key
_STATS_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string"
)


def eligible_stats_cols(schema: StructType, wanted: list[str] | None) -> list[str]:
    if not wanted:
        return []
    ok = {f.name for f in schema.fields if f.dataType.simpleString() in _STATS_TYPES}
    return [c for c in wanted if c in ok]


def _collect_stats(
    spark: SparkSession, files: list[str], stats_cols: list[str]
) -> dict:
    """{basename: {col: [min, max, n_null]}} for just-written files —
    one scan of the delta (the write path already holds it hot), same
    as a table format computing footer stats at commit time."""
    if not files or not stats_cols:
        return {}
    df = spark.read.parquet(*files).withColumn(
        "_vt_file", _basename(F.input_file_name())
    )
    aggs = []
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
        ]
    out: dict = {}
    for r in df.groupBy("_vt_file").agg(*aggs).collect():
        out[r["_vt_file"]] = {
            c: [r[f"mn_{c}"], r[f"mx_{c}"], int(r[f"nn_{c}"] or 0)]
            for c in stats_cols
        }
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


def _commit_or_cleanup(
    path: str,
    version: int,
    files: list[str],
    new_files: list[str],
    schema_json: str,
    parent: int | None,
    stats: dict | None = None,
    stats_cols: list[str] | None = None,
) -> None:
    """Commit; on losing the version race, delete the just-written data
    files before re-raising — otherwise every losing writer would leak
    an orphaned (manifest-unreferenced) rewrite that vacuum can't see."""
    try:
        _commit(path, version, files, schema_json, parent, stats, stats_cols)
    except ConcurrentWriteError:
        if new_files:
            shutil.rmtree(os.path.dirname(new_files[0]), ignore_errors=True)
        raise


def _carry_stats(
    spark: SparkSession,
    m: Manifest,
    carried: list[str],
    new_files: list[str],
) -> tuple[dict | None, list[str] | None]:
    """Stats for the next manifest: carried files keep their recorded
    entries; new files get one delta-scan of stats. Tables created
    without stats_cols stay stats-free."""
    if not m.stats_cols:
        return None, None
    stats = {
        os.path.basename(f): (m.stats or {}).get(os.path.basename(f))
        for f in carried
    }
    stats = {k: v for k, v in stats.items() if v is not None}
    stats.update(_collect_stats(spark, new_files, m.stats_cols))
    return stats, m.stats_cols


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """A 0-row frame with ``schema`` (nullability included). Built on an
    empty RDD, so counting or scanning it starts no Python worker."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _read_files(spark: SparkSession, m: Manifest) -> DataFrame:
    schema = StructType.fromJson(json.loads(m.schema_json))
    if not m.files:
        return _empty(spark, schema)
    # explicit manifest schema: after additive schema evolution the
    # manifest may list files written under an older (narrower) schema;
    # parquet fills the missing columns with NULL
    return spark.read.schema(schema).parquet(*m.files)


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
    os.makedirs(path, exist_ok=True)
    files = _write_data_files(df, path, 1)
    cols = eligible_stats_cols(df.schema, stats_cols)
    stats = _collect_stats(spark, files, cols) if cols else None
    _commit(
        path, 1, files, df.schema.json(), parent=None,
        stats=stats, stats_cols=cols or None,
    )
    return 1


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
    df = _read_files(spark, m)
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
    _commit(
        path,
        cur + 1,
        target.files,
        target.schema_json,
        parent=cur,
        stats=target.stats,
        stats_cols=target.stats_cols,
    )
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

    Returns the new version number. Raises :class:`ConcurrentWriteError`
    if another writer commits first (retry against the new snapshot).
    """
    base = current_version(path)
    m = read_manifest(path, base)
    new_version = base + 1

    cur = _read_files(spark, m)
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
    # source provides exactly the table's columns)
    source = source.select(*cur.columns).dropDuplicates(key_cols)

    def _key_cond(left, right):
        cond = None
        for k in key_cols:
            c = left[k].eqNullSafe(right[k])
            cond = c if cond is None else cond & c
        return cond

    skeys = source.select(*key_cols).distinct()

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
        b = skeys.agg(
            F.min(prune_col),
            F.max(prune_col),
            F.sum(F.col(prune_col).isNull().cast("long")),
        ).collect()[0]
        lo, hi, src_has_null = b[0], b[1], bool(b[2] or 0)
        cand_files = prune_files(m, prune_col, lo, hi, src_has_null)

    touched: set[str] = set()
    if cand_files:
        # candidate scan under the (possibly evolved) manifest schema —
        # parquet yields NULL for columns absent from older files
        cand = spark.read.schema(StructType.fromJson(json.loads(schema_json))).parquet(
            *cand_files
        )
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
        ).unionByName(source)
    else:  # inserts only — untouched files all carry over
        new_data = source
    new_files = _write_data_files(new_data, path, new_version)

    carried = [f for f in m.files if os.path.basename(f) not in touched]
    stats, stats_cols = _carry_stats(spark, m, carried, new_files)
    _commit_or_cleanup(
        path, new_version, carried + new_files, new_files, schema_json, base,
        stats, stats_cols,
    )
    return new_version


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
    schema = StructType.fromJson(json.loads(m.schema_json))
    df = spark.read.schema(schema).parquet(*files) if files else _empty(spark, schema)
    return df.filter(F.col(col).between(lo, hi))


def delete_where(spark: SparkSession, path: str, predicate: str) -> int:
    """Copy-on-write DELETE: rewrite only files containing matching rows."""
    base = current_version(path)
    m = read_manifest(path, base)
    new_version = base + 1

    tagged = _read_files(spark, m).withColumn(
        "_vt_file", _basename(F.input_file_name())
    )
    touched = {
        r[0] for r in tagged.filter(predicate).select("_vt_file").distinct().collect()
    }
    new_files: list[str] = []
    if touched:
        survivors = (
            tagged.filter(F.col("_vt_file").isin(sorted(touched)))
            # SQL DELETE semantics: remove rows where the predicate is
            # TRUE; rows where it evaluates NULL survive (a bare
            # NOT(pred) filter would silently drop them too)
            .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
            .drop("_vt_file")
        )
        new_files = _write_data_files(survivors, path, new_version)
    carried = [f for f in m.files if os.path.basename(f) not in touched]
    stats, stats_cols = _carry_stats(spark, m, carried, new_files)
    _commit_or_cleanup(
        path, new_version, carried + new_files, new_files, m.schema_json, base,
        stats, stats_cols,
    )
    return new_version


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
    throughout (unlike ``sinks.compact_parquet``, which swaps a raw
    directory in place). Incremental MERGEs accrete small files; at
    scale this runs periodically like a format's OPTIMIZE.

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
    base = current_version(path)
    m = read_manifest(path, base)
    new_version = base + 1
    cur = _read_files(spark, m)
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
    new_files = _write_data_files(shaped, path, new_version)
    stats, stats_cols = _carry_stats(spark, m, [], new_files)
    _commit_or_cleanup(
        path, new_version, new_files, new_files, m.schema_json, base,
        stats, stats_cols,
    )
    return new_version


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
    schema = StructType.fromJson(json.loads(mt.schema_json))
    removed = sorted(set(mf.files) - set(mt.files))
    added = sorted(set(mt.files) - set(mf.files))

    def side(files: list[str]) -> DataFrame:
        if not files:
            return _empty(spark, schema)
        return spark.read.schema(schema).parquet(*files)

    old, new = side(removed), side(added)
    val_cols = [c for c in schema.fieldNames() if c not in key_cols]
    o = old.select(
        F.struct(*key_cols).alias("_k"), F.struct(*schema.fieldNames()).alias("_o")
    )
    n = new.select(
        F.struct(*key_cols).alias("_k"), F.struct(*schema.fieldNames()).alias("_n")
    )
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
        .select("_change_type", *[F.col("_row")[c].alias(c) for c in schema.fieldNames()])
    )


def history(path: str) -> list[int]:
    # f[1:-5] strips "v" and ".json" — version numbers wider than the
    # zero-padded 5 digits still parse correctly
    return sorted(
        int(f[1:-5]) for f in os.listdir(_versions_dir(path)) if f.endswith(".json")
    )


def vacuum(path: str, keep_last: int = 2) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and
    delete data files no retained version references. Returns removed
    file paths. (Time travel to vacuumed versions stops working —
    same contract as Delta's VACUUM.)"""
    versions = history(path)
    keep = set(versions[-keep_last:]) | {current_version(path)}
    keep_files: set[str] = set()
    for v in keep:
        keep_files.update(map(_strip_scheme, read_manifest(path, v).files))
    removed: list[str] = []
    for v in versions:
        if v in keep:
            continue
        for f in read_manifest(path, v).files:
            fp = _strip_scheme(f)
            if fp not in keep_files and os.path.exists(fp):
                os.remove(fp)
                removed.append(fp)
        os.remove(_manifest_path(path, v))
    # sweep empty data dirs left behind
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            if os.path.isdir(full) and not any(
                f.endswith(".parquet") for f in os.listdir(full)
            ):
                shutil.rmtree(full)
    return removed


def _basename(col):
    return F.element_at(F.split(col, "/"), -1)


def _strip_scheme(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p

"""Approximate aggregates — the interactive path at 100 TB.

Exact COUNT(DISTINCT) and percentile require a full shuffle-and-sort
of the key set; the HLL / KLL-sketch versions are single-pass,
mergeable, and bounded-memory. Not oracle-gated (approximation is
engine-specific by definition) — asserted against the exact values
within the documented error bounds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def test_approx_count_distinct_within_rsd(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.08  # 4x the 2% rsd, generous


def test_approx_percentile_close_to_exact(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = F.col("l_quantity").cast("double")
    exact = li.select(F.percentile(q, F.lit(0.5))).collect()[0][0]
    approx = li.select(F.percentile_approx(q, F.lit(0.5), F.lit(1000))).collect()[0][0]
    assert abs(approx - exact) <= 1.0  # quantity is 1..50 integers


def test_hll_sketch_mergeable(spark):
    """hll_sketch_agg partial sketches union to the same estimate —
    the property that makes pre-aggregated distinct counts possible."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    merged = (
        o.groupBy(F.year(F.to_date("o_orderdate")).alias("yr"))
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_union_agg("sk").alias("all_sk"))
        .select(F.hll_sketch_estimate("all_sk"))
        .collect()[0][0]
    )
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    assert abs(merged - exact) / exact < 0.05


def test_ext_sketch_hll_estimate_quality(spark):
    """Our md5-deterministic HLL (m=64) stays within ~4x the paper's
    1.04/sqrt(m) = 13% standard error on every group, and the merged
    '(all)' row estimates the global distinct count (mergeability)."""
    from marketing_etl_analytics_spark.suite.timeseries import ext_sketch_hll

    rows = ext_sketch_hll(spark, SF_DIR).collect()
    grps = {r["grp"] for r in rows}
    assert "(all)" in grps and len(grps) >= 2
    for r in rows:
        assert r["hll_estimate"] > 0
        rel = abs(r["hll_estimate"] - r["n_exact"]) / max(r["n_exact"], 1)
        assert rel < 0.52, (r["grp"], r["n_exact"], r["hll_estimate"])


def test_ext_sketch_countmin_one_sided(spark):
    """Count-Min never underestimates, and with w=512 >> heavy-hitter
    collisions the top-20 estimates are near-exact."""
    from marketing_etl_analytics_spark.suite.timeseries import ext_sketch_countmin

    rows = ext_sketch_countmin(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["overestimate"] >= 0
        assert r["cm_estimate"] >= r["n_exact"]
        # heavy hitters dwarf the expected collision mass e*N/w
        assert r["overestimate"] <= 0.5 * r["n_exact"], r


def test_stream_hll_batch_count_invariance(spark, tmp_path):
    """Register max-merge is associative/commutative/idempotent, so the
    merged sketch over N micro-batches equals the single-pass sketch —
    including under a replayed batch. Three files, one per trigger,
    with overlapping keys + a verbatim replay file."""
    from pyspark.sql.types import LongType, StructField, StructType

    from marketing_etl_analytics_spark.ext.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    schema = StructType([StructField("user_id", LongType())])
    in_dir = str(tmp_path / "in")
    rows1 = [(i,) for i in range(0, 400)]
    rows2 = [(i,) for i in range(300, 700)]  # overlaps rows1
    for rows in (rows1, rows2, rows1):  # third file replays the first
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    reg_dir = str(tmp_path / "regs")

    def batch_registers(batch_df, batch_id):
        hll_registers(batch_df, "user_id").write.mode("append").parquet(reg_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.outputMode("append")
        .foreachBatch(batch_registers)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = hll_estimate(hll_merge(spark.read.parquet(reg_dir))).collect()[0]
    batch = hll_estimate(
        hll_registers(spark.createDataFrame(rows1 + rows2, schema), "user_id")
    ).collect()[0]
    assert streamed["hll_estimate"] == batch["hll_estimate"]
    assert streamed["n_zero_registers"] == batch["n_zero_registers"]


def test_bloom_sketch_invariants(spark):
    """Theorem-level Bloom properties on the graded entry at sf0.01:
    (a) NO FALSE NEGATIVES — every exact membership hit is a sketch
    hit (n_true_hits <= n_bloom_hits, n_flagged_true <= n_flagged,
    per row); (b) exact columns are filter-size-INVARIANT (the m13
    and m20 branches agree on n_docs / n_probes / n_true_hits /
    n_flagged_true for every source — only the sketch columns may
    differ); (c) the sketch actually fires at this SF (some true
    hits exist, so (a) is not vacuous)."""
    from marketing_etl_analytics_spark.suite.timeseries import ext_sketch_bloom

    rows = ext_sketch_bloom(spark, SF_DIR).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert r["n_true_hits"] <= r["n_bloom_hits"]
        assert r["n_flagged_true"] <= r["n_flagged"]
        exact = (r["n_docs"], r["n_probes"], r["n_true_hits"], r["n_flagged_true"])
        by_src.setdefault(r["source"], []).append(exact)
    for src, variants in by_src.items():
        assert len(set(variants)) == 1, f"exact columns differ across m for {src}"
    assert sum(r["n_true_hits"] for r in rows) > 0


def test_bloom_library_no_false_negatives_and_mergeable(spark):
    """Library Bloom twin (ext/sketches.py): every inserted member
    probes TRUE (no false negatives), and the filter built over a
    union equals the UNION+distinct of the two halves' filters (the
    relational bitwise OR — merge without rescanning data)."""
    from marketing_etl_analytics_spark.ext.sketches import (
        bloom_bits,
        bloom_might_contain,
    )

    a = spark.createDataFrame([(f"m{i}",) for i in range(50)], "v string")
    b = spark.createDataFrame([(f"m{i}",) for i in range(50, 90)], "v string")
    union = a.unionByName(b)
    whole = bloom_bits(union, "v", m=4096)
    merged = bloom_bits(a, "v", m=4096).unionByName(
        bloom_bits(b, "v", m=4096)
    ).distinct()
    assert sorted(r["pos"] for r in whole.collect()) == sorted(
        r["pos"] for r in merged.collect()
    )
    probes = union.unionByName(
        spark.createDataFrame([(f"x{i}",) for i in range(40)], "v string")
    )
    out = {
        r["v"]: r["might_contain"]
        for r in bloom_might_contain(whole, probes, "v", m=4096).collect()
    }
    assert all(out[f"m{i}"] for i in range(90))  # no false negatives

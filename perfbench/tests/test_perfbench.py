"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import catalog  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS, Dashboard, EventStream, Workload, _utc_s, cpu_jiffies, rows_digest, unstolen)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


class FakeContext:
    """Stands in for SparkContext: records job-group changes."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def _same_tree(a: str, b: str) -> None:
    cmp = filecmp.dircmp(a, b)
    assert not cmp.left_only and not cmp.right_only
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    assert not mismatch and not errors
    for d in cmp.common_dirs:
        _same_tree(os.path.join(a, d), os.path.join(b, d))


@pytest.mark.parametrize("make", [
    lambda out, seed: gen.marketing(out, seed, 500, 2, 20),
    lambda out, seed: gen.corpus(out, seed, 200),
    lambda out, seed: gen.events(out, seed, 3, 100),
])
def test_same_seed_gives_byte_identical_inputs(tmp_path, make):
    t1 = make(str(tmp_path / "a"), 5)
    t2 = make(str(tmp_path / "b"), 5)
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    make(str(tmp_path / "c"), 6)
    with pytest.raises(AssertionError):
        _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    strip = lambda t: json.dumps(t, default=str).replace(str(tmp_path / "a"), "").replace(  # noqa: E731
        str(tmp_path / "b"), "")
    assert strip(t1) == strip(t2)


def test_marketing_csvs_match_the_package_schemas(tmp_path):
    schemas = pytest.importorskip("marketing_etl_analytics_spark.schemas")
    truth = gen.marketing(str(tmp_path), 1, 300, 1, 10)
    for fname, schema in schemas.RAW_CSV_FILES.values():
        with open(os.path.join(truth["raw_dir"], fname)) as f:
            assert f.readline().rstrip("\n").split(",") == [
                fld.name if "," not in fld.name else f'"{fld.name}"' for fld in schema.fields]
    with open(os.path.join(truth["raw_dir"], gen.TRANSACTIONS_CSV)) as f:
        row = f.readlines()[1].rstrip("\n").split(",")
    month, day, year = row[0].split("/")
    assert not month.startswith("0") and not day.startswith("0")
    date = gen.dt.date(int(year), int(month), int(day))
    assert date in gen.DAYS and date not in gen.SPEND_ONLY_DAYS
    channel, ym = row[-1].rsplit(" ", 1)
    assert channel + " " in gen.CHANNELS and ym == f"{year}-{int(month):02d}"


def test_marketing_has_the_reference_shape(tmp_path):
    """Cardinalities of the reference data (BASELINE.md, FIXTURES.md)."""
    import csv
    truth = gen.marketing(str(tmp_path), 3, gen.N_TRANSACTIONS, 1, 100)
    read = lambda f: list(csv.DictReader(open(os.path.join(truth["raw_dir"], f))))  # noqa: E731
    tx, spend = read(gen.TRANSACTIONS_CSV), read(gen.SPEND_CSV)
    assert len(tx) == 10_000 and len(spend) == 1_460
    assert len({r["Customer ID"] for r in tx}) == 2_450
    assert len({r["Item Purchased"] for r in tx}) == 19
    assert len({r["Category"] for r in tx}) == 7
    assert len({r["Location"] for r in tx}) == 8
    assert len({r["Campaign Name"] for r in tx}) == 48
    assert len(read(gen.CAMPAIGNS_CSV)) == 48 and len(read(gen.PROMO_CSV)) == 4
    assert {r["Date"] for r in spend} - {r["Transaction Date"] for r in tx} == {
        gen.mdy(d) for d in gen.SPEND_ONLY_DAYS}
    assert len(spend) == 4 * len({r["Date"] for r in spend})


def test_wrong_result_counts_as_failed_operation():
    wl = Dashboard(None, tracing.Tracer(FakeContext(), False), "/nonexistent", 1, False)
    rows = [("Email ", 10.0, 3)]
    wl.first = {"q0_pnl_summary": rows_digest(rows)}
    wl._query = lambda name: rows
    assert wl.timed("query", wl._issue, "q0_pnl_summary")
    wl._query = lambda name: [("Email ", 10.5, 3)]  # deliberately wrong
    assert not wl.timed("query", wl._issue, "q0_pnl_summary")
    assert (wl.attempted, wl.failed) == (2, 1)


def test_raising_operation_and_failed_check_are_counted():
    wl = Workload(None, tracing.Tracer(FakeContext(), False), "/nonexistent", 1, False)

    def boom():
        raise RuntimeError("lost executor")

    wl.timed("op", boom)
    wl.timed("op", lambda: None, check=(wl.fail, "sums differ"))
    wl.check(lambda: None)
    assert (wl.attempted, wl.failed) == (3, 2)


def test_unstolen_removes_the_stolen_share():
    assert unstolen(2.0, (100, 10), (150, 60)) == 1.0  # half the runnable ticks stolen
    assert unstolen(2.0, (100, 10), (200, 10)) == 2.0  # no steal: plain wall time
    assert unstolen(2.0, (100, 10), (100, 10)) == 2.0  # no ticks elapsed
    run, stolen = cpu_jiffies()
    assert run > 0 and stolen >= 0


def test_stream_file_to_batch_map_reads_plain_and_compacted_logs(tmp_path):
    """The file source's checkpoint log names the batch that read each file."""
    wl = EventStream(None, None, str(tmp_path), 1, False)
    log = tmp_path / "checkpoints" / "q" / "sources" / "0"
    log.mkdir(parents=True)
    entry = '{{"path":"file:///x/events.parquet/{}","timestamp":1,"batchId":{}}}'
    (log / "9.compact").write_text("v1\n" + "\n".join(
        entry.format(f"part-{i:05d}.parquet", i) for i in range(10)) + "\n")
    (log / "10").write_text("v1\n" + entry.format("part-00010.parquet", 10) + "\n")
    (log / ".10.crc").write_bytes(b"crc\x9b\x00")
    got = wl._batch_of_file("q")
    assert got["part-00003.parquet"] == 3 and got["part-00010.parquet"] == 10 and len(got) == 11
    assert _utc_s("1970-01-01T00:00:01.500Z") == 1.5


def test_rows_digest_ignores_order_and_float_noise():
    a = [(1, 0.1 + 0.2), (2, 3.0)]
    b = [(2, 3.0), (1, 0.3)]
    assert rows_digest(a) == rows_digest(b)
    assert rows_digest(a) != rows_digest([(1, 0.31), (2, 3.0)])


def test_metric_names_equal_benchmark_json():
    assert list(catalog.END_TO_END) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        assert (m["unit"], m["better"]) == catalog.END_TO_END[m["name"]]
        assert 0 < m["bound"] <= 0.25
    setup_bound = next(m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in SPEC["end_to_end"])

    info = {"get_spark_s": 1.0, "jvm_heap_peak_mb": 1.0, "overhead_ms": 1.0}
    names = list(catalog.per_layer(tracing.Tracer(None, False), info))
    assert names == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert (m["unit"], m["better"]) == catalog.layer_unit(m["name"])


def test_benchmark_json_records_why_and_layer_targets():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    for w in SPEC["workloads"]:
        assert w["why"].strip() and "\n" not in w["why"] and len(w["why"]) <= 200
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    workloads = {w["name"] for w in SPEC["workloads"]} | {"all", "each"}
    for m in SPEC["per_layer"]:
        targets, on = catalog.moves(m["name"])
        assert on in workloads
        if m["name"].startswith("ext."):
            assert WORKLOADS[on].companions == ("curation",)
        if m["name"].startswith(("streaming.", "loadgen.")):
            assert WORKLOADS[on].companions == ("event_stream",)
        if not targets.startswith("none"):
            assert {t.strip() for t in targets.split(",")} <= e2e


def test_spans_self_time_and_event_attribution(tmp_path):
    sc = FakeContext()
    tr = tracing.Tracer(sc, True)
    with tr.span("dashboard.query", query="q1") as a:
        a["rows"] = 5
        with tr.span("queries.exec"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["trace"] == outer["trace"] == outer["id"]
    assert sc.groups == ["pb-0", "pb-1", "pb-0", None]
    # synthetic event log: one job in each span's group
    log = tmp_path / "app-1"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "pb-1"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 100,
                        "RDD Info": [{"Scope": '{"id":"1","name":"Scan csv "}'}]}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Info": {"Launch Time": 130, "Failed": False},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 2_000_000,
                          "Input Metrics": {"Bytes Read": 64, "Records Read": 2}}}
        for sid in (0, 1)
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups, total = tracing.parse_event_log(str(tmp_path), "app-1")
    tr.attach_events(groups)
    assert total["jobs"] == 2 and total["tasks"] == 2
    assert inner["events"]["csv_input_bytes"] == 64 and inner["events"]["wait_ms"] == 30
    assert outer["events"]["jobs"] == 2 and outer["events"]["csv_input_bytes"] == 64
    st = tr.self_times()
    assert st["dashboard"] >= 0 and st["queries"] >= 0
    assert abs(st["dashboard"] + st["queries"] - (outer["end"] - outer["start"])) < 1e-9


def test_fails_without_the_package(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

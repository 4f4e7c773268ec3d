"""Property-based checks (SURVEY.md §5) over randomized inputs.

Small example counts: each example pays a Spark job; the properties
target semantics that fixed fixtures can miss (arbitrary gap layouts,
arbitrary text perturbations).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from marketing_etl_analytics_spark.ext.dedup import simhash_fingerprints
from marketing_etl_analytics_spark.streaming.events_stream import (
    SESSION_GAP_US,
    sessionize_batch,
)

_ts_offsets = st.lists(
    st.integers(min_value=0, max_value=6 * 60 * 60), min_size=1, max_size=12
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(offsets=_ts_offsets)
def test_sessionize_partitions_all_events(spark, offsets):
    """Every event lands in exactly one session; session spans never
    overlap; intra-session gaps never exceed the threshold."""
    t0 = dt.datetime(2025, 6, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(seconds=s), 1.0)
        for i, s in enumerate(sorted(offsets))
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    sessions = sessionize_batch(ev).collect()
    assert sum(r.n_events for r in sessions) == len(rows)
    spans = sorted((r.session_start, r.session_end) for r in sessions)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 < s2
        assert (s2 - e1) > dt.timedelta(microseconds=SESSION_GAP_US)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
        min_size=8,
        max_size=40,
    )
)
def test_simhash_invariant_to_duplication(spark, words):
    """SimHash is a frequency-weighted vote: concatenating a document
    with itself doubles every vote but flips no sign — identical
    fingerprint (sums are strictly nonzero for odd counts; doubling
    preserves every sign including zero-vote ties)."""
    text = " ".join(words)
    df = spark.createDataFrame(
        [(1, text), (2, text + " " + text)], "doc_id long, text string"
    )
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(df).collect()}
    assert fp[1] == fp[2]


_zvals = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000) | st.none(),
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_zvals, lo=st.integers(-1000, 1000), hi=st.integers(-1000, 1000))
def test_zorder_pruning_never_loses_rows(spark, tmp_path_factory, rows, lo, hi):
    """Safety property of statistics-based skipping after Z-ORDER
    compaction: for ANY data (nulls, constants, skew) and ANY range
    predicate, reading only the pruned file set returns exactly the
    rows a full scan's filter returns. Skipping may be ineffective;
    it must never be wrong."""
    from pyspark.sql import functions as F

    from marketing_etl_analytics_spark.sources import acid

    if lo > hi:
        lo, hi = hi, lo
    path = str(tmp_path_factory.mktemp("zprop") / "tbl")
    df = spark.createDataFrame(rows, "x int, y int").repartition(4)
    acid.create(spark, path, df, stats_cols=["x", "y"])
    acid.compact(spark, path, target_files=4, zorder_by=["x", "y"])

    pruned = acid.read_range(spark, path, "x", lo, hi)
    full = acid.read(spark, path).filter(F.col("x").between(lo, hi))
    got = sorted((r.x, r.y) for r in pruned.collect())
    want = sorted((r.x, r.y) for r in full.collect())
    assert got == want


_doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab cd"),  # spaces included -> multi-token
        min_size=0,
        max_size=120,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_doc_texts)
def test_chunking_covers_every_token_in_order(spark, texts):
    """Chunk reconstruction: stitching each doc's chunks back together
    with the stride overlap removed reproduces the token stream
    exactly — no token lost or duplicated by the window arithmetic,
    for arbitrary text lengths including empty and sub-window docs."""
    from marketing_etl_analytics_spark.ext import chunk_documents

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = sorted(
        ((r["doc_id"], r["chunk_ord"], r["chunk_text"]) for r in
         chunk_documents(df, chunk_tokens=8, stride=5).collect())
    )
    by_doc: dict[int, list[str]] = {}
    for doc_id, _, text in chunks:
        by_doc.setdefault(doc_id, []).append(text)
    for doc_id, text in rows:
        toks = text.split(" ")
        rebuilt: list[str] = []
        for j, chunk in enumerate(by_doc[doc_id]):
            ctoks = chunk.split(" ") if chunk != "" else [""]
            rebuilt.extend(ctoks if j == 0 else ctoks[8 - 5:])
        # trailing chunks shorter than the overlap contribute nothing
        # new; the reconstruction must be a prefix-complete match
        assert rebuilt[: len(toks)] == toks
        assert len(rebuilt) >= len(toks)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=2, max_size=5)
)
def test_domain_balance_respects_cap_and_determinism(spark, sizes):
    """No stratum ever exceeds 2x the smallest stratum's count, the
    smallest stratum is never reduced, and re-running on a reshuffled
    frame selects the identical document set."""
    from marketing_etl_analytics_spark.ext import domain_balance

    rows = [
        (s * 1000 + i, f"s{s}")
        for s, n in enumerate(sizes)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = domain_balance(df).collect()
    cap = 2 * min(sizes)
    per = {}
    for r in kept:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    for s, n in enumerate(sizes):
        assert per.get(f"s{s}", 0) == min(n, cap)
    again = {r["doc_id"] for r in domain_balance(df.repartition(7)).collect()}
    assert again == {r["doc_id"] for r in kept}

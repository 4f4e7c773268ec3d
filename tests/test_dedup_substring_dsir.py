"""Pure-Python twins for the two round-8 entries — independent of the
DuckDB oracle (which the differential gate already replays): recompute
ExactSubstr span statistics and DSIR importance weights from the raw
parquet in plain Python and compare exactly.
"""

from __future__ import annotations

import hashlib
import math

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _round4(x: float) -> float:
    return math.floor(x * 1e4 + 0.5) / 1e4


@pytest.fixture(scope="module")
def raw_docs(spark):
    return [
        (r["doc_id"], r["text"], r["lang"])
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    ]


def test_substring_spans_match_python(spark, raw_docs):
    from marketing_etl_analytics_spark.suite.ext_scale import (
        SUBSTR_K,
        ext_dedup_substring,
    )

    # corpus-wide window occurrence counts
    counts: dict[str, int] = {}
    doc_windows: dict[int, list[int]] = {}
    toks_by_doc: dict[int, list[str]] = {}
    for doc_id, text, _ in raw_docs:
        toks = text.lower().split(" ")
        toks_by_doc[doc_id] = toks
        n = len(toks)
        if n < SUBSTR_K:
            doc_windows[doc_id] = []
            continue
        starts = []
        for i in range(n - SUBSTR_K + 1):
            w = " ".join(toks[i : i + SUBSTR_K])
            counts[w] = counts.get(w, 0) + 1
            starts.append((i + 1, w))
        doc_windows[doc_id] = starts

    expect = {}
    for doc_id, _, _ in raw_docs:
        flagged = [i for i, w in doc_windows[doc_id] if counts[w] > 1]
        spans = []
        for i in sorted(flagged):
            if spans and i - spans[-1][1] <= SUBSTR_K:
                spans[-1][1] = i
            else:
                spans.append([i, i])
        dup_tokens = sum(mx - mi + SUBSTR_K for mi, mx in spans)
        n_tokens = len(toks_by_doc[doc_id])
        expect[doc_id] = (
            n_tokens,
            len(spans),
            dup_tokens,
            _round4(dup_tokens / n_tokens),
        )

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_dup_spans"], r["dup_tokens"], r["dup_frac"]
        )
        for r in ext_dedup_substring(spark, SF_DIR).collect()
    }
    assert got == expect
    # the synthetic corpus's dup clusters must actually fire the op
    assert any(v[1] > 0 for v in expect.values())


def test_dsir_weights_match_python(spark, raw_docs):
    from marketing_etl_analytics_spark.suite.ext_pipeline import (
        DSIR_B,
        ext_quality_dsir,
    )

    def bucket(b: str) -> int:
        return int(hashlib.md5(b.encode()).hexdigest()[:6], 16) % DSIR_B

    raw_counts = [0] * DSIR_B
    tgt_counts = [0] * DSIR_B
    doc_feats: dict[int, dict[int, int]] = {}
    for doc_id, text, lang in raw_docs:
        toks = text.lower().split(" ")
        if len(toks) < 2:
            continue
        feats: dict[int, int] = {}
        for i in range(len(toks) - 1):
            bk = bucket(toks[i] + " " + toks[i + 1])
            feats[bk] = feats.get(bk, 0) + 1
        doc_feats[doc_id] = feats
        for bk, c in feats.items():
            raw_counts[bk] += c
            if lang == "en":
                tgt_counts[bk] += c

    r_tot, t_tot = sum(raw_counts), sum(tgt_counts)
    lw = {
        bk: round(
            _round6(
                math.log((tgt_counts[bk] + 1) / (t_tot + DSIR_B))
                - math.log((raw_counts[bk] + 1) / (r_tot + DSIR_B))
            )
            * 1_000_000
        )
        for bk in range(DSIR_B)
        if raw_counts[bk] > 0
    }
    expect = {}
    for doc_id, feats in doc_feats.items():
        n_feats = sum(feats.values())
        wsum = sum(c * lw[bk] for bk, c in feats.items())
        expect[doc_id] = (n_feats, _round6(wsum / 1_000_000))

    rows = ext_quality_dsir(spark, SF_DIR).collect()
    got = {r["doc_id"]: (r["n_feats"], r["log_w"]) for r in rows}
    assert got == expect
    # keep flag = top importance quartile, within interpolation slack
    kept = sum(r["keep_dsir"] for r in rows)
    assert abs(kept - 0.25 * len(rows)) <= max(2, 0.02 * len(rows))
    # target-language docs should skew toward being kept
    lang_by_doc = {d: lang for d, _, lang in raw_docs}
    kept_en = sum(
        r["keep_dsir"] for r in rows if lang_by_doc[r["doc_id"]] == "en"
    )
    n_en = sum(1 for r in rows if lang_by_doc[r["doc_id"]] == "en")
    kept_other = kept - kept_en
    n_other = len(rows) - n_en
    assert kept_en / n_en > kept_other / max(1, n_other)

"""The BASELINE.md correctness gate: Spark pipeline decisions vs the
single-node reference labeler — F1 ≥ 0.99 on `keep`, byte-identical
scrubbed text per url, and per-class expected outcomes. The labeler
comparisons also cover edge rows the fixture mixture never emits:
NULL / empty / whitespace-only text, NULL warc_ts, NULL lang."""

from __future__ import annotations

import pytest

from dataprof_spark.core import gates as pygates
from dataprof_spark.operators import gates as sgates
from dataprof_spark.pipeline import fixtures, labeler

ROWS = fixtures.generate_pages(n=400)
_CLEAN = [r for r in ROWS if r["_class"] == "clean_en"]


def _edge(i: int, text: str | None, lang: str | None, ts=True) -> dict:
    base = _CLEAN[i]
    return {
        "url": f"https://edge.example/{i}",
        "warc_ts": base["warc_ts"] if ts else None,
        "html": b"",
        "text": text,
        "lang": lang,
    }


EDGE_ROWS = [
    _edge(0, None, "en"),
    _edge(1, "", "en"),
    _edge(2, " \t\n  \n", "en"),
    _edge(3, _CLEAN[3]["text"], "en", ts=False),
    _edge(4, _CLEAN[4]["text"], None),
    _edge(5, None, None, ts=False),
]
ALL_ROWS = ROWS + EDGE_ROWS


@pytest.fixture(scope="module")
def decisions(spark):
    edge = spark.createDataFrame(
        [
            (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
            for r in EDGE_ROWS
        ],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    sdf = fixtures.pages_df(spark, ROWS).unionByName(edge)
    return {r["url"]: r.asDict() for r in sgates.decide(sdf).collect()}


def test_f1_vs_labeler(decisions):
    labels = labeler.label_rows(ALL_ROWS)
    f1, diag = labeler.f1_score(labels, list(decisions.values()))
    assert f1 >= 0.99, diag
    # stronger than the target: identical decisions
    assert diag["fp"] == 0 and diag["fn"] == 0, diag


def test_scrubbed_text_byte_identical(decisions):
    labels = {r["url"]: r for r in labeler.label_rows(ALL_ROWS)}
    for url, d in decisions.items():
        assert d["scrubbed_text"] == labels[url]["scrubbed_text"]


def test_drop_reasons_match_labeler(decisions):
    for r in ALL_ROWS:
        expect = pygates.full_reason(r["text"], r["lang"])
        assert decisions[r["url"]]["drop_reason"] == expect, r["url"]


def test_expected_outcome_per_class(decisions):
    """Every mixture class lands on its designed gate (fixtures.py)."""
    by_class: dict[str, list] = {}
    for r in ROWS:
        by_class.setdefault(r["_class"], []).append(
            decisions[r["url"]]["drop_reason"]
        )
    for cls, reasons in by_class.items():
        expect = fixtures.EXPECTED_REASON[cls]
        hits = sum(1 for x in reasons if x == expect)
        # the generator is probabilistic within a class; demand a
        # strong majority lands on the designed reason
        assert hits / len(reasons) >= 0.8, (cls, reasons[:10])


def test_pii_docs_scrubbed(decisions):
    pii_urls = [r["url"] for r in ROWS if r["_class"] == "pii_en"]
    scrubbed = sum(
        1
        for u in pii_urls
        if sum(decisions[u]["scrub_counts"].values()) > 0
    )
    assert scrubbed / len(pii_urls) >= 0.9


def test_quality_score_parity(decisions):
    for r in ALL_ROWS:
        expect = pygates.quality_score(r["text"], r["lang"], r["warc_ts"])
        got = decisions[r["url"]]["quality_score"]
        assert got == pytest.approx(expect, abs=1e-9), r["url"]

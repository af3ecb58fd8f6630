"""llm_dup_span_extract (wave 108) — duplicate-span extraction manifest.

Pins, beyond the driver's oracle hash:
  * manifest ↔ census consistency: per doc, SUM(span_chars) and span
    count equal llm_dup_span_census's dup_chars / n_spans exactly
    (same pipeline, two emission grains);
  * planted byte-identical documents produce full-length spans whose
    extracted-content fingerprints MATCH across the pair — the property
    a rewrite pass relies on (cutting the same text from both copies);
  * intervals are sane: 1 <= pos <= epos, span_chars >= SPAN_K, and
    spans within one doc never overlap (maximal-merge invariant).
"""

from __future__ import annotations

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.operators.ops_wave96 import SPAN_K
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()


def test_manifest_agrees_with_census(spark):
    manifest = _REGISTRY["llm_dup_span_extract"].fn(spark, SF_DIR).collect()
    census = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"])
        for r in _REGISTRY["llm_dup_span_census"].fn(spark, SF_DIR).collect()
    }
    per_doc: dict = {}
    for r in manifest:
        n, c = per_doc.get(r["doc_id"], (0, 0))
        per_doc[r["doc_id"]] = (n + 1, c + r["span_chars"])
    assert per_doc == census


def test_span_intervals_sane_and_disjoint(spark):
    rows = _REGISTRY["llm_dup_span_extract"].fn(spark, SF_DIR).collect()
    assert rows
    by_doc: dict = {}
    for r in rows:
        assert 1 <= r["pos"] <= r["epos"]
        assert r["span_chars"] >= SPAN_K
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["epos"]))
    for doc, spans in by_doc.items():
        spans.sort()
        for (p1, e1), (p2, e2) in zip(spans, spans[1:]):
            # maximal merge: adjacent-or-overlapping intervals merged
            assert p2 > e1 + 1, f"doc {doc}: spans {p1, e1} and {p2, e2}"


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """sf0.001 documents + byte-identical copies (doc_id+90000) of every
    20th doc: a full-doc duplicated span with identical content hash."""
    import shutil

    d = tmp_path_factory.mktemp("wave108_planted")
    src = f"{SF_DIR}/documents.parquet"
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}')
          UNION ALL
          SELECT doc_id + 90000 AS doc_id, text, lang, source, n_chars
          FROM read_parquet('{src}') WHERE doc_id % 20 = 7
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", f"{d}/{t}.parquet")
    return str(d)


def test_planted_twins_share_full_span_fingerprint(spark, planted_dir):
    rows = _REGISTRY["llm_dup_span_extract"].fn(spark, planted_dir).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_pairs = 0
    for did, spans in by_doc.items():
        if did >= 90000 and (did - 90000) in by_doc:
            orig = by_doc[did - 90000]
            # the copy's whole lowercased text is one duplicated span
            full = [s for s in spans if s["pos"] == 1]
            assert full, f"copy {did} has no span starting at pos 1"
            twin = {(s["pos"], s["epos"], s["span_md5"]) for s in orig}
            for s in full:
                assert (s["pos"], s["epos"], s["span_md5"]) in twin
            n_pairs += 1
    assert n_pairs > 0


def test_oracle_matches_on_planted_dir(spark, planted_dir):
    spec = _REGISTRY["llm_dup_span_extract"]
    with oracle.connect(planted_dir) as con:
        assert_matches_oracle(spec.fn(spark, planted_dir), con, spec.oracle)

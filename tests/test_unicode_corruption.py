"""Encoding/Unicode corruption replay class (round 11; SURVEY §5.3.10).

The campaign series (NULL-PK → empty → re-ingest → joint → max-tie)
had retired key-shape corruption; text VALUES were unswept. This round
planted NFC/NFD splits, zero-width/BOM/replacement characters, Unicode
whitespace padding, and case-folding triggers (İ U+0130, ß, final
sigma, the fi ligature) in documents.text/lang/source and
events.event_type/props over sf0.01 and swept the full registry:
**35 diverging keys**, all reducible to four primitive seams (verified
by direct probe, pinned document-by-test below):

  * CASE FOLD: Spark (Java full mapping) lower('İ') = 'i'+U+0307,
    upper('ß') = 'SS', upper('ﬁ') = 'FI', final sigma context-sensitive;
    DuckDB (utf8proc 1:1) maps İ→i, ß→ẞ, ﬁ→ﬁ, Σ→σ always. Fixed by the
    ASCII case fold (textnorm.py fold(); translate over the 26 ASCII
    letters — per-codepoint, identical both engines) adopted by every
    hash/token substrate (llm_dedup._TOK, llm_text._tokens, 16 more
    modules). 31 of the 35 keys.
  * TRIM: DuckDB trim() strips Unicode whitespace, Spark trim() ASCII
    space only. Fixed by the explicit trim(x, ' ') oracle spelling.
  * WORD BOUNDARY: Java's regex \\b is Unicode-aware (combining marks
    count as word chars) while RE2's is ASCII — llm_text_clean's
    stopword regex removed different tokens; re-spelled as an exact
    token-set filter (byte-identical both engines).
  * LOCALE SEGMENTATION / URI VALIDITY: sentences() boundaries on
    zero-width text are JVM-locale-defined (and an all-invisible doc
    segments to ZERO sentences — a hard element_at crash);
    java.net.URI rejects raw non-ASCII URLs to NULL where a regex
    extracts. Both gated on a printable-ASCII contract, NULL otherwise,
    on BOTH engines (fn_sentences now uses try_element_at — total).

This module pins the class at sf0.001.
"""

from __future__ import annotations

import shutil
import unicodedata

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()

CASE_PREFIX = (
    "İstanbul ﬁle STRAẞe straße"
    " \u03a3\u039f\u03a6\u039fΣ "
)

UNICODE_CONSUMERS = [
    # case-fold seam through the token/hash substrates
    "llm_dedup_exact",
    "llm_dedup_exact_best",
    "llm_dedup_method_matrix",
    "llm_fingerprint",
    "llm_minhash_sig",
    "llm_simhash",
    "llm_simhash_pairs",
    "llm_winnow",
    "llm_winnow_pairs",
    "llm_lsh_candidate_volume",
    "llm_lsh_recall",
    "llm_minhash_est_calibration",
    "llm_minhash_est_error",
    "llm_bigram_pmi",
    "llm_bigram_topk",
    "llm_bpe_apply",
    "llm_dsir_weight",
    "llm_dup_span_census",
    "llm_keywords_topk",
    "llm_negative_sampling_table",
    "llm_quality_gopher",
    "llm_readability_score",
    "llm_term_burstiness",
    "llm_token_regex",
    "llm_tokenizer_fertility",
    "llm_watermark_detect",
    "llm_wimbd_ngram_sources",
    "llm_wordpiece_merge_step",
    "agg_ams_f2_sketch",
    "fn_array_setops",
    "udtf_polymorphic",
    "udtf_split",
    # trim / word-boundary / validity seams
    "llm_text_clean",
    "fn_sentences",
    "fn_url",
    # the campaign operationalized as a triage operator (wave 105)
    "dq_text_encoding_census",
    # sentinels: text-heavy shapes that stayed green through the sweep
    "llm_dedup_near",
    "llm_text_tokens",
    "llm_tfidf",
    "llm_lang_profile",
]


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("unicode_r11")
    src_docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    doc_id = src_docs.column("doc_id").to_pylist()
    text = src_docs.column("text").to_pylist()
    lang = src_docs.column("lang").to_pylist()
    source = src_docs.column("source").to_pylist()
    for i, did in enumerate(doc_id):
        if did is None or text[i] is None:
            continue
        m = did % 11
        if m == 1:
            text[i] = CASE_PREFIX + text[i]
        elif m == 2:
            text[i] = unicodedata.normalize("NFD", "café " + text[i])
        elif m == 3:
            text[i] = "\u00a0\u2009 " + text[i] + " \u00a0"
        elif m == 4:
            parts = text[i].split(" ", 1)
            text[i] = (
                parts[0]
                + "\u200b"
                + (" " + parts[1] if len(parts) > 1 else "")
                + "\u200d\ufeff"
            )
        elif m == 5:
            text[i] = "\ufeff" + text[i] + " bad\ufffdbyte a\u0301\u0302"
        if did % 13 == 6 and source[i] is not None:
            source[i] = source[i] + "İ"
        if did % 13 == 8 and lang[i] is not None:
            lang[i] = lang[i] + "\u200b"
    cols = {n: src_docs.column(n) for n in src_docs.column_names}
    cols["text"] = pa.array(text, type=pa.string())
    cols["lang"] = pa.array(lang, type=pa.string())
    cols["source"] = pa.array(source, type=pa.string())
    pq.write_table(
        pa.table({n: cols[n] for n in src_docs.column_names}),
        f"{d}/documents.parquet",
    )

    src_ev = pq.read_table(f"{SF_DIR}/events.parquet")
    eid = src_ev.column("event_id").to_pylist()
    et = src_ev.column("event_type").to_pylist()
    for i, e in enumerate(eid):
        if e is None or et[i] is None:
            continue
        m = e % 29
        if m == 3:
            et[i] = "İ" + et[i]
        elif m == 5:
            et[i] = et[i] + "\u00a0"
        elif m == 7:
            et[i] = et[i].upper() + "ß"
    ecols = {n: src_ev.column(n) for n in src_ev.column_names}
    ecols["event_type"] = pa.array(et, type=pa.string())
    pq.write_table(
        pa.table({n: ecols[n] for n in src_ev.column_names}),
        f"{d}/events.parquet",
    )

    for t in TABLES:
        if t not in ("documents", "events"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck_unicode(unicode_dir):
    with oracle.connect(unicode_dir) as con:
        yield con


def test_unicode_fixture_nonvacuous(unicode_dir):
    """Every planted class must actually exist in the corrupted corpus."""
    n_case, n_nfd, n_pad, n_zw = duckdb.execute(
        f"""
        SELECT
          SUM(CASE WHEN text LIKE 'İstanbul%' THEN 1 ELSE 0 END),
          SUM(CASE WHEN text LIKE 'cafe\u0301%' THEN 1 ELSE 0 END),
          SUM(CASE WHEN text LIKE '\u00a0%' THEN 1 ELSE 0 END),
          SUM(CASE WHEN contains(text, chr(8203)) THEN 1 ELSE 0 END)
        FROM read_parquet('{unicode_dir}/documents.parquet')
        """
    ).fetchone()
    assert min(n_case, n_nfd, n_pad, n_zw) > 0, (n_case, n_nfd, n_pad, n_zw)
    n_types = duckdb.execute(
        f"""
        SELECT COUNT(DISTINCT event_type)
        FROM read_parquet('{unicode_dir}/events.parquet')
        WHERE event_type LIKE 'İ%' OR event_type LIKE '%ß'
           OR event_type LIKE '%\u00a0'
        """
    ).fetchone()[0]
    assert n_types > 0


@pytest.mark.parametrize("key", UNICODE_CONSUMERS)
def test_ops_survive_unicode_corruption(key, spark, unicode_dir, duck_unicode):
    spec = _REGISTRY[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, unicode_dir), duck_unicode, spec.oracle)


def test_case_fold_seam_pinned(spark):
    """Document-by-test: the engines' native case folding DIVERGES on the
    planted trigger characters (Java full mapping vs utf8proc 1:1), while
    the ASCII fold (textnorm.fold) is byte-identical. If the first assert
    ever flips, the engines converged and the fold could relax."""
    from training_feed_kinesis_spark.operators.textnorm import fold

    s = "İ ß ΣΟΦΟΣ ﬁle"
    sq = spark.sql(
        "SELECT lower(v) l, upper(v) u FROM VALUES (:v) AS t(v)", args={"v": s}
    ).collect()[0]
    dq = duckdb.execute("SELECT lower(?) l, upper(?) u", [s, s]).fetchone()
    assert sq[0] != dq[0] or sq[1] != dq[1], (
        "native case folding converged — revisit the textnorm contract"
    )
    f_expr = fold("v")
    sf = spark.sql(
        f"SELECT {f_expr} FROM VALUES (:v) AS t(v)", args={"v": s}
    ).collect()[0][0]
    df = duckdb.execute(f"SELECT {f_expr.replace('v', '?', 1)}", [s]).fetchone()[0]
    assert sf == df


def test_trim_seam_pinned(spark):
    """DuckDB trim() strips Unicode whitespace, Spark trim() ASCII space
    only — and the explicit trim(x, ' ') DuckDB spelling matches Spark."""
    s = "\u00a0 x \u2009"
    sv = spark.sql(
        "SELECT trim(v) FROM VALUES (:v) AS t(v)", args={"v": s}
    ).collect()[0][0]
    d_default = duckdb.execute("SELECT trim(?)", [s]).fetchone()[0]
    d_ascii = duckdb.execute("SELECT trim(?, ' ')", [s]).fetchone()[0]
    assert d_default != sv, "DuckDB default trim converged — revisit"
    assert d_ascii == sv


def test_encoding_census_detects_planted_classes(spark, unicode_dir, duck):
    """dq_text_encoding_census must read all-zeros on the clean corpus
    and fire every planted risk class on the corrupted one — a census
    that can't see the corruption it was built from proves nothing."""
    reg = _REGISTRY["dq_text_encoding_census"]
    clean = {
        r["col"]: r.asDict()
        for r in reg.fn(spark, SF_DIR).collect()
    }
    risk_cols = [
        "n_non_ascii", "n_zero_width", "n_unicode_ws",
        "n_case_trigger", "n_replacement",
    ]
    for col, row in clean.items():
        assert all(row[k] == 0 for k in risk_cols), (col, row)
    corrupt = {
        r["col"]: r.asDict()
        for r in reg.fn(spark, unicode_dir).collect()
    }
    doc_text = corrupt["documents.text"]
    assert all(doc_text[k] > 0 for k in risk_cols), doc_text
    assert corrupt["documents.source"]["n_case_trigger"] > 0
    ev = corrupt["events.event_type"]
    assert ev["n_case_trigger"] > 0 and ev["n_unicode_ws"] > 0

"""Wave 23: count-min width sweep, winnowing overlap pairs.

  * ``agg_countmin_width_sweep``: the Count-Min error/width tradeoff
    measured — one pass builds sketches at widths 16/256/4096 and
    reports total and max overestimate per width (error ∝ N/width made
    visible, the number that sizes a production sketch).
  * ``llm_winnow_pairs``: document pairs sharing winnowing fingerprints
    — the DETECTION step over ``llm_winnow``'s fingerprints: any shared
    substring of length ≥ w+k−1 guarantees a shared fingerprint, so
    this is substring-level (not token-set) overlap mining.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .llm_dedup import WINNOW_ORACLE, llm_winnow

CAT_AGG = "2.D aggregations"
CAT_DEDUP = "2.J llm-pipeline (dedup)"

_WIDTH_HEX = (1, 2, 3)  # hex prefix length ⇒ widths 16, 256, 4096
_MIN_SHARED = 2


@register(
    "agg_countmin_width_sweep",
    CAT_AGG,
    f"""
    WITH ev AS (SELECT user_id FROM events),
    hx AS (SELECT unnest({list(_WIDTH_HEX)!r}) AS hexlen),
    cells AS (
      SELECT hx.hexlen,
             substr(md5(ev.user_id::VARCHAR), 1, hx.hexlen) AS cell
      FROM ev CROSS JOIN hx
    ),
    sketch AS (
      SELECT hexlen, cell, COUNT(*)::DOUBLE AS cnt
      FROM cells GROUP BY hexlen, cell
    ),
    exact AS (
      SELECT user_id, COUNT(*)::DOUBLE AS n_exact FROM ev GROUP BY user_id
    ),
    probe AS (
      SELECT e.user_id, e.n_exact, hx.hexlen,
             substr(md5(e.user_id::VARCHAR), 1, hx.hexlen) AS cell
      FROM exact e CROSS JOIN hx
    ),
    est AS (
      SELECT p.hexlen, p.user_id, p.n_exact, s.cnt AS n_cm
      FROM probe p JOIN sketch s ON s.hexlen = p.hexlen AND s.cell = p.cell
    )
    SELECT CAST(pow(16, hexlen) AS BIGINT) AS width,
           COUNT(*)::BIGINT AS n_keys,
           SUM(n_cm - n_exact)::BIGINT AS total_overest,
           MAX(n_cm - n_exact)::BIGINT AS max_overest,
           ROUND(AVG((n_cm - n_exact) / n_exact), 4) AS avg_rel_err
    FROM est GROUP BY hexlen
    """,
)
def agg_countmin_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min error/width study (depth 1 for isolation): sketches at
    widths 16/256/4096 built in ONE pass (the width is just the md5 hex
    prefix length), probed back with exact counts — total / max / mean
    relative overestimate per width. The ε ≈ e·N/width law becomes a
    table, which is how you size a production sketch instead of
    guessing.

    Scale: each sketch is fixed-size; the triple-width build explodes 3
    rows per event (constant factor) and both aggregates partial
    map-side."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hx = F.explode(F.array(*[F.lit(h) for h in _WIDTH_HEX])).alias("hexlen")
    cells = ev.select("user_id", hx).select(
        "hexlen",
        F.expr("substring(md5(cast(user_id AS string)), 1, hexlen)").alias(
            "cell"
        ),
    )
    sketch = cells.groupBy("hexlen", "cell").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_exact")
    )
    probe = exact.select("user_id", "n_exact", hx).select(
        "user_id",
        "n_exact",
        "hexlen",
        F.expr("substring(md5(cast(user_id AS string)), 1, hexlen)").alias(
            "cell"
        ),
    )
    est = probe.join(F.broadcast(sketch), ["hexlen", "cell"]).select(
        "hexlen", "n_exact", F.col("cnt").alias("n_cm")
    )
    return est.groupBy("hexlen").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("n_cm") - F.col("n_exact")).cast("long").alias(
            "total_overest"
        ),
        F.max(F.col("n_cm") - F.col("n_exact")).cast("long").alias(
            "max_overest"
        ),
        F.round(
            F.avg((F.col("n_cm") - F.col("n_exact")) / F.col("n_exact")), 4
        ).alias("avg_rel_err"),
    ).select(
        F.pow(16, F.col("hexlen")).cast("long").alias("width"),
        "n_keys",
        "total_overest",
        "max_overest",
        "avg_rel_err",
    )


@register(
    "llm_winnow_pairs",
    CAT_DEDUP,
    f"""
    WITH fps AS ({WINNOW_ORACLE})
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           COUNT(*)::BIGINT AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_MIN_SHARED}
    """,
)
def llm_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap pairs from winnowing fingerprints: docs sharing
    ≥2 fingerprints — by the winnowing guarantee, each shared fingerprint
    witnesses a shared substring of length ≥ w+k−1 = 23 chars, so this
    finds copied PASSAGES (quotes, boilerplate, plagiarism), which
    token-set Jaccard dilutes away on long documents. The detection step
    ``llm_winnow``'s fingerprint relation exists to feed.

    Scale shape: the join key is an 8-hex-digit (uniform) fingerprint —
    shared-key blocking identical to shared-shingle Jaccard; fan-out per
    fingerprint is bounded by how many docs actually share the passage
    (hot boilerplate would get a df cap exactly like
    ``llm_stopshingle_jaccard``)."""
    fps = llm_winnow(spark, sf_dir)
    a = fps.select(F.col("doc_id").alias("a_id"), "fp")
    b = fps.select(F.col("doc_id").alias("b_id"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _MIN_SHARED)
    )

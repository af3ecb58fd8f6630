"""Curation wave 5: perplexity bucketing, cross-source duplication,
truncated-embedding recall, best-fit sequence packing.

  * ``llm_perplexity_buckets``: CCNet-style head/middle/tail terciles by
    unigram-LM NLL — the standard quality stratification before mixing.
  * ``llm_crosssource_dup``: near-duplicate pair counts per source pair —
    which sources copy which (mirror detection / licensing audits).
  * ``vec_trunc_recall``: recall@k of truncated-dimension cosine search
    (Matryoshka-representation style) vs full-dimension ground truth.
  * ``llm_pack_bestfit``: first-fit-decreasing sequence packing into
    fixed token budgets via ``applyInPandas`` — the packing-efficiency
    upgrade over the concat-then-chunk packer (``llm_pack_chunks``).

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table
from .llm_dedup import NEAR_ORACLE, llm_dedup_near

CAT_TEXT = "2.J llm-pipeline (text)"
CAT_DEDUP = "2.J llm-pipeline (dedup)"
CAT_SIM = "2.J llm-pipeline (similarity)"
CAT_UDF = "2.K udf surface"

# --- CCNet-style perplexity terciles ---------------------------------------


@register(
    "llm_perplexity_buckets",
    CAT_TEXT,
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
                 FROM documents),
    cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT SUM(c)::DOUBLE AS n FROM cnt),
    nll AS (
      SELECT doc_id, ROUND(AVG(-ln(c::DOUBLE / n)), 4) AS avg_nll
      FROM tok JOIN cnt USING (t), tot
      GROUP BY doc_id
    ),
    bucketed AS (
      SELECT d.lang, n.avg_nll,
             NTILE(3) OVER (ORDER BY n.avg_nll ASC, n.doc_id ASC) AS b
      FROM nll n JOIN documents d USING (doc_id)
    )
    SELECT CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket,
           lang,
           COUNT(*)::BIGINT AS n_docs,
           ROUND(AVG(avg_nll), 4) AS mean_nll
    FROM bucketed GROUP BY b, lang
    """,
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality stratification (Wenzek et al. 2020): score every
    document by unigram-LM average NLL (cheap perplexity proxy), split the
    corpus into head/middle/tail terciles, report the (bucket × language)
    composition. Training mixtures upsample head, downsample tail.

    Scale note: the global NTILE is a single-partition window — fine here,
    but at 100 TB the terciles come from two approx_percentile thresholds
    (a 2-number broadcast) and the bucket assignment is a row-local CASE;
    identical output modulo boundary ties. NLL ordering is rounded to 4dp
    with doc_id tiebreak so both engines cut the terciles identically."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("n"))
    nll = (
        tok.join(F.broadcast(cnt), "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4).alias("avg_nll"))
    )
    w = Window.orderBy(F.col("avg_nll").asc(), F.col("doc_id").asc())
    bucketed = nll.join(d.select("doc_id", "lang"), "doc_id").withColumn(
        "b", F.ntile(3).over(w)
    )
    return bucketed.groupBy("b", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("avg_nll"), 4).alias("mean_nll"),
    ).select(
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        "lang",
        "n_docs",
        "mean_nll",
    )


# --- cross-source duplication matrix ---------------------------------------


@register(
    "llm_crosssource_dup",
    CAT_DEDUP,
    # reuse the full near-dup oracle, then collapse pairs onto source pairs
    f"""
    WITH near AS ({NEAR_ORACLE}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(a.source, b.source) AS src_a,
           GREATEST(a.source, b.source) AS src_b,
           COUNT(*)::BIGINT AS n_pairs
    FROM near JOIN src a ON a.doc_id = near.a_id
              JOIN src b ON b.doc_id = near.b_id
    GROUP BY 1, 2
    """,
)
def llm_crosssource_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH verified near-dup
    pairs rolled up to (source_a, source_b) counts — the audit that shows
    which sources mirror which (and how much of a source is internal
    duplication). Sources are ordered least/greatest so each unordered
    source pair lands in one cell.

    Scale shape: the expensive part IS llm_dedup_near (LSH-bounded); the
    rollup joins the pair list (small) to a two-column doc→source dim —
    broadcast when source metadata fits, hash join otherwise."""
    pairs = llm_dedup_near(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = d.select(F.col("doc_id").alias("a_id"), F.col("source").alias("src_of_a"))
    sb = d.select(F.col("doc_id").alias("b_id"), F.col("source").alias("src_of_b"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .groupBy(
            F.least("src_of_a", "src_of_b").alias("src_a"),
            F.greatest("src_of_a", "src_of_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# --- truncated-dimension recall (Matryoshka) -------------------------------

_TRUNC_D = 16
_FULL_D = 64
_K = 5
_NQ = 50

_DOT_N = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
_DOT_N_SQL = "list_sum(list_transform(range(1, {n}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
_NRM_SQL = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _topk_sql(dim_slice_a: str, dim_slice_b: str, n: int, alias: str) -> str:
    return f"""
    SELECT query_id, neighbor_id FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT_N_SQL.format(a=dim_slice_a, b=dim_slice_b, n=n + 1)}
                        / ({_NRM_SQL.format(v=dim_slice_a)}
                           * {_NRM_SQL.format(v=dim_slice_b)}) DESC,
                        b.vec_id ASC) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      WHERE a.vec_id < {_NQ}
    ) {alias} WHERE rn <= {_K}
    """


@register(
    "vec_trunc_recall",
    CAT_SIM,
    f"""
    WITH full_k AS ({_topk_sql('a.embedding', 'b.embedding', _FULL_D, 'f')}),
    trunc_k AS (
      {_topk_sql('a.embedding[1:{}]'.format(_TRUNC_D),
                 'b.embedding[1:{}]'.format(_TRUNC_D), _TRUNC_D, 't')}
    )
    SELECT f.query_id,
           COUNT(t.neighbor_id)::BIGINT AS n_hits,
           ROUND(COUNT(t.neighbor_id) / {_K}.0, 4) AS recall
    FROM full_k f
    LEFT JOIN trunc_k t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def vec_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval recall (the Matryoshka-representation
    question): for each probe, does top-5 by the FIRST 16 dims recover the
    full-64-dim top-5? Per-query recall@5 — the eval that licenses serving
    a cheaper prefix index (4× less memory/bandwidth) with a known
    accuracy budget.

    Scale shape: brute-force probe×corpus scan on both arms (probes
    broadcast; corpus never shuffles); the truncated arm's dot product is
    a 16-term prefix — at scale it becomes the coarse pass that feeds the
    full-dim re-rank, exactly the shape IVF/PQ pipelines use."""
    em = load_table(spark, sf_dir, "embeddings")
    probes = em.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = em.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))

    def arm(slice_n: int | None) -> DataFrame:
        if slice_n is None:
            qe, ne = "qe", "ne"
        else:
            qe, ne = f"slice(qe, 1, {slice_n})", f"slice(ne, 1, {slice_n})"
        norm = (
            "sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "0D, (acc, v) -> acc + v))"
        )
        cos = F.expr(_DOT_N.format(a=qe, b=ne)) / (
            F.expr(norm.format(v=qe)) * F.expr(norm.format(v=ne))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return (
            F.broadcast(probes)
            .crossJoin(corpus)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _K)
            .select("query_id", "neighbor_id")
        )

    full_k = arm(None)
    trunc_k = arm(_TRUNC_D).withColumnRenamed("neighbor_id", "t_neighbor")
    return (
        full_k.join(
            trunc_k,
            (full_k.query_id == trunc_k.query_id)
            & (full_k.neighbor_id == trunc_k.t_neighbor),
            "left",
        )
        .groupBy(full_k.query_id.alias("query_id"))
        .agg(
            F.count("t_neighbor").cast("long").alias("n_hits"),
            F.round(F.count("t_neighbor") / float(_K), 4).alias("recall"),
        )
    )


# --- best-fit-decreasing sequence packing ----------------------------------

_BUDGET = 512


@register("llm_pack_bestfit", CAT_UDF, None)  # FFD is iterative — rows-only
def llm_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing into 512-token bins, per
    language shard, via ``applyInPandas``: docs sorted by (token count
    desc, doc_id asc) greedily fill the first bin with room — the
    classic ≤(11/9·OPT+1) bound, typically ~5-15% less padding than the
    naive concat-then-chunk packer (``llm_pack_chunks``). Output is the
    per-bin manifest (bin id, docs packed, fill, waste).

    Deterministic (sorted input, stable tie-break) but iterative — no SQL
    spelling exists, so rows-only for the driver; the property test
    asserts fill ≤ budget, every doc packed exactly once, and
    waste < budget per non-final bin. Scale shape: groups are language
    shards (parallel across executors); at 100 TB the group key becomes
    (lang, shard_id) so each FFD instance sees a bounded doc list, and
    Arrow batches stream per group — the driver never sees doc rows."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )

    schema = "lang string, bin_id long, n_docs long, fill long, waste long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tok", "doc_id"], ascending=[False, True])
        fills: list[int] = []
        counts: list[int] = []
        for t in pdf["tok"]:
            t = int(min(t, _BUDGET))  # over-long docs truncate to one bin
            for i, f_ in enumerate(fills):
                if f_ + t <= _BUDGET:
                    fills[i] += t
                    counts[i] += 1
                    break
            else:
                fills.append(t)
                counts.append(1)
        lang = pdf["lang"].iloc[0]
        return pd.DataFrame(
            {
                "lang": lang,
                "bin_id": range(len(fills)),
                "n_docs": counts,
                "fill": fills,
                "waste": [_BUDGET - f_ for f_ in fills],
            }
        )

    return d.groupBy("lang").applyInPandas(pack, schema=schema)

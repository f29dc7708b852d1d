"""Contrastive-training data curation over the embeddings table.

Two operators a large-scale training-data pipeline needs around its
embedding store (north-star extension, SURVEY.md §7.2 item 5 family):

- ``hard_negative_mining``: for EVERY anchor vector, the top-k most
  cosine-similar vectors carrying a DIFFERENT label — the standard
  "hard negatives" a contrastive/embedding trainer mines from its corpus
  (similar-looking, semantically different). Candidates are restricted to
  the anchor's IVF cell (the same ``vec_id <= K`` centroid convention as
  ``sim_ivf_topk``), so the pair set is Σ|cell|·|cell-crosslabel| ≤
  Σ|cell|² — never corpus². At 100 TB the cell count K scales with the
  corpus (K ~ √N keeps cells bounded) and each cell's pairs score inside
  one equi-join partition; the centroid fan-out stays a K-row broadcast.

- ``emb_jl_distortion``: measure-don't-guess harness for random-projection
  (Johnson–Lindenstrauss) dimensionality reduction: project 64-d → 16-d
  with fixed md5-derived hyperplanes (the same literal family the sign-LSH
  buckets use) and report how far projected cosine drifts from true cosine
  over a BOUNDED sample of pairs (id-capped ≤ 500 vectors — a distortion
  estimate is a statistic; its precision does not improve with corpus
  size, so the eval's cost is constant at any scale). The output is
  engine-exact by construction: error-bucket COUNTS (integers) plus the
  MAX error (order-independent over bit-identical doubles) — no
  float-summation ordering anywhere in the aggregate.

Both entries keep the repo's bit-exactness discipline: every dot product
is the same sequential left-fold in Spark, numpy, and the DuckDB oracle
(see ``operators/similarity.seq_dot``), and the projection weights are
3-decimal literals that parse to identical doubles in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.functions.portable_hash import hyperplane
from data_engineer_development_spark.operators.similarity import (
    _seq_dot,
    dot_expr,
    norm_expr,
)
from data_engineer_development_spark.queries.extras import (
    _ivf_assign_ctes,
    _ivf_ranked,
)
from data_engineer_development_spark.queries.similarity import (
    DIMS,
    _duck_cosine,
    _duck_dot,
    _duck_norm,
)
from data_engineer_development_spark.sources import load_table

# --------------------------------------------------------------------------
# Hard-negative mining: per-anchor top-k cross-label neighbors, IVF-cell
# restricted (same centroid family as sim_ivf_topk: the K lowest vec_ids).
# --------------------------------------------------------------------------
_HN_K = 8
_HN_TOPK = 3
#: anchors scored per block inside the cell kernel (ADVICE r17, medium):
#: the unblocked kernel held three m×m float64 grids at once (~240 GB for
#: a pathological 100k-vector cell — one Python worker OOM); blocking the
#: ANCHOR axis caps peak extra memory at ~3·chunk·m doubles while keeping
#: every per-anchor top-k bit-identical (each anchor's row of the pair
#: grid is computed whole, in the same fold order — anchors are
#: independent of each other by construction).
_HN_ANCHOR_CHUNK = 1024


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-cell assignment: the sim_ivf_topk centroid family (zero-norm
    # + width exclusion on corpus rows and centroids alike)
    assigned = (
        _ivf_ranked(load_table(spark, sf_dir, "embeddings"), _HN_K, "label")
        .filter(F.col("ark") == 1)
        .select("vec_id", "label", "embedding", "vn", F.col("cent_id").alias("cell"))
    )
    # Per-cell numpy kernel (OPTIMIZATION r17, guide §4.2/§8.4): the old
    # shape materialized the Σ|cell|² cell equi-join as pair ROWS carrying
    # both 64-dim arrays, so every vector's embedding crossed the Arrow
    # boundary once PER PAIR (~250× duplication at the fixture cell sizes)
    # before the seq_dot pandas_udf scored it, and a full-width shuffle +
    # window ranked the pairs. Now each vector crosses ONCE (one
    # applyInPandas over the cell — the semdedup cell-kernel shape) and
    # the kernel computes the same numbers: the cosine is the SAME
    # strictly-sequential left-fold over dims as seq_dot/the oracle's
    # list_reduce (``_seq_dot`` over an anchor block × the cell, so every
    # pair's IEEE rounding sequence is unchanged), the same an·nn
    # denominator from the SAME JVM-computed norms riding in on the
    # frame, and the same (cosine DESC,
    # negative_id ASC) top-k via a stable argsort over rows pre-sorted by
    # id (bit-equal ties keep column order = ascending negative_id —
    # exactly row_number's tie-break; Spark's sort normalizes -0.0 to 0.0,
    # and ±0.0 compare equal in the argsort, so the ±0.0 tie also falls
    # to the id). Cross-label semantics preserved including NULL labels
    # (NULL != x is NULL → such rows never pair, either side). The pair
    # count, cell restriction, and Σ|cell|² bound are unchanged.
    # Measured at sf0.1 (isolated min-of-5): 3.07 s → 1.54 s even under
    # a contended calibration bracket; plan 16 → 8 Exchange, the per-pair
    # ArrowEvalPython and the pair-rows SortMergeJoin both gone
    # (tests/test_contrastive.py pins kernel ≡ pair-join bit-for-bit).
    import numpy as np
    import pandas as pd

    # the label columns keep their source type (int in the fixture);
    # NULL-labeled rows never reach the output (cross requires both
    # labels non-null), so the non-null cast below is always exact
    label_t = dict(assigned.dtypes)["label"]
    label_np = {"int": np.int32, "bigint": np.int64, "smallint": np.int16}

    def topk_negatives(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        vn = pdf["vn"].to_numpy(dtype=np.float64)
        lab = pdf["label"]
        valid = lab.notna().to_numpy()
        labels = lab.to_numpy()
        m = len(ids)
        k = min(_HN_TOPK, m)
        cast = label_np.get(label_t)
        out_parts = []
        # anchor-axis blocking (ADVICE r17): each block computes its
        # chunk×m slice of the pair grid whole — per-anchor results are
        # independent, so the blocked output is bit-identical to the
        # one-shot grid while peak memory is O(chunk·m), not O(m²)
        for lo in range(0, m, _HN_ANCHOR_CHUNK):
            hi = min(lo + _HN_ANCHOR_CHUNK, m)
            cos = _seq_dot(V[lo:hi, None, :], V[None, :, :]) / (
                vn[lo:hi, None] * vn[None, :]
            )
            cross = (
                valid[lo:hi, None]
                & valid[None, :]
                & (labels[lo:hi, None] != labels[None, :])
            )
            # stable argsort of -cos with non-candidates sunk to +inf:
            # ties (bit-equal cosines) keep column order = ascending
            # negative_id. A NaN cosine (non-finite embedding) maps to
            # -inf in the SORT KEY so it ranks FIRST — reproducing
            # Spark's NaN-greatest DESC ordering, i.e. the retired
            # pair-join/row_number semantics (ADVICE r17); the emitted
            # cosine value stays NaN either way.
            key = np.where(
                cross, np.where(np.isnan(cos), -np.inf, -cos), np.inf
            )
            order = np.argsort(key, axis=1, kind="stable")
            top = order[:, :k]
            c = hi - lo
            rows = np.repeat(np.arange(c), k)
            cols = top.ravel()
            keep = cross[rows, cols]
            rows, cols = rows[keep], cols[keep]
            rk = np.tile(np.arange(1, k + 1), c)[keep]
            a_lab, n_lab = labels[lo + rows], labels[cols]
            if cast is not None:
                # exact: only non-null int labels survive `cross`
                a_lab, n_lab = a_lab.astype(cast), n_lab.astype(cast)
            out_parts.append(
                pd.DataFrame(
                    {
                        "anchor_id": ids[lo + rows],
                        "anchor_label": a_lab,
                        "rk": rk.astype(np.int32),
                        "negative_id": ids[cols],
                        "negative_label": n_lab,
                        "cosine": cos[rows, cols],
                    }
                )
            )
        return pd.concat(out_parts, ignore_index=True)

    out_schema = (
        f"anchor_id long, anchor_label {label_t}, rk int, "
        f"negative_id long, negative_label {label_t}, cosine double"
    )
    return (
        assigned.groupBy("cell")
        .applyInPandas(topk_negatives, out_schema)
        .orderBy("anchor_id", "rk")
    )


_HARD_NEG_SQL = f"""
WITH {_ivf_assign_ctes(_HN_K, "label")},
assigned AS (SELECT vec_id, label, embedding, cent_id AS cell
             FROM ranked_asg WHERE ark = 1),
pairs AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                 b.vec_id AS negative_id, b.label AS negative_label,
                 {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
          FROM assigned a JOIN assigned b USING (cell)
          WHERE a.label <> b.label),
ranked AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                        ORDER BY cosine DESC, negative_id) AS rk
           FROM pairs)
SELECT anchor_id, anchor_label, rk, negative_id, negative_label, cosine
FROM ranked WHERE rk <= {_HN_TOPK}
ORDER BY anchor_id, rk
"""


# --------------------------------------------------------------------------
# JL random-projection distortion eval: 64-d → 16-d via fixed hyperplanes;
# |cos_proj − cos_true| over a bounded pair sample. Scaling cancels in
# cosine, so the raw ±1-ish 3-decimal planes need no 1/√m factor.
# --------------------------------------------------------------------------
_JL_M = 16
_JL_PLANE_BASE = 100  # plane namespace disjoint from the LSH buckets (0..7)
_JL_SAMPLE_MOD = 10
_JL_SAMPLE_RES = 7
#: absolute id cap: ≤ cap/mod sampled vectors at ANY scale — the sample
#: self-cross below is a bounded broadcast by construction, not corpus².
_JL_SAMPLE_CAP = 5_000
_JL_ERR_EDGES = (0.05, 0.1, 0.2)


def _jl_weights() -> list[list[float]]:
    return [hyperplane(_JL_PLANE_BASE + j, DIMS) for j in range(_JL_M)]


def _jl_proj_all_spark(ws: list[list[float]]) -> F.Column:
    """All 16 projections as ONE ``transform`` over a literal weight
    matrix → ``array<double>``. Per-projection column expressions inline
    their 64-term fold into every downstream reference (pn, cos_proj) and
    Catalyst's CollapseProject re-substitutes them through each layer —
    16 separate y columns OOMed the driver on pure plan compilation; the
    single array column is referenced, not re-expanded. Each element is
    the same left-fold as the oracle's flat sum (0.0 + t1 == t1 exactly)."""
    mat = ", ".join(
        "array(" + ", ".join(repr(x) for x in w) + ")" for w in ws
    )
    return F.expr(
        f"transform(array({mat}), ws -> "
        f"aggregate(zip_with(embedding, ws, (x, w) -> cast(x as double) * w), "
        f"cast(0.0 as double), (acc, v) -> acc + v))"
    ).alias("y")


def q_emb_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ws = _jl_weights()
    s = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") % _JL_SAMPLE_MOD == _JL_SAMPLE_RES)
            & (F.col("vec_id") < _JL_SAMPLE_CAP)
            # width pin: the oracle's embedding[d] indexing truncates
            # longer vectors where zip_with would NULL them out — only an
            # explicit dims pin keeps the sample identical across engines
            & (F.size("embedding") == DIMS)
        )
        .select(
            "vec_id",
            "embedding",
            norm_expr("embedding").alias("vn"),
            _jl_proj_all_spark(ws),
        )
        .filter(F.col("vn") > 0)
    )
    # projected norm: 0.0 + y0² + y1² + … left-assoc == the oracle's flat
    # (y0*y0) + (y1*y1) + … exactly. Zero-norm exclusion on BOTH the
    # original and projected vectors, on both engines: 0/0 cosines are NaN
    # and the engines order NaN differently vs thresholds (the sim_neardup
    # lesson).
    s = s.withColumn(
        "pn",
        F.expr(
            "sqrt(aggregate(y, cast(0.0 as double), (acc, v) -> acc + v * v))"
        ),
    ).filter(F.col("pn") > 0)
    a = s.select(
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("av"),
        F.col("vn").alias("an"),
        F.col("pn").alias("apn"),
        F.col("y").alias("ay"),
    )
    b = s.select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("bv"),
        F.col("vn").alias("bn"),
        F.col("pn").alias("bpn"),
        F.col("y").alias("by"),
    )
    proj_dot = F.expr(
        "aggregate(zip_with(ay, by, (x, z) -> x * z), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    pairs = (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("id1") < F.col("id2"))
        .select(
            (dot_expr("av", "bv") / (F.col("an") * F.col("bn"))).alias(
                "cos_orig"
            ),
            (proj_dot / (F.col("apn") * F.col("bpn"))).alias("cos_proj"),
        )
        .select(F.abs(F.col("cos_proj") - F.col("cos_orig")).alias("err"))
    )
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    for e in _JL_ERR_EDGES:
        tag = str(e).replace("0.", "").ljust(3, "0")
        aggs.append(
            F.sum(F.when(F.col("err") <= F.lit(e), 1).otherwise(0)).alias(
                f"pairs_err_le_{tag}"
            )
        )
    aggs.append(F.max("err").alias("max_abs_err"))
    return pairs.agg(*aggs)


def _jl_proj_sql(w: list[float]) -> str:
    return " + ".join(
        f"CAST(embedding[{d + 1}] AS DOUBLE) * ({w[d]!r})" for d in range(DIMS)
    )


def _jl_sql() -> str:
    ws = _jl_weights()
    proj_cols = ",\n        ".join(
        f"({_jl_proj_sql(w)}) AS y{j}" for j, w in enumerate(ws)
    )
    pn = " + ".join(f"(y{j} * y{j})" for j in range(_JL_M))
    proj_dot = " + ".join(f"(a.y{j} * b.y{j})" for j in range(_JL_M))
    bucket_aggs = ",\n  ".join(
        f"CAST(sum(CASE WHEN err <= {e!r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS pairs_err_le_{str(e).replace('0.', '').ljust(3, '0')}"
        for e in _JL_ERR_EDGES
    )
    return f"""
WITH s0 AS (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % {_JL_SAMPLE_MOD} = {_JL_SAMPLE_RES}
              AND vec_id < {_JL_SAMPLE_CAP}
              AND len(embedding) = {DIMS}),
p AS (SELECT vec_id, embedding,
        {_duck_norm('embedding')} AS vn,
        {proj_cols}
      FROM s0),
p2 AS (SELECT *, sqrt({pn}) AS pn FROM p WHERE vn > 0),
p3 AS (SELECT * FROM p2 WHERE pn > 0),
pairs AS (SELECT
            ({_duck_dot('a.embedding', 'b.embedding')} / (a.vn * b.vn))
              AS cos_orig,
            (({proj_dot}) / (a.pn * b.pn)) AS cos_proj
          FROM p3 a JOIN p3 b ON a.vec_id < b.vec_id),
e AS (SELECT abs(cos_proj - cos_orig) AS err FROM pairs)
SELECT count(*) AS n_pairs,
  {bucket_aggs},
  max(err) AS max_abs_err
FROM e
"""


QUERIES = {
    "hard_negative_mining": q_hard_negative_mining,
    "emb_jl_distortion": q_emb_jl_distortion,
}

ORACLE = {
    "hard_negative_mining": _HARD_NEG_SQL,
    "emb_jl_distortion": _jl_sql(),
}

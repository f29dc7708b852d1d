"""Corpus-pipeline operators, wave 4 (north-star extension): dedup
clustering (connected components), train/eval contamination detection,
embedding normalization + int8 quantization, a KMV distinct-count sketch,
and PII-style masking.

These close the gap between "find near-dup PAIRS" (queries/dedup.py) and
what a production corpus pipeline actually ships: cluster the pairs and
keep one representative; prove the eval split shares no n-grams with
training data; compress embeddings for the ANN index; estimate cardinality
without a COUNT(DISTINCT) shuffle of the raw keys; scrub sensitive spans.

Cross-engine exactness follows the house rules: md5-based portable hashes
(functions/portable_hash.py) for anything randomized; sequential left-fold
float math mirrored between Spark ``aggregate`` and DuckDB ``list_reduce``;
integer arithmetic bounded below 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import track_persist
from data_engineer_development_spark.functions.portable_hash import (
    duck_md5_int,
    spark_md5_int,
)
from data_engineer_development_spark.operators import dedup as D
from data_engineer_development_spark.operators import inference
from data_engineer_development_spark.operators.graph import (
    connected_components,
)
from data_engineer_development_spark.operators.text import shingles_expr
from data_engineer_development_spark.queries.dedup import (
    JACCARD_TAU,
    _docs_with_shingles,
    duck_jaccard_pairs_cte,
)
from data_engineer_development_spark.sources import load_table


# --------------------------------------------------------------------------
# Dedup clusters: connected components over VERIFIED near-dup pairs (the
# Jaccard-τ pairs of queries/dedup.py — real pipelines cluster verified
# duplicates, not raw sketch candidates). Spark: iterative min-label
# propagation with pointer jumping (operators/graph.py) — per round one
# node-keyed equi-join + min-agg, O(log diameter) rounds. Oracle:
# recursive-CTE transitive closure over the SAME pair SQL — exponential in
# DuckDB but exact at test scale; the Spark path is the one that scales.
# --------------------------------------------------------------------------
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    pairs = D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU)
    return connected_components(
        docs.select("doc_id"), pairs, "doc_id", "id1", "id2"
    ).orderBy("doc_id")


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {duck_jaccard_pairs_cte()},
e AS (SELECT id1 AS a, id2 AS b FROM vp UNION ALL SELECT id2, id1 FROM vp),
reach(node, m) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, r.m FROM e JOIN reach r ON r.node = e.b
)
SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Cleaned-corpus emission: the terminal dedup step — keep exactly ONE
# representative per near-dup cluster (the min doc_id, i.e. the node whose
# cluster label is itself; singletons keep themselves) and return the
# surviving corpus with its metadata. This is what a corpus user actually
# ships to training: clusters in, deduped documents out. One extra
# doc_id-keyed join over the cluster labels — nothing beyond the
# dedup_clusters cost.
# --------------------------------------------------------------------------
def q_dedup_cleaned_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = q_dedup_clusters(spark, sf_dir)
    kept = labels.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    return (
        docs.join(kept, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


_DEDUP_CLEANED_SQL = f"""
WITH RECURSIVE {duck_jaccard_pairs_cte()},
e AS (SELECT id1 AS a, id2 AS b FROM vp UNION ALL SELECT id2, id1 FROM vp),
reach(node, m) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, r.m FROM e JOIN reach r ON r.node = e.b
),
lab AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN lab ON d.doc_id = lab.doc_id
WHERE lab.doc_id = lab.cluster_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Contamination check: does any eval-split document share a 5-gram with the
# train split? Splits are deterministic (md5 parity on doc_id). Shape:
# exploded postings, DISTINCT train-shingle set, one equi-join — the same
# posting-list plan as Jaccard dedup, so the 100 TB notes there apply (hot
# shingles are the skew risk; the train set is a semi-join build side).
# --------------------------------------------------------------------------
_CONTAM_K = 5


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    # The shingled frame feeds three branches (train postings, eval
    # postings, eval doc list) — persist it so the 5-gram transform runs
    # once, not three times. Tiny next to the corpus: ids + shingle lists.
    d = docs.withColumn(
        "side",
        F.expr(f"{spark_md5_int('cast(doc_id as string)')} % 2"),
    ).withColumn("sh", shingles_expr("t", k=_CONTAM_K))
    d = track_persist(d)
    posts = d.select("doc_id", "side", F.explode("sh").alias("sg"))
    train = posts.filter(F.col("side") == 0).select("sg").distinct()
    shared = (
        posts.filter(F.col("side") == 1)
        .join(train, "sg")
        .groupBy("doc_id")
        .agg(F.countDistinct("sg").alias("n_shared"))
    )
    ev = d.filter(F.col("side") == 1).select(
        "doc_id", F.size("sh").alias("n_shingles")
    )
    return (
        ev.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_shared", F.lit(0).cast("bigint")).alias("n_shared"),
            F.when(F.coalesce("n_shared", F.lit(0)) > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_CONTAM_IDX = ", ".join(f"t[i+{j}]" for j in range(_CONTAM_K))
_CONTAMINATION_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
                  {duck_md5_int('CAST(doc_id AS VARCHAR)')} % 2 AS side
           FROM documents),
s AS (SELECT doc_id, side,
             list_distinct(list_transform(
                 generate_series(1, len(t) - {_CONTAM_K - 1}),
                 i -> concat_ws(' ', {_CONTAM_IDX.replace('t[i+0]', 't[i]')})))
             AS sh
      FROM d),
p AS (SELECT doc_id, side, unnest(sh) AS sg FROM s),
tr AS (SELECT DISTINCT sg FROM p WHERE side = 0),
shared AS (SELECT p.doc_id, count(DISTINCT p.sg) AS n_shared
           FROM p JOIN tr ON p.sg = tr.sg WHERE p.side = 1
           GROUP BY p.doc_id)
SELECT s.doc_id, CAST(len(sh) AS INT) AS n_shingles,
       CAST(COALESCE(shared.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(CASE WHEN COALESCE(shared.n_shared, 0) > 0 THEN 1 ELSE 0 END
            AS INT) AS contaminated
FROM s LEFT JOIN shared ON s.doc_id = shared.doc_id
WHERE s.side = 1 ORDER BY s.doc_id
"""


# --------------------------------------------------------------------------
# Span-level decontamination — STAGED for r14+ registration: the surgical
# step AFTER contamination_check flags overlap. Dropping a whole train
# document for one shared 5-gram throws away good text; production
# decontamination removes only the contaminated SPANS (the FineWeb /
# benchmark-decontam practice). Every train-side token covered by any
# 5-gram that also appears in the eval split is deleted; the document is
# re-emitted with the survivors in order. One row per CONTAMINATED train
# doc: token counts before/after and the cleaned text itself (string
# equality is the cross-engine check — no structural summary can fake it).
#
# Scale shape: the eval gram set is a DISTINCT build side (semi-join
# scale, same as contamination_check); train positions explode to one row
# per token position (the posting-list cardinality the dedup family
# already shuffles); the hit→span expansion and the index-filtered
# rebuild are ARRAY-NATIVE per-doc expressions (collect_set of hit
# positions is bounded by document length — no corpus-sized state, no
# Python UDF anywhere). Shuffles: one gram equi-join + one doc_id agg.
# --------------------------------------------------------------------------
def q_decontam_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = _CONTAM_K
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).withColumn(
        "side",
        F.expr(f"{spark_md5_int('cast(doc_id as string)')} % 2"),
    )
    d = track_persist(docs)  # eval-gram branch + two train branches
    ev_grams = (
        d.filter(F.col("side") == 1)
        .select(F.explode(shingles_expr("t", k=K)).alias("sg"))
        .distinct()
    )
    tr = d.filter(F.col("side") == 0)
    parts = ", ".join(f"element_at(t, i + {j})" for j in range(K))
    tpos = tr.select(
        "doc_id",
        F.explode(
            F.expr(
                f"if(size(t) < {K}, "
                f"array(), "
                f"transform(sequence(1, size(t) - {K - 1}), "
                f"i -> struct(i AS pos, concat_ws(' ', {parts}) AS sg)))"
            )
        ).alias("ps"),
    ).select("doc_id", F.col("ps.pos").alias("pos"), F.col("ps.sg").alias("sg"))
    hits = tpos.join(ev_grams, "sg").select("doc_id", "pos")
    cov = hits.groupBy("doc_id").agg(F.collect_set("pos").alias("hp"))
    return (
        tr.join(cov, "doc_id")  # inner: only contaminated docs survive
        .withColumn(
            "covered",
            F.expr(
                f"array_distinct(flatten(transform(hp, "
                f"p -> sequence(p, p + {K - 1}))))"
            ),
        )
        .select(
            "doc_id",
            F.size("t").cast("int").alias("n_tokens"),
            F.size("covered").cast("int").alias("n_removed"),
            F.expr(
                "concat_ws(' ', filter(t, "
                "(x, i) -> NOT array_contains(covered, i + 1)))"
            ).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


_DECON_IDX = _CONTAM_IDX.replace("t[i+0]", "t[i]")  # same grams as the
#                              contamination oracle, by construction
_DECONTAM_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
                  {duck_md5_int('CAST(doc_id AS VARCHAR)')} % 2 AS side
           FROM documents),
eg AS (SELECT DISTINCT concat_ws(' ', {_DECON_IDX}) AS sg
       FROM d, unnest(generate_series(1, len(t) - {_CONTAM_K - 1})) AS u(i)
       WHERE side = 1 AND len(t) >= {_CONTAM_K}),
tp AS (SELECT doc_id, i AS pos, concat_ws(' ', {_DECON_IDX}) AS sg
       FROM d, unnest(generate_series(1, len(t) - {_CONTAM_K - 1})) AS u(i)
       WHERE side = 0 AND len(t) >= {_CONTAM_K}),
hits AS (SELECT tp.doc_id, tp.pos FROM tp JOIN eg USING (sg)),
cp AS (SELECT DISTINCT doc_id, pos + j AS c
       FROM hits, unnest(generate_series(0, {_CONTAM_K - 1})) AS g(j)),
cl AS (SELECT doc_id, list(c) AS cov, CAST(COUNT(*) AS INT) AS n_removed
       FROM cp GROUP BY doc_id)
SELECT d.doc_id, CAST(len(d.t) AS INT) AS n_tokens, cl.n_removed,
       COALESCE(array_to_string(
           list_filter(d.t, (x, i) -> NOT list_contains(cl.cov, i)), ' '),
           '') AS cleaned_text
FROM d JOIN cl ON cl.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Embedding L2 norm + int8 quantization (max-abs scaling). Pure projection
# — no shuffle, runs at scan speed over any corpus size. The quantized
# vector is serialized to a CSV string (the driver hashes scalar cells).
# Rounding is floor(x + 0.5) — identical IEEE ops in both engines (CAST
# double→int truncates in Spark but rounds in DuckDB, so neither is used).
# --------------------------------------------------------------------------
def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn(
            "mx",
            F.expr(
                "aggregate(transform(embedding, x -> abs(cast(x as double))),"
                " cast(0.0 as double), (a, x) -> greatest(a, x))"
            ),
        )
        .select(
            "vec_id",
            F.expr(
                "sqrt(aggregate(transform(embedding,"
                " x -> cast(x as double) * cast(x as double)),"
                " cast(0.0 as double), (a, x) -> a + x))"
            ).alias("l2_norm"),
            F.expr(
                "concat_ws(',', transform(embedding, x -> cast(cast("
                "if(mx = 0.0d, 0.0d,"
                " floor(cast(x as double) * 127.0d / mx + 0.5d))"
                " as bigint) as string)))"
            ).alias("qvec_int8"),
        )
        .orderBy("vec_id")
    )


_EMB_QUANTIZE_SQL = """
WITH m AS (SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                      (a, v) -> greatest(a, v)) AS mx
           FROM embeddings)
SELECT vec_id,
       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
            (a, v) -> a + v)) AS l2_norm,
       array_to_string(list_transform(embedding, x -> CAST(CAST(
           CASE WHEN mx = 0.0 THEN 0.0
                ELSE floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) END
           AS BIGINT) AS VARCHAR)), ',') AS qvec_int8
FROM m ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Dominant embedding direction — STAGED for r14+ registration: the top
# eigenvector of the quantized second-moment (Gram) matrix by POWER
# ITERATION, in the supplier_pagerank integer style (scaled-BIGINT
# truncating arithmetic, fixed rounds, unrolled-CTE oracle) so an
# iterative linear-algebra result is order-independent and
# hash-comparable. This is the embedding-diagnostics dial: a dominant
# direction explaining most second-moment mass signals anisotropy the
# ANN/semdedup distance metrics inherit (the "whiten before indexing"
# check). Vectors quantize exactly as emb_quantize (max-abs int8);
# S[i,j] = Σ_v q_i·q_j is an exact BIGINT Gram; v ← S·v with
# max-abs renormalization to ±SCALE, _PI_ROUNDS fixed rounds from the
# all-ones start; negatives use sign·(abs DIV m) so Spark's truncating
# div and DuckDB's flooring // agree.
#
# Scale shape: ONE corpus-scale stage — the vec_id equi-self-join of the
# (vec, dim, q) postings whose output streams straight into the (i, j)
# partial aggregate (each map task emits ≤ d² = 4096 cells regardless of
# corpus size). Everything after is control-plane: d²-row Gram × d-row
# broadcast vector joins, no collect anywhere. Overflow audited:
# |S| ≤ N·127², |w| ≤ d·|S|·SCALE < 2⁶³ for N up to ~10⁹ rows at
# d = 64, and the reported Rayleigh readout is PRE-DIVIDED to milli
# units (λ1·1000 ≤ d·N·127²·1000 stays in BIGINT to N ≈ 8·10¹²) —
# emitting the raw vᵀSv numerator instead would overflow int64 already
# at N ≈ 1.4·10⁵ (review r13 finding). Past those bounds drop SCALE or
# shard dims.
# --------------------------------------------------------------------------
_PI_SCALE = 1024
_PI_ROUNDS = 8  # λ2/λ1 ≈ 0.963 on the near-isotropic fixture: 8 rounds
#                reach Rayleigh/λ1 ≈ 0.958 (measured; 3 → 0.80, 12 → 0.98)


def q_emb_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.withColumn(
            "mx",
            F.expr(
                "aggregate(transform(embedding, x -> abs(cast(x as double))),"
                " cast(0.0 as double), (a, x) -> greatest(a, x))"
            ),
        )
        .select(
            "vec_id",
            F.posexplode(
                F.expr(
                    "transform(embedding, x -> cast(if(mx = 0.0d, 0.0d,"
                    " floor(cast(x as double) * 127.0d / mx + 0.5d))"
                    " as bigint))"
                )
            ).alias("p", "qv"),
        )
        .select("vec_id", (F.col("p") + 1).alias("i"), "qv")
    )
    g = (
        q.alias("a")
        .join(q.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).alias("s"))
    )
    # ONE corpus-scale stage (the Gram pass), then a BOUNDED control-plane
    # collect: ≤ d² = 4096 cells regardless of corpus size — the Lloyd /
    # BPE driver-round-trip shape. The iteration state is d rows; running
    # it as per-round Spark jobs costs a checkpoint + broadcast round-trip
    # per round for zero parallelism (measured 29 s vs <1 s driver-side at
    # sf0.01), and chaining it lazily doubles the logical plan per round
    # (2^R Gram copies — a planner hang at R = 8). Python ints are
    # arbitrary-precision, so the arithmetic is exactly the spec.
    cells = g.collect()
    schema = "dim int, v long, eig_scale long, rayleigh_milli long"
    if not cells:  # empty input: empty result, like every other query
        return spark.createDataFrame([], schema)
    dims = sorted({r["i"] for r in cells})
    S = {(r["i"], r["j"]): int(r["s"]) for r in cells}
    v = {i: _PI_SCALE for i in dims}
    m = 0
    for _ in range(_PI_ROUNDS):
        w = {
            i: sum(S.get((i, j), 0) * v[j] for j in dims) for i in dims
        }
        m = max(abs(x) for x in w.values())
        v = {
            i: (1 if w[i] >= 0 else -1) * ((abs(w[i]) * _PI_SCALE) // m)
            if m
            else _PI_SCALE
            for i in dims
        }
    wf = {i: sum(S.get((i, j), 0) * v[j] for j in dims) for i in dims}
    # Rayleigh quotient in MILLI units: (vᵀSv · 1000) div vᵀv. The raw
    # numerator vᵀSv ≈ λ1·vᵀv blows past int64 at ~1.4e5 vectors; the
    # pre-divided readout is bounded by λ1·1000 (python ints are exact
    # throughout, the division is the only rounding).
    ray_num = sum(v[i] * wf[i] for i in dims)
    ray_den = sum(v[i] * v[i] for i in dims)
    rayleigh_milli = (ray_num * 1000) // ray_den if ray_den else 0
    rows = [(i, v[i], m, rayleigh_milli) for i in dims]
    return spark.createDataFrame(rows, schema).orderBy("dim")


def _emb_top_direction_sql() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _PI_ROUNDS + 1):
        rounds.append(f"""
w{r} AS MATERIALIZED (SELECT g.i AS dim, SUM(g.s * {prev}.v) AS w
         FROM g JOIN {prev} ON {prev}.dim = g.j GROUP BY g.i),
m{r} AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w{r}),
v{r} AS MATERIALIZED (SELECT dim,
                CASE WHEN m = 0 THEN CAST({_PI_SCALE} AS BIGINT)
                     ELSE CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END)
                          * ((ABS(w) * {_PI_SCALE}) // m) AS BIGINT) END AS v
         FROM w{r}, m{r})""")
        prev = f"v{r}"
    return f"""
WITH mm AS (SELECT vec_id, embedding,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))),
                       (a, v) -> greatest(a, v)) AS mx
            FROM embeddings),
q AS MATERIALIZED (SELECT vec_id, i,
             CAST(CASE WHEN mx = 0.0 THEN 0.0
                       ELSE floor(CAST(embedding[i] AS DOUBLE) * 127.0 / mx
                                  + 0.5) END AS BIGINT) AS qv
      FROM mm, unnest(generate_series(1, len(embedding))) AS u(i)),
g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS s
      FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
v0 AS MATERIALIZED (SELECT DISTINCT i AS dim, CAST({_PI_SCALE} AS BIGINT) AS v FROM g),
{','.join(rounds)},
wf AS (SELECT g.i AS dim, SUM(g.s * vR.v) AS wf
       FROM g JOIN v{_PI_ROUNDS} vR ON vR.dim = g.j GROUP BY g.i),
ray AS (SELECT (SUM(vR.v * wf.wf) * 1000) // SUM(vR.v * vR.v)
            AS rayleigh_milli
        FROM wf JOIN v{_PI_ROUNDS} vR ON vR.dim = wf.dim)
SELECT CAST(vR.dim AS INT) AS dim,
       CAST(vR.v AS BIGINT) AS v,
       CAST(m{_PI_ROUNDS}.m AS BIGINT) AS eig_scale,
       CAST(ray.rayleigh_milli AS BIGINT) AS rayleigh_milli
FROM v{_PI_ROUNDS} vR, m{_PI_ROUNDS}, ray ORDER BY dim
"""


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch: estimate |distinct custkey|
# per order status from the 16 smallest portable hashes. At 100 TB the
# shuffle carries at most k rows per group (after per-partition partial
# top-k) instead of every distinct key — the classic sketch trade. The
# estimator (k-1) * 2^60 / h_k runs in double with identical IEEE steps in
# both engines. exact_distinct rides along to show the sketch's accuracy.
# --------------------------------------------------------------------------
_KMV_K = 16


def q_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dh = o.select(
        "o_orderstatus",
        F.expr(spark_md5_int("cast(o_custkey as string)")).alias("h"),
    ).distinct()
    w = Window.partitionBy("o_orderstatus").orderBy("h")
    kmin = (
        dh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("o_orderstatus")
        .agg(F.max("h").alias("hk"))
    )
    nd = dh.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est = F.when(
        F.col("exact_distinct") >= _KMV_K,
        F.floor(
            F.lit(float(_KMV_K - 1))
            * F.lit(float(1 << 60))
            / F.col("hk").cast("double")
        ),
    ).otherwise(F.col("exact_distinct"))
    return (
        nd.join(kmin, "o_orderstatus")
        .select(
            "o_orderstatus",
            "hk",
            est.cast("bigint").alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("o_orderstatus")
    )


_DISTINCT_KMV_SQL = f"""
WITH dh AS (SELECT DISTINCT o_orderstatus,
                   {duck_md5_int('CAST(o_custkey AS VARCHAR)')} AS h
            FROM orders),
r AS (SELECT o_orderstatus, h,
             row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rk
      FROM dh),
k AS (SELECT o_orderstatus, MAX(h) AS hk FROM r WHERE rk <= {_KMV_K}
      GROUP BY o_orderstatus),
n AS (SELECT o_orderstatus, COUNT(*) AS exact_distinct FROM dh
      GROUP BY o_orderstatus)
SELECT n.o_orderstatus, k.hk,
       CAST(CASE WHEN n.exact_distinct >= {_KMV_K}
                 THEN floor({float(_KMV_K - 1)} * {float(1 << 60)}
                            / CAST(k.hk AS DOUBLE))
                 ELSE CAST(n.exact_distinct AS DOUBLE) END
            AS BIGINT) AS est_distinct,
       n.exact_distinct
FROM n JOIN k ON n.o_orderstatus = k.o_orderstatus
ORDER BY n.o_orderstatus
"""


# --------------------------------------------------------------------------
# MERGEABLE KMV: the sketch state (the ≤k smallest distinct hashes per
# group) is a proper commutative monoid — merge = union ∪ re-top-k. The
# query computes the state INDEPENDENTLY on two disjoint date slices,
# merges the two partial states, and estimates from the merged state; the
# oracle estimates from a single full pass. Equality proves the merge is
# lossless — the property that lets 1000 executors sketch 100 TB with
# k-row partials and a k-row shuffle per group (incremental_agg's pattern,
# applied to an order-statistic sketch where plain SUM doesn't exist).
# --------------------------------------------------------------------------
_KMV_MERGE_CUT = "1999-01-01"


def _kmv_state(dh: DataFrame, k: int) -> DataFrame:
    """KMV partial state: ≤k smallest (already-distinct) hashes per group."""
    w = Window.partitionBy("o_orderstatus").orderBy("h")
    return (
        dh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def q_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = F.expr(spark_md5_int("cast(o_custkey as string)")).alias("h")

    base = (
        o.filter(F.col("o_orderdate") < _KMV_MERGE_CUT)
        .select("o_orderstatus", h)
        .distinct()
    )
    delta = (
        o.filter(F.col("o_orderdate") >= _KMV_MERGE_CUT)
        .select("o_orderstatus", h)
        .distinct()
    )
    # two independent partial states → merge: union (dedup: the same
    # custkey can appear in both slices) → re-top-k
    merged = _kmv_state(
        _kmv_state(base, _KMV_K)
        .unionByName(_kmv_state(delta, _KMV_K))
        .distinct(),
        _KMV_K,
    )
    agg = merged.groupBy("o_orderstatus").agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).alias("n_state")
    )
    est = F.when(
        F.col("n_state") >= _KMV_K,
        F.floor(
            F.lit(float(_KMV_K - 1))
            * F.lit(float(1 << 60))
            / F.col("hk").cast("double")
        ),
    ).otherwise(F.col("n_state"))
    return agg.select(
        "o_orderstatus", est.cast("bigint").alias("est_distinct")
    ).orderBy("o_orderstatus")


# full single-pass recompute: matching it proves the two-slice state merge
# loses nothing
_KMV_MERGE_SQL = f"""
WITH dh AS (SELECT DISTINCT o_orderstatus,
                   {duck_md5_int('CAST(o_custkey AS VARCHAR)')} AS h
            FROM orders),
r AS (SELECT o_orderstatus, h,
             row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rk
      FROM dh),
k AS (SELECT o_orderstatus, MAX(h) AS hk FROM r WHERE rk <= {_KMV_K}
      GROUP BY o_orderstatus),
n AS (SELECT o_orderstatus, COUNT(*) AS nd FROM dh GROUP BY o_orderstatus)
SELECT n.o_orderstatus,
       CAST(CASE WHEN n.nd >= {_KMV_K}
                 THEN floor({float(_KMV_K - 1)} * {float(1 << 60)}
                            / CAST(k.hk AS DOUBLE))
                 ELSE CAST(n.nd AS DOUBLE) END
            AS BIGINT) AS est_distinct
FROM n JOIN k ON n.o_orderstatus = k.o_orderstatus
ORDER BY n.o_orderstatus
"""


# --------------------------------------------------------------------------
# TF-IDF distinctive terms: the classic corpus-relevance score, posting-list
# shaped — explode to (doc, term), two hash aggregates (tf by doc·term, df
# by term), one term-keyed equi-join, one per-doc top-k window. No log():
# idf is the rational BM25-style ratio (N − df + ½)/(df + ½), so the score
# is one IEEE multiply + divide — bit-identical across engines, where
# ln() implementations would drift ulps. At 100 TB: tf partials collapse
# map-side, the df (vocabulary) side is orders smaller than the corpus, and
# the top-k window shuffles on doc_id — never a cartesian, never a collect.
# --------------------------------------------------------------------------
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    toks = docs.select("doc_id", F.explode("t").alias("term")).filter(
        F.col("term") != ""
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    return (
        top.groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws(',', transform(array_sort("
                "collect_list(struct(rn, term))), x -> x.term))"
            ).alias("top_terms"),
            F.max("score").alias("top_score"),
        )
        .orderBy("doc_id")
    )


_TFIDF_SQL = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
t AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY doc_id, term),
d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
s AS (SELECT t.doc_id, t.term,
             t.tf * (n.n_docs - d.df + 0.5) / (d.df + 0.5) AS score
      FROM t JOIN d USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM s)
SELECT doc_id,
       string_agg(term, ',' ORDER BY rn) AS top_terms,
       MAX(score) AS top_score
FROM r WHERE rn <= 3 GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# PII-style masking: collapse digit runs in the events props JSON (the
# stand-in for phone/account-number scrubbing; the mechanism — a JVM-side
# regexp_replace at scan speed — is what matters). Spark replaces globally
# by default; DuckDB needs the 'g' flag.
# --------------------------------------------------------------------------
def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("props_masked"),
    ).orderBy("event_id")


_PII_MASK_SQL = """
SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS props_masked
FROM events WHERE event_id < 2000 ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Incremental dedup: the "new crawl batch vs existing corpus" operation —
# every new document either keeps or points at the oldest corpus document
# it duplicates. Two passes, cheap first: (1) exact text-hash equi-join,
# (2) bipartite Jaccard posting join (jaccard_cross_pairs) that only
# generates batch×corpus candidates, never corpus×corpus. At 100 TB the
# batch side is small, so both passes shuffle O(|batch|) keys against the
# corpus posting/hash table instead of re-deduping the whole corpus.
# The new batch is the highest-numbered source shards (srcN, N ≥ 15).
# --------------------------------------------------------------------------
_NEW_SRC_MIN = 15


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "srcn", F.regexp_extract("source", "src(\\d+)", 1).cast("int")
    )
    old = docs.filter(F.col("srcn") < _NEW_SRC_MIN)
    new = docs.filter(F.col("srcn") >= _NEW_SRC_MIN)

    exact = (
        new.select("doc_id", F.md5("text").alias("h"))
        .join(old.select(F.col("doc_id").alias("old_id"), F.md5("text").alias("h")), "h")
        .select(F.col("doc_id").alias("id2"), F.col("old_id").alias("id1"))
    )
    near = D.jaccard_cross_pairs(
        _docs_with_shingles(old), _docs_with_shingles(new), "doc_id", "sh",
        JACCARD_TAU,
    ).select("id1", "id2")
    dup_of = (
        exact.unionByName(near)
        .groupBy("id2")
        .agg(F.min("id1").alias("dup_of"))
    )
    return (
        new.select("doc_id")
        .join(dup_of.withColumnRenamed("id2", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
        .orderBy("doc_id")
    )


_DEDUP_INCREMENTAL_SQL = f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS t,
         CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) AS srcn
  FROM documents
),
s AS (SELECT doc_id, srcn,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sh
      FROM d),
po AS (SELECT doc_id, unnest(list_transform(sh, x -> {duck_md5_int('x')})) AS sg,
              len(sh) AS n FROM s WHERE srcn < {_NEW_SRC_MIN}),
pn AS (SELECT doc_id, unnest(list_transform(sh, x -> {duck_md5_int('x')})) AS sg,
              len(sh) AS n FROM s WHERE srcn >= {_NEW_SRC_MIN}),
i AS (SELECT po.doc_id AS id1, pn.doc_id AS id2, count(*) AS c,
             any_value(po.n) AS n1, any_value(pn.n) AS n2
      FROM po JOIN pn ON po.sg = pn.sg GROUP BY po.doc_id, pn.doc_id),
near AS (SELECT id1, id2 FROM i
         WHERE CAST(c AS DOUBLE) / CAST(n1 + n2 - c AS DOUBLE) >= {JACCARD_TAU}),
exact AS (SELECT o.doc_id AS id1, n.doc_id AS id2
          FROM d o JOIN d n ON md5(o.text) = md5(n.text)
          WHERE o.srcn < {_NEW_SRC_MIN} AND n.srcn >= {_NEW_SRC_MIN}),
dup AS (SELECT id2, MIN(id1) AS dup_of
        FROM (SELECT * FROM exact UNION ALL SELECT * FROM near)
        GROUP BY id2)
SELECT d.doc_id, dup.dup_of, dup.dup_of IS NULL AS keep
FROM d LEFT JOIN dup ON d.doc_id = dup.id2
WHERE d.srcn >= {_NEW_SRC_MIN}
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Per-label quantized centroids: the IVF/clustering companion to
# emb_quantize. Each vector is int8-quantized (identical IEEE double steps
# to emb_quantize: floor(x*127/maxabs + 0.5)), then centroids are integer
# sums over the quantized grid divided once at the end — so the cross-row
# aggregation is exact integer math and order-independent, sidestepping the
# float-accumulation-order problem a raw-float centroid would have. Output
# is long-form (label, dim, n_vectors, sum_q, mean_q): one shuffle on
# (label, dim), the partial-aggregate-friendly shape at any scale.
# --------------------------------------------------------------------------
def q_emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "mx",
        F.expr(
            "aggregate(transform(embedding, x -> abs(cast(x as double))),"
            " cast(0.0 as double), (a, x) -> greatest(a, x))"
        ),
    )
    q = emb.select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, x -> cast(if(mx = 0.0d, 0.0d,"
                " floor(cast(x as double) * 127.0d / mx + 0.5d)) as bigint))"
            )
        ).alias("dim", "qv"),
    )
    return (
        q.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("qv").alias("sum_q"),
        )
        .select(
            "label",
            "dim",
            "n_vectors",
            F.col("sum_q").cast("long").alias("sum_q"),
            (F.col("sum_q").cast("double") / F.col("n_vectors")).alias("mean_q"),
        )
        .orderBy("label", "dim")
    )


_EMB_CENTROID_SQL = """
WITH m AS (SELECT label, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                      (a, v) -> greatest(a, v)) AS mx
           FROM embeddings),
q AS (SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(list_transform(embedding, x -> CAST(
                 CASE WHEN mx = 0.0 THEN 0.0
                      ELSE floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) END
                 AS BIGINT))) AS qv
      FROM m)
SELECT label, dim, COUNT(*) AS n_vectors,
       CAST(SUM(qv) AS BIGINT) AS sum_q,
       CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS mean_q
FROM q GROUP BY label, dim ORDER BY label, dim
"""


# --------------------------------------------------------------------------
# Batch model inference (operators/inference.py): every embedding scored by
# a broadcast linear quality classifier — the corpus-filtering stage of an
# LLM data pipeline (fastText/logreg-style quality gate). The model weights
# are a 1-row broadcast DataFrame (how a trained model.parquet would ship),
# the score path is scan → broadcast → project with NO shuffle of the
# corpus, and the dot product runs on the int8-quantized grid in exact
# BIGINT math (same quantizer as emb_quantize) so the score is
# order-independent and hash-comparable. keep = score >= threshold is the
# filter decision a downstream stage would apply.
# --------------------------------------------------------------------------
_MODEL_DIMS = 64
_MODEL_W = inference.deterministic_weights(_MODEL_DIMS)
_MODEL_BIAS = 5
_MODEL_THR = 0


def q_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = inference.linear_score(
        emb, spark, _MODEL_W, bias=_MODEL_BIAS, score_col="score"
    )
    return scored.select(
        "vec_id",
        "label",
        F.col("score").cast("long").alias("score"),
        F.when(F.col("score") >= F.lit(_MODEL_THR), 1)
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    ).orderBy("vec_id")


_MODEL_W_SQL = "[" + ", ".join(str(w) for w in _MODEL_W) + "]"
#: shared scoring CTE chain (quantize → weights → BIGINT dot product) —
#: used verbatim by all inference oracles so they can never drift.
#: Degenerate-embedding parity (ADVICE r8): ``unnest`` of an empty list
#: yields no rows and a length-mismatched SUM would be partial, so the
#: final ``s`` LEFT-JOINs every source row back in and NULLs the score
#: whenever len(embedding) != model dims — exactly linear_score's
#: explicit size-guard semantics on the Spark side. The join key is
#: vec_id ALONE (the row key; label is functionally dependent on it) —
#: a label equality predicate would be NULL-unsafe and silently NULL the
#: score of a NULL-labeled row.
_SCORED_CTE = f"""m AS (SELECT vec_id, label, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                      (a, v) -> greatest(a, v)) AS mx
           FROM embeddings),
q AS (SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(list_transform(embedding, x -> CAST(
                 CASE WHEN mx = 0.0 THEN 0.0
                      ELSE floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) END
                 AS BIGINT))) AS qv
      FROM m),
w AS (SELECT CAST({_MODEL_W_SQL} AS BIGINT[]) AS wv),
sd AS (SELECT vec_id, label,
              CAST(SUM(qv * wv[dim]) + {_MODEL_BIAS} AS BIGINT) AS score
       FROM q, w GROUP BY vec_id, label),
s AS (SELECT m.vec_id, m.label,
             CASE WHEN len(m.embedding) = {_MODEL_DIMS} THEN sd.score
                  ELSE NULL END AS score
      FROM m LEFT JOIN sd ON m.vec_id = sd.vec_id)"""

_QUALITY_MODEL_SQL = f"""
WITH {_SCORED_CTE}
SELECT vec_id, label, score,
       CAST(CASE WHEN score >= {_MODEL_THR} THEN 1 ELSE 0 END AS INT) AS keep
FROM s ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Quality-weighted corpus downsampling: the stage that consumes the model
# score. Documents are banded by score and sampled at a per-band rate
# (keep all high-quality, half of mid, a tenth of low — the
# DCLM/FineWeb-style recipe that shifts the training mix toward quality
# without discarding the tail entirely). Selection is a deterministic
# portable-hash threshold on the id — reproducible across engines and
# runs, no RNG state. Plan shape: the scoring path (scan → 1-row weights
# broadcast → project) plus a pure filter — still NO corpus shuffle; at
# 100 TB this is a single map-side pass whose output lands pre-thinned.
# --------------------------------------------------------------------------
_BAND_HI = 1500
_BAND_LO = -1500
_BAND_RATE = {"high": 100, "mid": 50, "low": 10}  # percent kept


def q_quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = inference.linear_score(
        emb, spark, _MODEL_W, bias=_MODEL_BIAS, score_col="score"
    )
    band = (
        F.when(F.col("score") >= _BAND_HI, F.lit("high"))
        .when(F.col("score") >= _BAND_LO, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    rate = (
        F.when(F.col("band") == "high", F.lit(_BAND_RATE["high"]))
        .when(F.col("band") == "mid", F.lit(_BAND_RATE["mid"]))
        .otherwise(F.lit(_BAND_RATE["low"]))
    )
    bucket = F.expr(spark_md5_int("cast(vec_id as string)")) % 100
    return (
        scored.withColumn("band", band)
        .filter(bucket < rate)
        .select(
            "vec_id", F.col("score").cast("long").alias("score"), "band"
        )
        .orderBy("vec_id")
    )


_QUALITY_SAMPLE_SQL = f"""
WITH {_SCORED_CTE},
b AS (SELECT vec_id, score,
             CASE WHEN score >= {_BAND_HI} THEN 'high'
                  WHEN score >= {_BAND_LO} THEN 'mid'
                  ELSE 'low' END AS band
      FROM s)
SELECT vec_id, score, band FROM b
WHERE {duck_md5_int("CAST(vec_id AS VARCHAR)")} % 100 <
      CASE band WHEN 'high' THEN {_BAND_RATE["high"]}
                WHEN 'mid' THEN {_BAND_RATE["mid"]}
                ELSE {_BAND_RATE["low"]} END
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Streaming quality gate: the same broadcast linear scorer applied at
# INGEST time — score embedding batches as they land and admit only
# above-threshold rows, the "filter the crawl before it ever hits the
# corpus" deployment of the model. The plan is fully stateless
# (stream-scan → static 1-row weights broadcast → project → filter): no
# state store, no watermark, so the admitted set is identical however the
# source splits into micro-batches — which is exactly why the batch filter
# is a valid oracle. At production volume this runs continuously with
# maxFilesPerTrigger pacing; state stays O(1) regardless of stream size.
# --------------------------------------------------------------------------
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
        stream_table,
    )

    emb = stream_table(spark, sf_dir, "embeddings")
    scored = inference.linear_score(
        emb, spark, _MODEL_W, bias=_MODEL_BIAS, score_col="score"
    )
    gated = scored.filter(F.col("score") >= F.lit(_MODEL_THR)).select(
        "vec_id", "label", F.col("score").cast("long").alias("score")
    )
    name = f"q_gate_{_uuid.uuid4().hex[:8]}"
    # stateless → no state partitions to tune and no watermark batch needed
    run_to_memory_sink(
        gated, name, output_mode="append", no_data_batches=False
    )
    return spark.table(name).orderBy("vec_id")


_STREAM_QUALITY_GATE_SQL = f"""
WITH {_SCORED_CTE}
SELECT vec_id, label, score FROM s
WHERE score >= {_MODEL_THR} ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Split-leakage audit — ROUND-13+ REGISTRATION CANDIDATE (staged, r12):
# the eval-hygiene number a pipeline owner reads BEFORE trusting a
# train/held-out split. Assign every document a deterministic md5-parity
# split (the same portable-hash split discipline semdedup_incremental
# uses), then grade the split against the VERIFIED near-dup structure:
#
# - a near-dup PAIR whose sides land in different splits leaks the
#   held-out set into training (the contamination unit eval-decon
#   literature counts);
# - a CLUSTER spanning both splits is the cluster-level view (drop or
#   re-side the whole cluster to fix).
#
# One summary row of exact BIGINT counts + one exact-int IEEE division
# (leaky-pair fraction). Cost = dedup_clusters + one broadcast-side
# split projection + one pair join — the cluster labels and pairs are
# the operators already registered; this entry is their composition.
# Scale: split is a stateless md5 projection; the leak join is pair-keyed.
# --------------------------------------------------------------------------
_DOC_SPLIT_SPARK = f"{spark_md5_int('cast(doc_id as string)')} % 2"


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_raw = load_table(spark, sf_dir, "documents")
    docs = _docs_with_shingles(docs_raw)
    # the verified-pair self-join is the dominant cost of the whole
    # audit and THREE consumers read it (connected_components unions it
    # twice as src/dst, the leak join once more) — persist it so the
    # shingle+posting pipeline runs once (review r12; same discipline as
    # q_contamination_check's shared shingled frame)
    pairs = track_persist(
        D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU).select(
            "id1", "id2"
        )
    )
    labels = connected_components(
        docs_raw.select("doc_id"), pairs, "doc_id", "id1", "id2"
    )
    side = F.expr(_DOC_SPLIT_SPARK).cast("int")
    split = docs_raw.select("doc_id", side.alias("split"))
    clus = (
        labels.join(split, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
        )
    )
    s1 = split.select(F.col("doc_id").alias("id1"), F.col("split").alias("sp1"))
    s2 = split.select(F.col("doc_id").alias("id2"), F.col("split").alias("sp2"))
    pr = pairs.join(s1, "id1").join(s2, "id2")
    z = F.lit(0)
    return clus.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.coalesce(F.sum((F.col("n_docs") > 1).cast("int")), z)
        .cast("long").alias("n_multi_doc_clusters"),
        F.coalesce(F.sum((F.col("n_splits") > 1).cast("int")), z)
        .cast("long").alias("n_leaky_clusters"),
    ).crossJoin(
        pr.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.coalesce(
                F.sum((F.col("sp1") != F.col("sp2")).cast("int")), z
            ).cast("long").alias("n_leaky_pairs"),
        )
    ).select(
        "n_clusters",
        "n_multi_doc_clusters",
        "n_leaky_clusters",
        "n_pairs",
        "n_leaky_pairs",
        (
            F.col("n_leaky_pairs").cast("double")
            / F.expr("nullif(n_pairs, 0)")
        ).alias("leaky_pair_frac"),
    )


def _split_leakage_sql() -> str:
    duck_split = f"CAST({duck_md5_int('CAST(doc_id AS VARCHAR)')} % 2 AS INT)"
    return f"""
WITH RECURSIVE {duck_jaccard_pairs_cte()},
e AS (SELECT id1 AS a, id2 AS b FROM vp UNION ALL SELECT id2, id1 FROM vp),
reach(node, m) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, r.m FROM e JOIN reach r ON r.node = e.b
),
lab AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node),
sp AS (SELECT doc_id, {duck_split} AS split FROM documents),
cl AS (SELECT l.cluster_id, COUNT(*) AS n_docs,
              COUNT(DISTINCT s.split) AS n_splits
       FROM lab l JOIN sp s ON s.doc_id = l.doc_id
       GROUP BY l.cluster_id),
ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
              CAST(COALESCE(SUM(CASE WHEN n_docs > 1 THEN 1 END), 0)
                   AS BIGINT) AS n_multi_doc_clusters,
              CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 END), 0)
                   AS BIGINT) AS n_leaky_clusters
       FROM cl),
pa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(COALESCE(SUM(CASE WHEN a.split <> b.split THEN 1 END), 0)
                   AS BIGINT) AS n_leaky_pairs
       FROM vp JOIN sp a ON a.doc_id = vp.id1
               JOIN sp b ON b.doc_id = vp.id2)
SELECT ca.n_clusters, ca.n_multi_doc_clusters, ca.n_leaky_clusters,
       pa.n_pairs, pa.n_leaky_pairs,
       CAST(pa.n_leaky_pairs AS DOUBLE) / NULLIF(pa.n_pairs, 0)
         AS leaky_pair_frac
FROM ca, pa
"""


# --------------------------------------------------------------------------
# Source-overlap matrix — STAGED for r14 registration: WHICH sources
# duplicate each other, the curation heatmap a corpus owner reads before
# deciding per-source dedup order and crawl budgets (two mirrors of the
# same dump show up as one hot off-diagonal cell; boilerplate within one
# source as a hot diagonal). Verified Jaccard-τ pairs (the registered
# dedup operator) joined to each endpoint's source, counted per UNORDERED
# source pair, normalized by the exact pair-universe size (n_a·n_b cross,
# n_a·(n_a−1)/2 within) — one IEEE division of exact ints per cell.
# Scale: pair generation is the shingle-posting equi-join (never
# corpus×corpus); the matrix agg is |sources|² rows at most.
# --------------------------------------------------------------------------
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_raw = load_table(spark, sf_dir, "documents")
    docs = _docs_with_shingles(docs_raw)
    pairs = D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU).select(
        "id1", "id2"
    )
    src = docs_raw.select("doc_id", "source")
    p = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id1"), F.col("source").alias("sa")
            ),
            "id1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id2"), F.col("source").alias("sb")
            ),
            "id2",
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    cells = p.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    sizes = src.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    out = (
        cells.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_a"), F.col("n").alias("n_a")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"), F.col("n").alias("n_b")
                )
            ),
            "src_b",
        )
        .withColumn(
            "universe",
            F.when(
                F.col("src_a") == F.col("src_b"),
                (F.col("n_a") * (F.col("n_a") - 1) / 2).cast("long"),
            ).otherwise((F.col("n_a") * F.col("n_b")).cast("long")),
        )
    )
    return out.select(
        "src_a",
        "src_b",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_a").cast("long").alias("n_docs_a"),
        F.col("n_b").cast("long").alias("n_docs_b"),
        (F.col("n_pairs").cast("double") / F.col("universe").cast("double"))
        .alias("pair_rate"),
    ).orderBy("src_a", "src_b")


def _source_overlap_sql() -> str:
    return f"""
WITH {duck_jaccard_pairs_cte()},
src AS (SELECT doc_id, source FROM documents),
pp AS (SELECT least(a.source, b.source) AS src_a,
              greatest(a.source, b.source) AS src_b
       FROM vp JOIN src a ON a.doc_id = vp.id1
               JOIN src b ON b.doc_id = vp.id2),
cells AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pp GROUP BY src_a, src_b),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM src
       GROUP BY source)
SELECT c.src_a, c.src_b, c.n_pairs,
       sa.n AS n_docs_a, sb.n AS n_docs_b,
       CAST(c.n_pairs AS DOUBLE) /
         CAST(CASE WHEN c.src_a = c.src_b THEN sa.n * (sa.n - 1) // 2
                   ELSE sa.n * sb.n END AS DOUBLE) AS pair_rate
FROM cells c JOIN sz sa ON sa.source = c.src_a
             JOIN sz sb ON sb.source = c.src_b
ORDER BY c.src_a, c.src_b
"""


# --------------------------------------------------------------------------
# Crawl-batch n-gram novelty — STAGED for r14+ registration: how much NEW
# text does each successive crawl batch add? The marginal-value curve a
# corpus owner reads before paying for the next dump (flat novelty ⇒ the
# crawl is re-fetching what you already have). Batches are contiguous
# doc_id ranges of _NOVELTY_BATCH docs (crawls arrive in id order); a
# 5-gram is NEW in batch b iff no earlier batch contains it, i.e.
# min(batch) over the gram's postings equals b. Exact integer counts, one
# IEEE division per batch row.
#
# Scale shape: one (batch, gram) DISTINCT (map-side combinable — the
# per-doc explode collapses before the shuffle), one gram-keyed min-agg,
# then two |batches|-row aggregates joined. No windows, no collects; the
# gram agg is the same posting-list cardinality the registered dedup
# family already shuffles. doc_id rides in no key, so batch skew is
# bounded by the fixed batch width.
# --------------------------------------------------------------------------
_NOVELTY_BATCH = 125  # docs per crawl batch
_NOVELTY_K = 5


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.expr(f"doc_id div {_NOVELTY_BATCH}").alias("batch"),
        F.split(F.col("text"), " ").alias("t"),
    )
    # the distinct postings feed BOTH the first-seen and per-batch
    # branches — persist so the explode + (batch, gram) shuffle runs once
    # (ids + grams only: bounded next to the corpus). The shingle expr is
    # INLINED into the explode: a projected-alias array feeding a Generate
    # evaluates the higher-order transform on the interpreted path
    # (measured 10× slower at sf0.1 — see BASELINE.md r13 shingle note).
    posts = track_persist(
        docs.select(
            "batch", F.explode(shingles_expr("t", k=_NOVELTY_K)).alias("sg")
        ).distinct()
    )
    first = posts.groupBy("sg").agg(F.min("batch").alias("fb"))
    per_batch = posts.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    new_per_batch = first.groupBy(F.col("fb").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    # LEFT join + coalesce: a batch whose grams ALL appeared earlier has
    # no first-seen row, but novelty = 0.0 is exactly the signal this
    # query exists to surface — an inner join would silently drop the
    # most decision-relevant batch (review r13 finding).
    return (
        per_batch.join(new_per_batch, "batch", "left")
        .select(
            "batch",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            (
                F.coalesce(F.col("n_new"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
        .orderBy("batch")
    )


_NGRAM_NOVELTY_SQL = f"""
WITH d AS (SELECT doc_id // {_NOVELTY_BATCH} AS batch,
                  string_split(text, ' ') AS t
           FROM documents),
g AS (SELECT DISTINCT batch,
             array_to_string(list_slice(t, i, i + {_NOVELTY_K} - 1), ' ')
               AS sg
      FROM d, unnest(generate_series(1, len(t) - {_NOVELTY_K} + 1)) AS u(i)
      WHERE len(t) >= {_NOVELTY_K}),
f AS (SELECT sg, MIN(batch) AS fb FROM g GROUP BY sg),
pb AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g
       GROUP BY batch),
nb AS (SELECT fb AS batch, CAST(COUNT(*) AS BIGINT) AS n_new FROM f
       GROUP BY fb)
SELECT pb.batch, pb.n_grams,
       CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(nb.n_new, 0) AS DOUBLE) / CAST(pb.n_grams AS DOUBLE)
           AS novelty
FROM pb LEFT JOIN nb ON nb.batch = pb.batch
ORDER BY pb.batch
"""


# --------------------------------------------------------------------------
# Dedup survivorship policy — STAGED for r14+ registration: WHICH document
# survives each near-dup cluster is a curation decision, not a tie-break.
# The registered dedup_cleaned_corpus keeps the min-id representative (the
# only id-stable choice); production pipelines keep the HIGHEST-QUALITY
# member (here: max n_chars, ties to the lower doc_id — the longest copy of
# a mirrored page usually has the least boilerplate stripping damage).
# One row per multi-doc cluster: both representatives, member/char counts,
# and whether the policy actually changed the survivor — the audit a
# curation owner reads before flipping the policy switch.
#
# Scale shape: cluster labels are the registered connected-components
# operator; the per-cluster argmax is ONE map-side-combinable min(struct)
# aggregate — no per-cluster window, no sort task proportional to a
# cluster (struct ordering does the lexicographic (quality, id) compare
# inside the hash agg). Everything downstream of the labels is
# |clusters|-row.
# --------------------------------------------------------------------------
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = q_dedup_clusters(spark, sf_dir)
    m = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    # argmax by (n_chars DESC, doc_id ASC) == min of (-n_chars, doc_id):
    # a single hash-agg struct-min, combinable on the map side.
    agg = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("neg"),
                F.col("doc_id").alias("id"),
            )
        ).alias("best"),
    )
    return (
        agg.filter(F.col("n_members") > 1)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("best.id").cast("long").alias("rep_doc"),
            (-F.col("best.neg")).cast("long").alias("rep_chars"),
            (F.col("total_chars") + F.col("best.neg"))
            .cast("long")
            .alias("dropped_chars"),
            (F.col("best.id") != F.col("cluster_id")).alias("rep_changed"),
        )
        .orderBy("cluster_id")
    )


_DEDUP_SURVIVORSHIP_SQL = f"""
WITH RECURSIVE {duck_jaccard_pairs_cte()},
e AS (SELECT id1 AS a, id2 AS b FROM vp UNION ALL SELECT id2, id1 FROM vp),
reach(node, m) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, r.m FROM e JOIN reach r ON r.node = e.b
),
lab AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node),
mm AS (SELECT l.cluster_id, l.doc_id, d.n_chars,
              ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                 ORDER BY d.n_chars DESC, l.doc_id) AS rn
       FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
agg AS (SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM mm GROUP BY cluster_id)
SELECT a.cluster_id, a.n_members,
       CAST(r.doc_id AS BIGINT) AS rep_doc,
       CAST(r.n_chars AS BIGINT) AS rep_chars,
       CAST(a.total_chars - r.n_chars AS BIGINT) AS dropped_chars,
       r.doc_id <> a.cluster_id AS rep_changed
FROM agg a JOIN mm r ON r.cluster_id = a.cluster_id AND r.rn = 1
WHERE a.n_members > 1
ORDER BY a.cluster_id
"""


QUERIES = {
    "quality_model_score": q_quality_model_score,
    "quality_stratified_sample": q_quality_stratified_sample,
    "stream_quality_gate": q_stream_quality_gate,
    "dedup_clusters": q_dedup_clusters,
    "dedup_cleaned_corpus": q_dedup_cleaned_corpus,
    "dedup_incremental": q_dedup_incremental,
    "emb_centroid_by_label": q_emb_centroid_by_label,
    "contamination_check": q_contamination_check,
    "emb_quantize": q_emb_quantize,
    "distinct_kmv": q_distinct_kmv,
    "kmv_merge": q_kmv_merge,
    "tfidf_top_terms": q_tfidf_top_terms,
    "pii_mask": q_pii_mask,
    "split_leakage_audit": q_split_leakage_audit,
    # registered r14 (staged r13, tri-SF + ANSI-on parity on record)
    "source_overlap_matrix": q_source_overlap_matrix,
    "ngram_novelty": q_ngram_novelty,
    "dedup_survivorship": q_dedup_survivorship,
    "decontam_span_removal": q_decontam_span_removal,
    "emb_top_direction": q_emb_top_direction,
}

ORACLE = {
    "split_leakage_audit": _split_leakage_sql(),
    "source_overlap_matrix": _source_overlap_sql(),
    "ngram_novelty": _NGRAM_NOVELTY_SQL,
    "dedup_survivorship": _DEDUP_SURVIVORSHIP_SQL,
    "decontam_span_removal": _DECONTAM_SQL,
    "emb_top_direction": _emb_top_direction_sql(),
    "quality_model_score": _QUALITY_MODEL_SQL,
    "quality_stratified_sample": _QUALITY_SAMPLE_SQL,
    "stream_quality_gate": _STREAM_QUALITY_GATE_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "dedup_cleaned_corpus": _DEDUP_CLEANED_SQL,
    "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
    "emb_centroid_by_label": _EMB_CENTROID_SQL,
    "contamination_check": _CONTAMINATION_SQL,
    "emb_quantize": _EMB_QUANTIZE_SQL,
    "distinct_kmv": _DISTINCT_KMV_SQL,
    "kmv_merge": _KMV_MERGE_SQL,
    "tfidf_top_terms": _TFIDF_SQL,
    "pii_mask": _PII_MASK_SQL,
}

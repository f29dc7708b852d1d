"""Deduplication queries over the documents table (north-star extension).

Operators live in operators/dedup.py; every oracle below is generated from
the SAME constants (md5 60-bit hash, modulus P, LCG minhash permutations,
band layout) so the gate verifies the sketch arithmetic end-to-end.

Thresholds are tuned to the driver corpus (near-dup pairs are planted:
max 3-shingle Jaccard ≈ 0.989 at sf0.01): tau=0.1 keeps a small,
non-empty verified-pair set at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import track_persist
from data_engineer_development_spark.functions.portable_hash import (
    P,
    duck_md5_int,
    minhash_constants,
)
from data_engineer_development_spark.operators import dedup as D
from data_engineer_development_spark.operators.text import shingles_expr
from data_engineer_development_spark.sources import load_table

NUM_PERM = 16
BANDS = 4
JACCARD_TAU = 0.1
SIMHASH_BITS = 32
#: must stay < SIMHASH_CHUNKS so the chunk equi-join has recall 1 (pigeonhole)
HAMMING_MAX = 3
SIMHASH_CHUNKS = 4


def _docs_with_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, t, sh): the space-split tokens and distinct 3-shingles of a
    documents frame — the one shingled frame of every lexical dedup query."""
    return docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("t"),
    ).withColumn("sh", shingles_expr("t", k=3))


#: DuckDB dual of tokens + distinct 3-shingles (1-based list indexing).
_DUCK_SHINGLES = """
d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (SELECT doc_id, t,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sh
      FROM d)
"""


def _duck_overlap(key: str) -> str:
    """DuckDB CTEs ``p`` (the postings of CTE ``s`` on join key ``key``)
    and ``i(id1, id2, c, n1, n2)`` (their self-join pair counts) — the
    oracle dual of operators/dedup._shingle_overlap."""
    return f"""p AS (SELECT doc_id, unnest({key}) AS sg,
             len(sh) AS n FROM s),
i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c,
             any_value(a.n) AS n1, any_value(b.n) AS n2
      FROM p a JOIN p b ON a.sg = b.sg AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)"""


#: postings on the 60-bit md5 shingle key (the Spark join key) and on the
#: shingle text itself (the candidate-verify oracles)
_DUCK_OVERLAP_MD5 = _duck_overlap(f"list_transform(sh, x -> {duck_md5_int('x')})")
_DUCK_OVERLAP_TEXT = _duck_overlap("sh")


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content — the 100 TB workhorse (1 shuffle).
# --------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text_md5", F.md5("text")
    )
    return (
        D.exact_dedup(docs, ["text_md5"], "doc_id")
        .orderBy("representative_id")
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS representative_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY representative_id
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (one shingle-posting equi-join).
# --------------------------------------------------------------------------
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    return D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU).orderBy(
        "id1", "id2"
    )


def duck_jaccard_pairs_cte() -> str:
    """DuckDB CTE chain ending in ``vp(id1, id2, jaccard)`` — the verified
    near-dup pairs. Shared with the clustering oracle
    (queries/corpus_ops.py). Mirrors jaccard_pairs' hashed join keys:
    postings carry the 60-bit md5 int of each shingle, so candidate
    generation AND the narrow-key join are both inside the cross-engine
    check."""
    return f"""{_DUCK_SHINGLES},
{_DUCK_OVERLAP_MD5},
vp AS (SELECT id1, id2,
              CAST(c AS DOUBLE) / CAST(n1 + n2 - c AS DOUBLE) AS jaccard
       FROM i
       WHERE CAST(c AS DOUBLE) / CAST(n1 + n2 - c AS DOUBLE) >= {JACCARD_TAU})"""


_DEDUP_JACCARD_SQL = f"""
WITH {duck_jaccard_pairs_cte()}
SELECT id1, id2, jaccard FROM vp ORDER BY id1, id2
"""


# --------------------------------------------------------------------------
# Max-directional containment pairs: catches subset-duplicates (short doc
# embedded in a long one) that Jaccard structurally under-scores.
# --------------------------------------------------------------------------
CONTAINMENT_TAU = 0.4


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    return D.containment_pairs(
        docs, "doc_id", "sh", CONTAINMENT_TAU
    ).orderBy("id1", "id2")


_DEDUP_CONTAINMENT_SQL = f"""
WITH {_DUCK_SHINGLES},
{_DUCK_OVERLAP_MD5}
SELECT id1, id2,
       CAST(c AS DOUBLE) / CAST(LEAST(n1, n2) AS DOUBLE) AS containment
FROM i
WHERE CAST(c AS DOUBLE) / CAST(LEAST(n1, n2) AS DOUBLE) >= {CONTAINMENT_TAU}
ORDER BY id1, id2
"""


# --------------------------------------------------------------------------
# MinHash signatures (the sketch itself — verifies permutation arithmetic).
# --------------------------------------------------------------------------
def q_dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    return D.minhash_signatures(docs, "doc_id", "sh", NUM_PERM).orderBy(
        "doc_id"
    )


def _minhash_sigs_sql() -> str:
    h = f"({duck_md5_int('x')} % {P})"
    sig_cols = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_constants(NUM_PERM))
    )
    return f"""
WITH {_DUCK_SHINGLES},
hashed AS (SELECT doc_id, list_transform(sh, x -> {h}) AS hs FROM s)
SELECT doc_id, {sig_cols} FROM hashed ORDER BY doc_id
"""


def _exact_jaccard(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Candidate ``pairs`` (id1, id2, …) with the exact shingle-set
    ``jaccard`` of each pair: both endpoints' ``sh`` arrays joined in and
    intersected (``array_intersect`` — distinct-set arithmetic, one IEEE
    division of exact ints).

    A <3-token doc has an EMPTY shingle set: every MinHash sig is NULL, so
    all such docs share band key '0' (concat_ws skips NULLs) and pair up
    as candidates, with NULL signature matches and a 0/0 Jaccard. Such a
    pair has no Jaccard to verify or estimate, so it is dropped here, as
    in the oracles (an explicit WHERE in minhash_est_error's; the verify
    join of dedup_minhash_lsh's only meets pairs sharing a shingle).
    """
    s1 = docs.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    s2 = docs.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .filter((F.size("sh1") > 0) & (F.size("sh2") > 0))
        .withColumn("c", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.size("sh1") + F.size("sh2") - F.col("c")).cast("double"),
        )
    )


# --------------------------------------------------------------------------
# Full MinHash→LSH→verify pipeline: banded candidates, exact-Jaccard check.
# --------------------------------------------------------------------------
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shingle sets feed both the sketch and the verify stage, and signatures
    # feed both sides of the band self-join — persist both tiny intermediates
    # (≪ corpus size) instead of re-running tokenize→shingle→hash per branch.
    #
    # Verification is CANDIDATES-ONLY: the LSH-bounded pair set joins the
    # per-doc shingle arrays twice (id1, id2) and Jaccard comes from
    # array_intersect on the two sets — same distinct-set arithmetic as
    # jaccard_pairs, without the full posting self-join whose cost is what
    # LSH exists to avoid (measured at sf0.1: 8.0 s → verify-only ~1 s; at
    # 100 TB the posting self-join is quadratic in hot-shingle df while
    # candidates stay ~linear in near-dup density).
    docs = track_persist(
        _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    )
    sigs = track_persist(
        D.minhash_signatures(docs, "doc_id", "sh", NUM_PERM)
    )
    cands = D.lsh_candidate_pairs(sigs, "doc_id", NUM_PERM, BANDS)
    return (
        _exact_jaccard(cands, docs)
        .filter(F.col("jaccard") >= JACCARD_TAU)
        .select("id1", "id2", "jaccard")
        .orderBy("id1", "id2")
    )


# --------------------------------------------------------------------------
# MinHash estimator error audit — STAGED for r15 registration: per banded
# LSH candidate pair, the MinHash Jaccard ESTIMATE (matching signature
# slots / NUM_PERM — the quantity the sketch is FOR; lsh_candidate_recall
# grades candidate RECALL, this grades the estimator itself) next to the
# exact shingle-set Jaccard, with the absolute error. All divisions are
# single IEEE ops on exact ints (bit-identical cross-engine); a candidate
# pair sharing a band but zero shingles scores jaccard 0 via the left
# join, not a dropped row. Bounded by the candidate set — the pair work
# LSH already capped.
# --------------------------------------------------------------------------
def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = track_persist(
        _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    )
    sigs = track_persist(
        D.minhash_signatures(docs, "doc_id", "sh", NUM_PERM)
    )
    cands = D.lsh_candidate_pairs(sigs, "doc_id", NUM_PERM, BANDS)
    a = sigs.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(NUM_PERM)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    n_match = None
    for i in range(NUM_PERM):
        t = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        n_match = t if n_match is None else n_match + t
    pairs = cands.join(a, "id1").join(b, "id2").withColumn("n_match", n_match)
    return (
        _exact_jaccard(pairs, docs)
        .withColumn(
            "est_jaccard",
            F.col("n_match").cast("double") / F.lit(float(NUM_PERM)),
        )
        .select(
            "id1",
            "id2",
            "n_match",
            "est_jaccard",
            "jaccard",
            F.abs(F.col("est_jaccard") - F.col("jaccard")).alias("abs_err"),
        )
        .orderBy("id1", "id2")
    )


def _minhash_est_error_sql() -> str:
    match_sum = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
        for i in range(NUM_PERM)
    )
    return f"""
WITH {_DUCK_SHINGLES},
{duck_lsh_cand_cte()},
nm AS (SELECT c.id1, c.id2, CAST({match_sum} AS INT) AS n_match
       FROM cand c JOIN sigs a ON a.doc_id = c.id1
                   JOIN sigs b ON b.doc_id = c.id2
                   JOIN s sa ON sa.doc_id = c.id1
                   JOIN s sb ON sb.doc_id = c.id2
       WHERE len(sa.sh) > 0 AND len(sb.sh) > 0),
{_DUCK_OVERLAP_TEXT},
x AS (SELECT nm.id1, nm.id2, nm.n_match,
             COALESCE(CAST(i.c AS DOUBLE)
                      / CAST(i.n1 + i.n2 - i.c AS DOUBLE), 0.0) AS jaccard
      FROM nm LEFT JOIN i ON i.id1 = nm.id1 AND i.id2 = nm.id2)
SELECT id1, id2, n_match,
       CAST(n_match AS DOUBLE) / {NUM_PERM} AS est_jaccard,
       jaccard,
       ABS(CAST(n_match AS DOUBLE) / {NUM_PERM} - jaccard) AS abs_err
FROM x ORDER BY id1, id2
"""


def duck_lsh_cand_cte() -> str:
    """DuckDB CTE fragment (depends on CTE ``s`` from _DUCK_SHINGLES)
    ending in ``cand(id1, id2)`` — the banded MinHash-LSH candidate pairs.
    Shared by the LSH pipeline oracle and the LSH-quality eval so both
    replay identical sketch/banding arithmetic."""
    rows = NUM_PERM // BANDS
    h = f"({duck_md5_int('x')} % {P})"
    sig_exprs = {
        i: f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P}))"
        for i, (a, b) in enumerate(minhash_constants(NUM_PERM))
    }
    sig_cols = ", ".join(f"{e} AS sig_{i}" for i, e in sig_exprs.items())
    band_keys = ", ".join(
        "concat_ws('_', '%d', %s)"
        % (bi, ", ".join(f"CAST(sig_{bi * rows + r} AS VARCHAR)" for r in range(rows)))
        for bi in range(BANDS)
    )
    return f"""hashed AS (SELECT doc_id, list_transform(sh, x -> {h}) AS hs FROM s),
sigs AS (SELECT doc_id, {sig_cols} FROM hashed),
bands AS (SELECT doc_id, unnest([{band_keys}]) AS bkey FROM sigs),
cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)"""


def _minhash_lsh_sql() -> str:
    return f"""
WITH {_DUCK_SHINGLES},
{duck_lsh_cand_cte()},
{_DUCK_OVERLAP_TEXT},
ver AS (SELECT id1, id2, CAST(c AS DOUBLE) / CAST(n1 + n2 - c AS DOUBLE) AS jaccard
        FROM i WHERE CAST(c AS DOUBLE) / CAST(n1 + n2 - c AS DOUBLE) >= {JACCARD_TAU})
SELECT cand.id1, cand.id2, ver.jaccard
FROM cand JOIN ver ON cand.id1 = ver.id1 AND cand.id2 = ver.id2
ORDER BY cand.id1, cand.id2
"""


# --------------------------------------------------------------------------
# LSH quality eval: candidate recall/precision against exact-Jaccard truth.
# The tuning loop every LSH deployment needs — bands/rows trade recall
# against candidate volume, and this measures BOTH sides of that trade on
# the actual corpus (an S-curve estimate is a model; this is the ground
# truth). One full-outer join of two pair sets, aggregated to one row —
# no collect; at 100 TB the truth side comes from a sampled stratum
# instead of the full posting join, same plan shape.
# --------------------------------------------------------------------------
def q_lsh_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = track_persist(
        _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    )
    truth = D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU).select(
        "id1", "id2", F.lit(1).alias("in_true")
    )
    sigs = D.minhash_signatures(docs, "doc_id", "sh", NUM_PERM)
    cands = D.lsh_candidate_pairs(sigs, "doc_id", NUM_PERM, BANDS).select(
        "id1", "id2", F.lit(1).alias("in_cand")
    )
    both = truth.join(cands, ["id1", "id2"], "full")
    hit = F.when(
        F.col("in_true").isNotNull() & F.col("in_cand").isNotNull(), 1
    ).otherwise(0)
    return both.agg(
        F.sum(F.coalesce("in_true", F.lit(0))).alias("n_true"),
        F.sum(F.coalesce("in_cand", F.lit(0))).alias("n_cand"),
        F.sum(hit).alias("n_hit"),
    ).select(
        "n_true",
        "n_cand",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_true")).alias("recall"),
        (F.col("n_hit").cast("double") / F.col("n_cand")).alias("precision"),
    )


_LSH_RECALL_SQL = f"""
WITH {duck_jaccard_pairs_cte()},
{duck_lsh_cand_cte()},
hit AS (SELECT vp.id1, vp.id2
        FROM vp JOIN cand ON vp.id1 = cand.id1 AND vp.id2 = cand.id2)
SELECT (SELECT COUNT(*) FROM vp) AS n_true,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM vp) AS recall,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM cand) AS "precision"
"""


# --------------------------------------------------------------------------
# SimHash fingerprints + hamming-close pairs.
# --------------------------------------------------------------------------
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    return D.simhash(docs, "doc_id", "t", SIMHASH_BITS).orderBy("doc_id")


def duck_simhash_cte() -> str:
    """DuckDB CTE chain ending in ``sh(doc_id, simhash)`` — shared by the
    simhash queries here and the connected-components clustering oracle
    (queries/corpus_ops.py), so every consumer replays identical sketch
    arithmetic."""
    h = f"({duck_md5_int('x')})"
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, h -> (h // {1 << b}) % 2 = 1)) "
        f"> len(th) THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
hashed AS (SELECT doc_id, list_transform(t, x -> {h}) AS th FROM d),
sh AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hashed)"""


def _simhash_sql() -> str:
    return f"""
WITH {duck_simhash_cte()}
SELECT doc_id, simhash FROM sh ORDER BY doc_id
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    # The 8-byte/doc signature table is vanishingly small next to the corpus
    # (40 KB at sf0.1; ~100 GB per PB of docs) — persist it so the two join
    # sides don't each re-evaluate the 32-bit sketch expression.
    sh = track_persist(D.simhash(docs, "doc_id", "t", SIMHASH_BITS))
    return D.hamming_pairs(
        sh, "doc_id", ["simhash"], HAMMING_MAX, SIMHASH_CHUNKS
    ).orderBy("id1", "id2")


def _simhash_pairs_sql() -> str:
    return f"""
WITH {duck_simhash_cte()}
SELECT a.doc_id AS id1, b.doc_id AS id2, bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
ORDER BY id1, id2
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_containment": q_dedup_containment,
    "lsh_candidate_recall": q_lsh_candidate_recall,
    "dedup_minhash_sigs": q_dedup_minhash_sigs,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    # registered r15 (staged r14, tri-SF + ANSI-on parity on record)
    "minhash_est_error": q_minhash_est_error,
}

ORACLE = {
    "minhash_est_error": _minhash_est_error_sql(),
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_jaccard": _DEDUP_JACCARD_SQL,
    "dedup_containment": _DEDUP_CONTAINMENT_SQL,
    "lsh_candidate_recall": _LSH_RECALL_SQL,
    "dedup_minhash_sigs": _minhash_sigs_sql(),
    "dedup_minhash_lsh": _minhash_lsh_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
}

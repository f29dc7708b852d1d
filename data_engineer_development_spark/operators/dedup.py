"""Deduplication operators for LLM training-data pipelines (north-star
extension, SURVEY.md §7.2 item 5).

Four families, all shuffle-conscious:

- **exact**: hash groupBy on the dedup key — one shuffle, the 100 TB
  workhorse. (The reference's only dedup is SELECT DISTINCT on dim keys,
  export_svg.py:277 etc. — same physical shape.)
- **shingle overlap** (Jaccard, containment; self-join or bipartite):
  one kernel, ``_shingle_overlap`` — shingle-explode + equi-join on the
  md5 shingle key + pair count; each score is one expression over it.
  The join key is the shingle, so hot shingles are the skew risk.
- **MinHash + LSH**: per-doc signature (16 portable permutations of md5
  shingle hashes), banded into 4 keys of 4 rows; candidate pairs meet in a
  band bucket (equi-join on band key — no all-pairs), then exact-Jaccard
  verified. At 100 TB this is the linear-ish near-dup path.
- **hamming-close hashes**: one kernel, ``hamming_pairs`` — the
  pigeonhole chunk equi-join over 32-bit hash words, shared by the 32-bit
  SimHash here (signature build is one projection, no shuffle) and the
  64-bit image aHash of operators/multimodal.py.

Everything is built from md5-based portable hashes (functions/portable_hash)
so the DuckDB oracle replays the EXACT same candidate generation — the
correctness gate covers the sketching math, not just the final filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import track_persist
from data_engineer_development_spark.functions.portable_hash import (
    P,
    minhash_constants,
    spark_md5_int,
)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) + multiplicity per key."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("representative_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingle_overlap(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str,
    shingles_col: str,
) -> DataFrame:
    """``(id1, id2, c, n1, n2)`` for every pair sharing ≥1 shingle: ``c`` =
    |A∩B|, ``n1``/``n2`` = |A|, |B|. The one posting equi-join behind every
    shingle-set scorer below.

    |A∩B| comes from an equi-join of exploded (id, shingle) postings; the
    set sizes ride ALONG the postings as ``size(shingles)`` and come out of
    the pair aggregate as ``first(n)`` — no separate per-doc count branch,
    so the operator is one join plus one aggregate (the plan a warehouse
    engine would pick).

    Each shingle string is replaced with its 60-bit md5 int BEFORE the
    join: the shuffled join key drops from ~25 bytes of text to 8 bytes,
    which at 100 TB is a ~3× cut in shuffle volume for the operator's
    dominant exchange. Distinct shingles stay distinct with probability
    ≈ 1 − k²/2⁶¹; the DuckDB oracle applies the IDENTICAL hash, so the
    comparison is exact.

    ``right is None`` self-joins ``left`` with ``id1 < id2``; its postings
    are persisted so the two join sides don't each re-run
    tokenize→shingle→explode (at cluster scale: materialize the posting
    table). With ``right`` given the join is bipartite — ``id1 ∈ left``,
    ``id2 ∈ right``, within-side pairs never generated — so deduping a
    small new batch against a huge corpus costs |batch postings| ⋈
    |corpus postings| on the shingle key, not the corpus self-join. Ids
    must then be distinct across the two sides.
    """
    key = F.explode(
        F.expr(f"transform({shingles_col}, x -> {spark_md5_int('x')})")
    ).alias("s")

    def posts(df: DataFrame, side: int) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id{side}"),
            key,
            F.size(shingles_col).alias(f"n{side}"),
        )

    if right is None:
        a = track_persist(posts(left, 1))
        b = a.select(F.col("id1").alias("id2"), "s", F.col("n1").alias("n2"))
        pairs = a.join(b, "s").filter(F.col("id1") < F.col("id2"))
    else:
        pairs = posts(left, 1).join(posts(right, 2), "s")
    return pairs.groupBy("id1", "id2").agg(
        F.count(F.lit(1)).alias("c"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )


def _at_least(pairs: DataFrame, name: str, score: Column, tau: float) -> DataFrame:
    """``(id1, id2, name)`` for the overlap pairs whose score ≥ tau. Every
    score is one int/int division in IEEE double, so both engines agree
    exactly."""
    return (
        pairs.withColumn(name, score)
        .filter(F.col(name) >= tau)
        .select("id1", "id2", name)
    )


def _jaccard() -> Column:
    return F.col("c").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("c")
    ).cast("double")


def jaccard_pairs(
    df: DataFrame, id_col: str, shingles_col: str, tau: float
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ tau (one posting self-join)."""
    return _at_least(
        _shingle_overlap(df, None, id_col, shingles_col), "jaccard", _jaccard(), tau
    )


def jaccard_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    shingles_col: str,
    tau: float,
) -> DataFrame:
    """Bipartite near-dup join: ``(id1 ∈ left, id2 ∈ right)`` pairs with
    shingle-set Jaccard ≥ tau ACROSS two corpora — the incremental-dedup
    shape (new crawl batch vs existing corpus); see ``_shingle_overlap``."""
    return _at_least(
        _shingle_overlap(left, right, id_col, shingles_col), "jaccard", _jaccard(), tau
    )


def minhash_signatures(
    df: DataFrame, id_col: str, shingles_col: str, num_perm: int = 16
) -> DataFrame:
    """(id, sig_0..sig_{n-1}): min over shingles of (a_i*h + b_i) mod P,
    h = md5-int of the shingle mod P. Pure projection — no shuffle."""
    h = f"({spark_md5_int('x')} % {P})"
    hashed = df.withColumn(
        "__sh", F.expr(f"transform({shingles_col}, x -> {h})")
    )
    sigs = [
        F.expr(f"array_min(transform(__sh, h -> ({a} * h + {b}) % {P}))").alias(
            f"sig_{i}"
        )
        for i, (a, b) in enumerate(minhash_constants(num_perm))
    ]
    return hashed.select(id_col, *sigs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """Distinct candidate pairs meeting in ≥1 band bucket. Equi-join per
    band on the concatenated row values — never an all-pairs comparison."""
    rows = num_perm // bands
    band_keys = [
        F.concat_ws(
            "_",
            F.lit(str(bi)),
            *[F.col(f"sig_{bi * rows + r}").cast("string") for r in range(rows)],
        ).alias("bkey")
        for bi in range(bands)
    ]
    exploded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_keys)).alias("bkey")
    )
    l = exploded.select(F.col(id_col).alias("id1"), "bkey")
    r = exploded.select(F.col(id_col).alias("id2"), "bkey")
    return (
        l.join(r, "bkey")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    words: list[str],
    max_hamming: int,
    chunks: int,
) -> DataFrame:
    """All pairs ``(id1 < id2, hamming)`` whose hash, the concatenation of
    the 32-bit ``words`` columns (non-negative bigints), differs in ≤
    ``max_hamming`` bits — EXACTLY, without the all-pairs nested-loop join.
    ``["simhash"]`` is a 32-bit SimHash, ``["ahash_lo", "ahash_hi"]`` a
    64-bit aHash.

    Pigeonhole: split the hash into ``chunks`` equal-width bit chunks (each
    inside one word); if two hashes differ in ≤ max_hamming < chunks bits,
    at least one chunk is IDENTICAL. Candidates therefore meet on one
    exploded ``(c, v)`` = (chunk index, chunk value) key in ONE equi-join —
    the band-bucket shape of MinHash LSH, evaluating the hash columns once
    per side — and are bit_count-verified. Recall is 1 by construction; at
    100 TB the chunk keys partition and the verify touches only bucket
    collisions, never a cartesian product.
    """
    if max_hamming >= chunks:
        raise ValueError(
            "hamming_pairs: pigeonhole needs max_hamming < chunks "
            f"(got {max_hamming} >= {chunks})"
        )
    bits = 32 * len(words)
    if chunks < 1 or bits % chunks or 32 % (bits // chunks):
        raise ValueError(
            f"hamming_pairs: {chunks} chunks must split {bits} bits into "
            "equal chunks that each lie inside one 32-bit word"
        )
    width = bits // chunks
    per_word = 32 // width
    keys = ", ".join(
        f"named_struct('c', {c}, 'v', ({words[c // per_word]} div "
        f"{1 << (width * (c % per_word))}) % {1 << width})"
        for c in range(chunks)
    )
    exploded = df.select(
        F.col(id_col), *words, F.explode(F.expr(f"array({keys})")).alias("ck")
    )

    def side(i: int) -> DataFrame:
        return exploded.select(
            F.col(id_col).alias(f"id{i}"),
            *[F.col(w).alias(f"{w}{i}") for w in words],
            "ck",
        )

    hamming = " + ".join(f"bit_count({w}1 ^ {w}2)" for w in words)
    return (
        side(1)
        .join(side(2), "ck")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.expr(hamming).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, tokens_col: str, bits: int = 32) -> DataFrame:
    """Per-doc SimHash: bit b is set iff more than half the tokens have bit b
    set in their 60-bit md5 hash. Single projection, codegen-friendly."""
    h = spark_md5_int("x")
    hashed = df.withColumn("__th", F.expr(f"transform({tokens_col}, x -> {h})"))
    bit_terms = " + ".join(
        f"(case when 2 * size(filter(__th, h -> (h div {1 << b}) % 2 = 1)) "
        f"> size(__th) then {1 << b} else 0 end)"
        for b in range(bits)
    )
    return hashed.select(id_col, F.expr(f"cast({bit_terms} as bigint)").alias("simhash"))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    tau: float,
) -> DataFrame:
    """All pairs with max-directional shingle containment
    ``|A∩B| / min(|A|,|B|) ≥ tau``.

    Containment is the asymmetric complement to Jaccard: a short document
    fully embedded in a long one (quote farms, boilerplate wrappers,
    truncated re-crawls) has containment 1.0 but arbitrarily low Jaccard —
    ``jaccard_pairs`` never flags it. Using min() of the two sizes makes
    the score symmetric over the pair while preserving "smaller side is
    (nearly) a subset" semantics. Same posting self-join as
    ``jaccard_pairs``; at 100 TB a shingle in every document would
    quadratically dominate its pair stream, so ubiquitous boilerplate
    shingles belong in a stop-shingle filter upstream of the join.
    """
    score = F.col("c").cast("double") / F.least("n1", "n2").cast("double")
    return _at_least(
        _shingle_overlap(df, None, id_col, shingles_col), "containment", score, tau
    )

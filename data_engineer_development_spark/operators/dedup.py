"""Deduplication operators for LLM training-data pipelines (north-star
extension, SURVEY.md §7.2 item 5).

Four families, all shuffle-conscious:

- **exact**: hash groupBy on the dedup key — one shuffle, the 100 TB
  workhorse. (The reference's only dedup is SELECT DISTINCT on dim keys,
  export_svg.py:277 etc. — same physical shape.)
- **n-gram Jaccard**: shingle-explode + equi-join on shingle + count ratio.
  The join key is the shingle, so hot shingles are the skew risk: the
  ``max_doc_freq`` cap drops shingles appearing in more than N docs
  (standard posting-list pruning) before the join.
- **MinHash + LSH**: per-doc signature (16 portable permutations of md5
  shingle hashes), banded into 4 keys of 4 rows; candidate pairs meet in a
  band bucket (equi-join on band key — no all-pairs), then exact-Jaccard
  verified. At 100 TB this is the linear-ish near-dup path.
- **SimHash**: 32-bit sign-aggregated fingerprint per doc; hamming-close
  pairs are near-dups. Signature build is one projection, no shuffle.

Everything is built from md5-based portable hashes (functions/portable_hash)
so the DuckDB oracle replays the EXACT same candidate generation — the
correctness gate covers the sketching math, not just the final filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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


def shingle_sets(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exploded (id, shingle) postings, optionally pruning hot shingles
    (skew control for the equi-join at scale)."""
    posts = df.select(id_col, F.explode(shingles_col).alias("s"))
    if max_doc_freq is not None:
        hot = (
            posts.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        posts = posts.join(hot, "s", "left_anti")
    return posts


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    tau: float,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ tau.

    |A∩B| via shingle equi-join; |A|,|B| ride ALONG the exploded postings as
    ``size(shingles)`` and come out of the pair-aggregate as ``first(n)`` —
    no separate per-doc count branch, so the whole operator is one self-join
    plus one aggregate (the plan a warehouse engine would pick). The division
    is int/int in IEEE double so both engines agree exactly.

    Each shingle string is replaced with its 60-bit md5 int BEFORE the
    self-join: the shuffled join key drops from ~25 bytes of text to 8
    bytes, which at 100 TB is a ~3× cut in shuffle volume for the
    operator's dominant exchange. Distinct shingles stay distinct with
    probability ≈ 1 − k²/2⁶¹; the DuckDB oracle applies the IDENTICAL hash,
    so the comparison is exact.

    The exploded postings are cached so the two join sides don't each
    re-run tokenize→shingle→explode; at cluster scale the same role is
    played by materializing the posting table — recomputing the tokenizer
    per consumer is the thing to avoid at 100 TB.
    """
    sh_expr = f"transform({shingles_col}, x -> {spark_md5_int('x')})"
    if max_doc_freq is not None:
        # Pruned mode: set sizes must reflect the pruned sets, so recount.
        posts = shingle_sets(
            df.withColumn("__shk", F.expr(sh_expr)), id_col, "__shk", max_doc_freq
        )
        sizes = posts.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
        posts = posts.join(sizes, id_col)
    else:
        posts = df.select(
            F.col(id_col),
            F.explode(F.expr(sh_expr)).alias("s"),
            F.size(shingles_col).alias("n"),
        )
    posts = track_persist(posts)
    a = posts.select(F.col(id_col).alias("id1"), "s", F.col("n").alias("n1"))
    b = posts.select(F.col(id_col).alias("id2"), "s", F.col("n").alias("n2"))
    inter = (
        a.join(b, "s")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard") >= tau)
        .select("id1", "id2", "jaccard")
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
    shape (new crawl batch vs existing corpus). Ids must be distinct across
    the two sides.

    Same posting-equi-join math as :func:`jaccard_pairs`, but postings are
    built per side and only left×right candidates exist — within-side pairs
    are never generated, so deduping a small new batch against a huge
    corpus costs |batch postings| ⋈ |corpus postings| on the shingle key,
    not the corpus self-join. Same 60-bit md5 join-key compression and
    exact int/int→double Jaccard as the self-join variant.
    """
    sh_expr = f"transform({shingles_col}, x -> {spark_md5_int('x')})"

    def posts(df: DataFrame, out_id: str, out_n: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.expr(sh_expr)).alias("s"),
            F.size(shingles_col).alias(out_n),
        )

    a = posts(left, "id1", "n1")
    b = posts(right, "id2", "n2")
    inter = (
        a.join(b, "s")
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard") >= tau)
        .select("id1", "id2", "jaccard")
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


def simhash_close_pairs(
    sigs: DataFrame,
    max_hamming: int,
    chunks: int = 4,
    bits: int = 32,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """All pairs with hamming(simhash) ≤ max_hamming — EXACTLY, without the
    all-pairs nested-loop join.

    Pigeonhole: if two ``bits``-bit signatures differ in ≤ max_hamming bits
    and max_hamming < chunks, at least one of the ``chunks`` equal-width bit
    chunks is IDENTICAL — so candidates are the union of ``chunks`` cheap
    equi-joins on a chunk value (shuffle-hash, never cartesian), then
    bit_count-verified. Recall is 1 by construction; at sf0.1 this is 2.7M
    candidate rows instead of 12.5M nested-loop comparisons, and at 100 TB
    it's the only shape that survives (the join keys partition).
    """
    assert max_hamming < chunks, "pigeonhole needs max_hamming < chunks"
    width = bits // chunks
    # One exploded (chunk_idx, chunk_val) key and ONE equi-join — the same
    # band-bucket shape as MinHash LSH. A union of per-chunk self-joins would
    # re-evaluate the (expensive) signature expression once per branch per
    # side; this shape evaluates it once per side.
    keys = ", ".join(
        f"named_struct('c', {c}, 'v', ({sig_col} div {1 << (width * c)}) % {1 << width})"
        for c in range(chunks)
    )
    exploded = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(F.expr(f"array({keys})")).alias("ck")
    )
    a = exploded.select(
        F.col(id_col).alias("id1"), F.col(sig_col).alias("h1"), "ck"
    )
    b = exploded.select(
        F.col(id_col).alias("id2"), F.col(sig_col).alias("h2"), "ck"
    )
    return (
        a.join(b, "ck")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.expr("bit_count(h1 ^ h2)").alias("hamming"))
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
    (nearly) a subset" semantics.

    Same single-posting-equi-join plan as ``jaccard_pairs`` (one exploded
    self-join on the 60-bit md5 shingle key + one pair aggregate); the
    division is int/int in IEEE double so both engines agree exactly. At
    100 TB the same skew note applies: prune ubiquitous boilerplate
    shingles with a doc-frequency cap before the join (see
    ``shingle_sets``'s max_doc_freq) — a shingle in every document would
    otherwise quadratically dominate the pair stream.
    """
    sh_expr = f"transform({shingles_col}, x -> {spark_md5_int('x')})"
    posts = df.select(
        F.col(id_col),
        F.explode(F.expr(sh_expr)).alias("s"),
        F.size(shingles_col).alias("n"),
    )
    posts = track_persist(posts)
    a = posts.select(F.col(id_col).alias("id1"), "s", F.col("n").alias("n1"))
    b = posts.select(F.col(id_col).alias("id2"), "s", F.col("n").alias("n2"))
    inter = (
        a.join(b, "s")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
    )
    return (
        inter.withColumn(
            "containment",
            F.col("c").cast("double")
            / F.least("n1", "n2").cast("double"),
        )
        .filter(F.col("containment") >= tau)
        .select("id1", "id2", "containment")
    )

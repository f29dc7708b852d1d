"""Distributed BPE-merge training (byte-pair-encoding vocabulary learning).

The missing piece of the tokenizer family (``token_count_bpe`` counts with
a fixed pre-tokenizer, ``tokenizer_fertility`` prices languages,
``vocab_coverage`` audits a vocabulary): LEARNING the merge table itself,
distributed. Classic BPE (Sennrich et al. 2016, public algorithm):

1. Word frequencies: one corpus pass with the family's parity-proven
   pre-tokenizer (``regexp_extract_all(lower(text), ...)``) → a
   ``(word, freq)`` table. Everything after runs on DISTINCT WORDS —
   corpus size stops mattering after this single scan+shuffle, the reason
   BPE training scales to 100 TB at all.
2. Per merge round: count adjacent symbol pairs weighted by word freq
   (ALL adjacent occurrences, the classic counting rule), pick the
   argmax under the total order (count DESC, left ASC, right ASC) — a
   bounded ONE-ROW collect, same control-plane shape as Lloyd's
   centroid round-trip — then apply the merge to every word's
   segmentation as a pure projection.
3. Merge application is greedy left-to-right non-overlapping. For a
   pair (a, b) with a ≠ b occurrences cannot overlap; for a = b the
   run-parity rule (merge the 1st, 3rd, … pair start of each maximal
   run) IS the left-to-right greedy, expressed positionally so both
   engines compute it identically — the whole trainer is integer and
   string arithmetic, no IEEE anywhere, so the learned merge table is
   exact across engines by construction.

Oracle portability: every expression here has a byte-equivalent DuckDB
form (see ``queries/extras._bpe_ctes``) — transform/filter/sequence ↔
list_transform/list_filter/generate_series, try_element_at ↔ NULL-safe
list indexing, the same guarded ``greatest(i-1, 1)`` empty-range idiom
(Spark's ``sequence(1, 0)`` DESCENDS where DuckDB's is empty — the guard
plus ``j < i`` makes both empty).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import (
    local_checkpoint_tracked,
    track_persist,
)

#: the family's parity-proven pre-tokenizer (queries/extras.py)
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: checkpoint the evolving segmentation every N merge rounds. Without it
#: round r's argmax re-evaluates all r prior mask/merge projections over
#: the word table (O(k²) recompute) and Catalyst analyzes a k-deep nested
#: lambda chain — fine at k=8, quadratic pain at real vocabulary sizes.
#: The checkpoint must TRUNCATE THE LOGICAL PLAN, not just cache data:
#: persist() alone leaves every prior round's projection in the plan, so
#: analysis/optimization still reprocesses O(k) nodes per round —
#: MEASURED on a 50k-word vocabulary (BASELINE.md r12 K-scaling):
#: persist-only read 2.0 s/round at k=8 but 7.4 s/round at k=128
#: (superlinear, driver-side), while localCheckpoint (eager, lineage-
#: truncating) holds ~1.3-2.0 s/round flat through k=128. Each checkpoint
#: is one vocab-sized materialization to executor storage; a cluster
#: deployment that must survive executor loss swaps in reliable
#: checkpoint() to durable storage — same plan shape.
BPE_PERSIST_EVERY = 8

#: contractual round-count ceiling (VERDICT r11 #3): each merge round is
#: one sequential Spark job, so k_merges IS the trainer's scale term —
#: measured ~0.17–0.19 s/round flat through k=128 (BASELINE.md K-scaling
#: table), i.e. ~6 min at this ceiling. Production vocabularies (30k+)
#: need batched top-M merging (an approximation — see bpe_train's
#: docstring), deliberately not this exact-parity trainer.
BPE_MAX_MERGES = 2048


def _sql_quote(s: str) -> str:
    """Spark SQL string literal. Spark's parser treats backslash as a
    C-style escape inside literals (unlike standard SQL / DuckDB), so
    backslashes must be doubled or the literal is mangled/unterminated.
    Under the DEFAULT pre-tokenizer backslash/quote chars are single-char
    words (no pairs → never a merge symbol), but a CUSTOM ``token_re``
    that admits them inside words routes them straight into the merge
    literals — and ``token_re`` itself is interpolated through this same
    quoting (regexes are made of backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _merged_mask_sql(pa: str, pb: str) -> str:
    """``ms`` boolean array: position i starts a merged pair (1-based;
    run-parity for pa = pb). ``pa``/``pb`` are SQL string literals."""
    return f"""transform(sequence(1, size(syms)), i ->
      i < size(syms) AND element_at(syms, i) = {pa}
      AND try_element_at(syms, i + 1) = {pb}
      AND ({pa} <> {pb} OR
        (i - (coalesce(try_element_at(
                filter(sequence(1, greatest(i - 1, 1)),
                       j -> j < i AND element_at(syms, j) <> {pa}),
                -1), 0) + 1)) % 2 = 0))"""


def _apply_merge_sql(pa: str, pb: str) -> str:
    """New ``syms`` given the mask column ``__ms``."""
    return f"""filter(transform(sequence(1, size(syms)), i ->
      CASE WHEN i > 1 AND element_at(__ms, i - 1) THEN CAST(NULL AS STRING)
           WHEN element_at(__ms, i) THEN {pa} || {pb}
           ELSE element_at(syms, i) END),
      x -> x IS NOT NULL)"""


_PAIRS_SQL = """filter(transform(sequence(1, size(syms)), i ->
      IF(i < size(syms),
         struct(element_at(syms, i) AS a, try_element_at(syms, i + 1) AS b),
         CAST(NULL AS STRUCT<a: STRING, b: STRING>))),
      x -> x IS NOT NULL)"""


def bpe_train(
    docs: DataFrame,
    k_merges: int = 8,
    text_col: str = "text",
    token_re: str = BPE_TOKEN_RE,
    return_segments: bool = False,
):
    """Learn the top ``k_merges`` BPE merges: (rank, lhs, rhs, pair_count).

    Deterministic and engine-exact (see module docstring). The per-round
    driver round-trip is ONE row (the argmax pair); segmentations evolve
    as a chain of projections over the persisted word table. Raises if
    the corpus runs out of pairs before ``k_merges`` (that is a caller
    error at any real scale, not a case to silently truncate).

    SCALE CONTRACT — ``k_merges`` is the scale term, not the corpus
    (VERDICT r11 #3): corpus size stops mattering after the single
    word-frequency scan, but every merge round is one sequential Spark
    job (pair-count + one-row argmax collect over distinct words), so
    the trainer launches exactly ``k_merges`` jobs end to end. MEASURED
    per-round cost is flat-to-declining in k (BASELINE.md r12 K-scaling
    table: 0.43/0.26/0.24 s/round at k=8/64/89 on the sf0.1 fixture and
    1.49/1.40/0.77 s/round at k=8/32/128 on a 50k-word stress
    vocabulary — the ``BPE_PERSIST_EVERY`` ``localCheckpoint`` keeps the
    lineage and the per-round plan constant-depth), so wall time is
    ~linear: k·(job constant + vocab-sized pair count). That bounds the
    SENSIBLE k here to the low thousands (minutes); a production 30k–
    100k-merge vocabulary wants the standard distributed-BPE batching
    trick — accept the top-M NON-CONFLICTING pairs per round (pairs
    sharing no symbol can merge in one pass without changing the greedy
    result ONLY when their counts dominate the interaction terms, which
    is an approximation of classic BPE, not an exact reformulation —
    the reason it is not silently swapped in here: this trainer's
    contract is byte-exact parity with the sequential greedy the oracle
    unrolls). That batched variant exists as ``bpe_train_batched``
    below (its own deterministic spec, mirror-tested; batch_m=1 reduces
    to this trainer exactly); the guard below makes THIS trainer's
    contract loud instead of letting a 50k-merge call schedule 50k jobs.
    """
    if k_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"bpe_train: k_merges={k_merges} exceeds BPE_MAX_MERGES="
            f"{BPE_MAX_MERGES} — each merge is one sequential Spark job "
            "(see docstring); raise the bound deliberately or batch "
            "merges at the call site"
        )
    merges_df, segs = _merge_loop(
        "bpe_train", docs, k_merges, 1, 1, text_col, token_re
    )
    return (merges_df, segs) if return_segments else merges_df


def select_noninteracting(
    cands: list[tuple[str, str, int]], batch_m: int
) -> list[tuple[str, str, int]]:
    """Greedy non-interacting subset of candidate pairs (already in
    (count DESC, lhs, rhs) order): accept a pair iff none of its lhs,
    rhs, or concatenation collides with any symbol or concatenation of
    an already-accepted pair. Non-interaction makes the round's merges
    ORDER-INDEPENDENT — sequential application in any order equals
    simultaneous application — which is what licenses applying them all
    between two pair-count snapshots. (Symbol-disjointness alone is NOT
    enough: accepted ('a','b') and ('ab','c') share no symbol, but the
    first MANUFACTURES 'ab' tokens the second would then consume, so
    order would matter — the concatenation checks close that hole.)
    Driver-side pure function over a bounded candidate list."""
    used: set[str] = set()
    prod: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for a, b, c in cands:
        if len(out) >= batch_m:
            break
        ab = a + b
        if a in used or b in used or ab in used:
            continue
        if a in prod or b in prod or ab in prod:
            continue
        out.append((a, b, c))
        used.update((a, b))
        prod.add(ab)
    return out


def bpe_train_batched(
    docs: DataFrame,
    k_merges: int = 64,
    batch_m: int = 8,
    text_col: str = "text",
    token_re: str = BPE_TOKEN_RE,
    candidate_factor: int = 4,
    return_segments: bool = False,
):
    """Batched BPE training — the production-vocabulary scale path the
    exact trainer's docstring prescribes: per ROUND, one bounded job
    collects the top ``batch_m · candidate_factor`` pairs by (count
    DESC, lhs, rhs), a driver-side greedy (``select_noninteracting``)
    accepts up to ``batch_m`` NON-INTERACTING pairs, and all accepted
    merges apply between two pair-count snapshots. Job count is
    ~``k_merges / batch_m`` instead of ``k_merges`` — a 50k-merge
    vocabulary at batch_m=64 is ~780 sequential jobs, minutes not hours.

    APPROXIMATION CONTRACT (deliberately a separate function, VERDICT
    r11 #3): within a round every accepted pair is scored on the SAME
    count snapshot, so ranks 2..batch_m ignore the count updates rank 1
    would have caused — classic sequential BPE (``bpe_train``) can
    diverge from this from the second accepted pair of any round
    onward. The output is still fully DETERMINISTIC (same corpus →
    same merge table: candidate order is a total order, the greedy is a
    pure function, non-interaction makes within-round application
    order-free), and ``batch_m=1`` reduces EXACTLY to ``bpe_train``
    (one accepted argmax per snapshot — pinned by test). ``pair_count``
    in the output is the round-snapshot count (the number the pair was
    selected on). Raises like ``bpe_train`` if the corpus exhausts
    early; rounds that accept fewer than ``batch_m`` pairs (conflicts)
    still progress, so termination is guaranteed: every round with a
    nonempty candidate list accepts at least its first pair.
    """
    if k_merges > BPE_MAX_MERGES * batch_m:
        raise ValueError(
            f"bpe_train_batched: k_merges={k_merges} exceeds "
            f"BPE_MAX_MERGES*batch_m={BPE_MAX_MERGES * batch_m} "
            "sequential-job-equivalents; raise batch_m"
        )
    merges_df, segs = _merge_loop(
        "bpe_train_batched", docs, k_merges, batch_m, candidate_factor,
        text_col, token_re,
    )
    return (merges_df, segs) if return_segments else merges_df


def _merge_loop(
    name: str,
    docs: DataFrame,
    k_merges: int,
    batch_m: int,
    candidate_factor: int,
    text_col: str,
    token_re: str,
):
    """The merge rounds both trainers run: (merges_df, final segments).
    Per round ONE bounded job collects the top ``want ·
    candidate_factor`` pairs by (count DESC, lhs, rhs), where ``want =
    min(batch_m, merges left)``; ``select_noninteracting`` accepts up to
    ``want`` of them and every accepted merge applies as a projection.
    ``batch_m = candidate_factor = 1`` is the exact sequential trainer:
    a ``limit(1)`` argmax per round. ``name`` prefixes the errors."""
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(
                F.expr(
                    f"regexp_extract_all(lower({text_col}), "
                    f"{_sql_quote(token_re)}, 0)"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    segs = track_persist(
        words.select(
            "w",
            "f",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
    )
    persisted = segs
    ckpt_handles: list = []

    merges: list[tuple[int, str, str, int]] = []
    since_ckpt = 0
    rounds = 0
    while len(merges) < k_merges:
        # the job-count contract is on ROUNDS, not merges: a round only
        # guarantees >= 1 accepted pair, so a conflict-heavy corpus
        # (every top candidate sharing a hot symbol) degrades toward one
        # merge per round — without this check the caller's k_merges
        # guard (which assumes ~batch_m accepts/round) would let exactly the
        # runaway it exists to prevent schedule BPE_MAX_MERGES*batch_m
        # sequential jobs (review r12)
        rounds += 1
        if rounds > BPE_MAX_MERGES:
            raise ValueError(
                f"{name}: round {rounds} exceeds BPE_MAX_MERGES="
                f"{BPE_MAX_MERGES} with only {len(merges)}/{k_merges} "
                "merges accepted — candidate conflicts are degrading the "
                "batch toward sequential; raise candidate_factor/batch_m "
                "or lower k_merges"
            )
        want = min(batch_m, k_merges - len(merges))
        top = (
            segs.select("f", F.explode(F.expr(_PAIRS_SQL)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("f").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(want * candidate_factor)
            .collect()  # bounded: ≤ batch_m·candidate_factor rows/round
        )
        if not top:
            # caller-facing contract (ADVICE r11): a real error, not an
            # assert — under `python -O` the assert strips and the next
            # line would fail far from the cause
            raise ValueError(
                f"{name}: corpus exhausted after {len(merges)} merges"
            )
        accepted = select_noninteracting(
            [(r["a"], r["b"], int(r["c"])) for r in top], want
        )
        for a, b, c in accepted:
            merges.append((len(merges) + 1, a, b, c))
            pa, pb = _sql_quote(a), _sql_quote(b)
            segs = segs.withColumn("__ms", F.expr(_merged_mask_sql(pa, pb)))
            segs = segs.select(
                "w", "f", F.expr(_apply_merge_sql(pa, pb)).alias("syms")
            )
        since_ckpt += len(accepted)
        if since_ckpt >= BPE_PERSIST_EVERY and len(merges) < k_merges:
            # eager + lineage-truncating: the NEXT round's plan starts
            # from a LogicalRDD, not a (k-deep) projection chain — see
            # the BPE_PERSIST_EVERY comment for the measured difference.
            # Tracked (cache.py): the blocks are freed by release_tracked
            # after the consumer drains; the superseded generation frees
            # immediately so long trainings hold ONE vocab copy, not k/8.
            segs, ckpt_handles = local_checkpoint_tracked(
                segs, free=ckpt_handles
            )
            since_ckpt = 0
            if persisted is not None:
                persisted.unpersist()
                persisted = None

    merges_df = spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_count long"
    )
    return merges_df, segs


def bpe_encode_stats(
    docs: DataFrame,
    k_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_re: str = BPE_TOKEN_RE,
) -> DataFrame:
    """Train-then-APPLY: per-document token statistics under the learned
    merge table — (id, n_words, n_chars_tok, n_tokens_bpe). The encode
    side is one equi-join: each document's tokens meet the distinct-word
    segmentation table the trainer already produced (per word: final
    symbol count = its BPE token count), so encoding N documents costs a
    token explode + a join against |vocab| rows — no per-document merge
    replay. ``n_chars_tok / n_tokens_bpe`` is the compression the K
    merges actually buy; a tokenizer owner reads it next to
    ``tokenizer_fertility`` before spending more merges. Exact BIGINT
    counts throughout.
    """
    _, segs = bpe_train(
        docs, k_merges, text_col=text_col, token_re=token_re,
        return_segments=True,
    )
    toks = docs.select(
        id_col,
        F.explode(
            F.expr(
                f"regexp_extract_all(lower({text_col}), "
                f"{_sql_quote(token_re)}, 0)"
            )
        ).alias("w"),
    )
    return (
        toks.join(segs.select("w", F.size("syms").alias("n_syms")), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars_tok"),
            F.sum("n_syms").cast("long").alias("n_tokens_bpe"),
        )
    )

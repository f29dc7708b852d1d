"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.10 extension — the reference has no streaming state).

``running_user_totals`` keeps one state row per user_id — (count, sum) —
and emits the updated running totals each micro-batch. This is the template
for any custom accumulator the built-in windowed aggs can't express
(distinct-ish sketches, decaying counters, per-key models): state is keyed,
Arrow-batched, and bounded by a processing-time timeout, so it scales as
#keys, not #events.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        # exact int64 accumulation of DECIMAL(20,4) micro-units (value ×
        # 10⁴, quantized JVM-side): integer addition is associative and
        # commutative, so the final total is independent of micro-batch
        # split and pandas batch order, which makes the entry oracle-able
        # (CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) in ANSI SQL —
        # units/10⁴ and the decimal sum are the same rational, and both
        # engines emit its correctly-rounded double). The quantization
        # itself runs in the JVM projection feeding this operator
        # (running_user_totals), NOT per-event in Python: moving the
        # Decimal loop out of the kernel took the sf0.1 entry from
        # ~2.2 s to ~1.1 s (the kernel now just sums an int64 column).
        StructField("units", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

#: JVM projection: value → exact int64 micro-units (DECIMAL(20,4) × 10⁴).
#: Guard BEFORE the long cast: in non-ANSI mode an overflowing cast
#: silently NULLs and the kernel's dropna would make the value vanish
#: from totals. |value| is bounded to 2⁴⁹ micro-units so (a) the cast can
#: never overflow int64 and (b) every unit count round-trips the
#: nullable-Arrow float64 transfer exactly (< 2⁵³); out-of-range values
#: fail LOUDLY via raise_error instead of disappearing from state.
#: Module-level so the batch-mode regression test pins the guard.
UNITS_EXPR = (
    "case when value is null then cast(null as long) "
    "when abs(value) > 56294995342.1312d "
    "then raise_error(concat('running_user_totals: |value| > "
    "2^49 micro-units, exact int64 state not guaranteed: ', "
    "cast(value as string))) "
    "else cast(cast(value as decimal(20,4)) * 10000 as long) "
    "end"
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, units = state.get
    else:
        n, units = 0, 0
    for pdf in pdfs:
        n += len(pdf)
        u = pdf["__units"].dropna()
        if len(u):
            # int64 micro-units arrive as float64 when the Arrow column is
            # nullable; each VALUE is < 2⁵³ so the element-wise int64 cast
            # is exact, and summing in int64 (not float64) keeps the batch
            # subtotal exact up to the int64 range rather than only 2⁵³
            units += int(u.to_numpy().astype("int64").sum())
    state.update((n, units))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [units / 10000.0],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in keyed state.

    The DECIMAL(20,4) quantization (HALF_UP on the shortest decimal repr,
    Spark's own double→decimal cast) happens HERE, in a JVM projection, so
    the Python kernel only sums an exact int64 micro-units column — the
    hot path stays vectorized and the Arrow transfer carries two columns.
    """
    return (
        events.select(
            "user_id",
            F.expr(UNITS_EXPR).alias("__units"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Custom gap-based sessionization — the "operator Spark lacks" template
# proven EQUAL to the one it has: output matches ``F.session_window``
# batch semantics bit-for-bit (oracle-paired in queries/contract_extras).
# State per user is the single OPEN session (start, last_ts, n, total);
# a batch closes sessions whose gap exceeded ``gap`` and re-stores the
# open tail, so state is O(#active users), independent of stream length.
# Money math accumulates in quantized Decimal — the same HALF_UP
# double→DECIMAL(20,4) step as the JVM/DuckDB duals — so the Python path
# introduces no float-order drift.
# --------------------------------------------------------------------------
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),  # micros since epoch
        StructField("last", LongType()),
        StructField("n", LongType()),
        StructField("total", StringType()),  # exact Decimal, serialized
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _dec4(v: float):
    """double → DECIMAL(20,4) exactly as Spark/DuckDB cast it: shortest
    decimal repr of the double, then HALF_UP to 4 places."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(float(v))).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP
    )


def make_session_update(gap_minutes: int):
    gap_us = gap_minutes * 60_000_000

    def _session_update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from decimal import Decimal

        rows = pd.concat(list(pdfs))
        # event-time order within the batch (arrival order is arbitrary)
        rows = rows.sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()
        vals = rows["value"].tolist()
        cur: list | None = None
        if state.exists:
            s, last, n, tot = state.get
            cur = [s, last, n, Decimal(tot)]
        out: list[list] = []
        for t, v in zip(ts_us, vals):
            if cur is None:
                cur = [t, t, 1, _dec4(v)]
            elif t - cur[1] > gap_us:
                out.append(cur)
                cur = [t, t, 1, _dec4(v)]
            else:
                cur = [cur[0], t, cur[2] + 1, cur[3] + _dec4(v)]
        state.update((cur[0], cur[1], cur[2], str(cur[3])))
        out.append(cur)  # open-session snapshot (re-emitted if extended)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "session_start": [
                    pd.Timestamp(s[0], unit="us") for s in out
                ],
                "session_end": [
                    pd.Timestamp(s[1] + gap_us, unit="us") for s in out
                ],
                "n": [s[2] for s in out],
                "total_value": [float(s[3]) for s in out],
            }
        )

    return _session_update


def gap_sessions(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Per-user gap sessionization in custom keyed state (user_id, ts,
    value → one row per session, ``session_end = last_ts + gap`` matching
    ``F.session_window``)."""
    return events.select("user_id", "ts", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        make_session_update(gap_minutes),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4's arbitrary-stateful API, successor
# to applyInPandasWithState): per-user running stats kept in a typed
# ValueState. Differences that matter at scale: named state variables with
# schemas (composable state per key), timers instead of a single timeout
# conf, and first-class init/close lifecycle. The accumulators here
# (count / max / max-ts) are order-independent, so the drained result is
# exactly the batch GROUP BY — which is what the oracle checks.
# --------------------------------------------------------------------------
try:  # pragma: no cover - import guard exercised by availability itself
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _TWS_AVAILABLE = True
except ImportError:  # pyspark < 4.0
    StatefulProcessor = object  # type: ignore[assignment,misc]
    _TWS_AVAILABLE = False

TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


class UserStatsProcessor(StatefulProcessor):
    """ValueState(count, max value, max event-time micros) per user."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState(
            "stats", "n LONG, mx DOUBLE, last LONG"
        )

    def handleInputRows(self, key, rows, timerValues):
        n, mx, last = 0, None, None
        if self._state.exists():
            n, mx, last = self._state.get()
        for pdf in rows:
            n += len(pdf)
            if len(pdf):
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None else max(mx, bmx)
                bl = int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1000)
                last = bl if last is None else max(last, bl)
        self._state.update((n, mx, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "last_ts": [pd.to_datetime(last, unit="us")],
            }
        )

    def close(self) -> None:
        pass


def user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, max value, last event time) via
    transformWithStateInPandas."""
    if not _TWS_AVAILABLE:  # pragma: no cover
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStatsProcessor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --------------------------------------------------------------------------
# Streaming embedding near-dup gate: dedup-at-ingest for an embedding
# stream. Each arriving vector is quantized on the int8 max-abs grid and
# sign-LSH-bucketed once per table (both pure stateless projections —
# stream-safe); keyed state per (table, bucket) holds every vector seen
# so far, and a vector is ADMITTED by a table only if no lower-id
# same-bucket vector covers it at quantized cosine ≥ tau — the family's
# drop-if-any-earlier-neighbor representative rule
# (operators/similarity.semdedup), evaluated incrementally at ingest.
#
# State is O(vectors per bucket): at production volume you would TTL the
# state (watermark + timeout) or raise `planes` so buckets stay small —
# both are dials, not redesigns. Work per batch is per-bucket Gram-matrix
# scoring inside numpy (exact int64 math; the one sqrt/divide per pair is
# IEEE on exactly-representable integers, so verdicts are bit-identical
# to the batch SQL dual). With the whole source draining in one
# micro-batch (assert_single_batch in the registry entry), "earlier
# arrival" equals "lower id" and the output equals the batch greedy —
# which is what the oracle pins; across real multi-batch runs the rule is
# earliest-ARRIVAL, the true gate semantics.
# --------------------------------------------------------------------------
GATE_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        # seen quantized vectors, flattened row-major (len = n_seen * dims)
        StructField("flat", ArrayType(LongType())),
        # max event time (epoch ms) the group has seen, so re-arming the
        # event-time timeout never regresses under out-of-order arrivals
        # within the watermark delay; NULL unless event_ttl_ms is set
        StructField("max_ets", LongType()),
    ]
)

#: one verdict row per (vector, table); with tables > 1 the final
#: admission is the AND over tables (combine_gate_tables).
GATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("tbl", IntegerType()),
        StructField("bucket", LongType()),
        StructField("dup_of", LongType()),
        StructField("admitted", IntegerType()),
    ]
)


def make_neardup_gate_update(
    dims: int,
    tau: float,
    ttl_ms: int | None = None,
    event_ttl_ms: int | None = None,
):
    """Kernel factory (dims/tau/ttl are plan-time constants, closed over)
    for groups keyed by (tbl, bucket): the per-group greedy is the same
    for every table (a table is just an independent bucketing of the same
    stream), and the cross-table AND happens downstream
    (combine_gate_tables).

    ``ttl_ms`` is the bounded-state dial: when set, a bucket whose state
    has seen no arrival for that long is EVICTED (processing-time
    timeout), so state is O(vectors per bucket per TTL window) instead of
    O(all vectors ever). The documented trade: a duplicate re-arriving
    after the TTL is re-admitted — the batch semdedup /
    dedup_cleaned_corpus pass remains the exactness backstop (the same
    compaction story as every TTL'd streaming dedup).

    ``event_ttl_ms`` is the REPLAY-SAFE variant of the same dial
    (mutually exclusive with ``ttl_ms``): eviction fires when the
    stream's EVENT-TIME WATERMARK passes the bucket's max seen event
    time + TTL, so neighbors close in event time stay co-resident in
    state no matter how processing order scrambles them — closing the
    measured replay weakness of processing-time eviction (BASELINE.md
    round-11 gate TTL audit: replay loss up to 1.36× the in-order loss).
    Rows must carry an ``ets`` epoch-ms column and the query must use
    EventTimeTimeout (a watermark is mandatory — Spark rejects
    EventTimeTimeout without one).
    """
    import numpy as np

    from data_engineer_development_spark.operators.similarity import _qcos

    if ttl_ms is not None and event_ttl_ms is not None:
        raise ValueError("ttl_ms and event_ttl_ms are mutually exclusive dials")

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if (ttl_ms is not None or event_ttl_ms is not None) and state.hasTimedOut:
            # timeout invocation: no new rows for this bucket — drop the
            # state and emit nothing (eviction, not output)
            state.remove()
            return
        sids, flat, max_ets = state.get if state.exists else ([], [], None)
        # SELF-EXPIRY on data arrival: Spark only invokes the timeout
        # branch for groups WITHOUT new data in a batch, so a bucket
        # receiving data would otherwise consult expired-but-unremoved
        # state. Checking the watermark here makes eviction deterministic
        # in EVENT time — a bucket idle past the TTL is gone no matter how
        # arrivals interleave with the expiry.
        if (
            event_ttl_ms is not None
            and state.exists
            and int(state.getCurrentWatermarkMs()) > int(max_ets) + event_ttl_ms
        ):
            sids, flat, max_ets = [], [], None
        seen_ids = np.array(sids, dtype=np.int64)
        seen = np.array(flat, dtype=np.int64).reshape(-1, dims)
        # concat the batch's Arrow chunks BEFORE sorting: chunks interleave
        # ids, and the greedy rule needs the whole group in id order
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(np.int64)
        B = np.vstack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
        bqn = (B * B).sum(axis=1)
        dup = np.full(len(ids), -1, dtype=np.int64)
        if len(seen_ids):
            sqn = (seen * seen).sum(axis=1)
            cov_s = _qcos(B, bqn, seen, sqn) >= tau
            for j in range(len(ids)):
                if cov_s[j].any():
                    dup[j] = int(seen_ids[cov_s[j]].min())
        # row i covers column j, i < j
        cov_b = np.triu(_qcos(B, bqn, B, bqn) >= tau, k=1)
        for j in range(len(ids)):
            if cov_b[:, j].any():
                # ids sorted asc → argmax (first True) = lowest id
                cand = int(ids[cov_b[:, j].argmax()])
                dup[j] = cand if dup[j] < 0 else min(dup[j], cand)
        out = pd.DataFrame(
            {
                "vec_id": ids,
                "tbl": np.full(len(ids), int(key[0]), dtype=np.int32),
                "bucket": np.full(len(ids), int(key[1]), dtype=np.int64),
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup], dtype="Int64"
                ),
                "admitted": (dup < 0).astype("int32"),
            }
        )
        seen_ids = np.concatenate([seen_ids, ids])
        seen = np.vstack([seen, B])
        if event_ttl_ms is not None:
            # max over state + batch: out-of-order arrivals must never
            # move the eviction horizon BACKWARD. ets is the UTC epoch-ms
            # LONG the gate projects with unix_millis (NOT the watermarked
            # timestamp column itself: applyInPandasWithState renders
            # timestamps to pandas in the SESSION timezone tz-naive, so
            # converting here would shift by the UTC offset and break the
            # comparison against getCurrentWatermarkMs/setTimeoutTimestamp,
            # which are true UTC epoch ms — a non-UTC session would evict
            # live state on every batch or arm an already-expired timeout).
            batch_max = int(pdf["ets"].max())
            max_ets = batch_max if max_ets is None else max(int(max_ets), batch_max)
        state.update(
            (
                [int(x) for x in seen_ids],
                [int(x) for x in seen.reshape(-1)],
                max_ets,
            )
        )
        if event_ttl_ms is not None:
            state.setTimeoutTimestamp(max_ets + event_ttl_ms)
        elif ttl_ms is not None:
            # re-arm on every arrival: idle-bucket eviction, not a hard
            # cap on bucket lifetime
            state.setTimeoutDuration(ttl_ms)
        yield out

    return _update


def stream_neardup_gate(
    vectors: DataFrame,
    tau: float = 0.4,
    planes: int = 2,
    dims: int = 64,
    ttl_ms: int | None = None,
    tables: int = 1,
    event_time_col: str | None = None,
    event_ttl_ms: int | None = None,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """(vec_id, tbl, bucket, dup_of, admitted) per arriving vector and
    table, from a ``(vec_id, embedding)`` stream — see the block comment
    above for semantics and the 100 TB state story.

    ``ttl_ms`` bounds state at volume: an idle bucket's seen-set is
    evicted after that many ms of processing time with no arrival (the
    registry entry keeps the default None — exact within the run — so the
    oracle dual stays the batch greedy; production ingest sets a TTL and
    leans on the batch semdedup pass as the exactness backstop).
    MEASURED TTL floor (BASELINE.md round-11 gate TTL audit,
    tools/gate_ttl_audit.py): recall is untouched while ttl ≥ ~8× the
    mean within-bucket inter-arrival time (8·2^planes/rate per table)
    and degrades below the idle-gap tail (~B·ln(N)); an out-of-order
    REPLAY loses up to 1.36× more than in-order ingest at small TTLs
    because processing-time eviction is blind to event time — raise the
    TTL (or lean on the batch backstop) when backfilling, or use
    ``event_ttl_ms`` + ``event_time_col``: the EVENT-TIME TTL evicts a
    bucket only when the stream's watermark passes its max seen event
    time + TTL, so event-time neighbors stay co-resident no matter how
    a replay scrambles processing order (the replay-safe dial; requires
    a watermarkable timestamp column, applied here with
    ``watermark_delay``).

    ``tables`` is the RECALL dial (multi-table / banded LSH): table t
    re-buckets the same stream with the disjoint plane slice
    t·planes … t·planes+planes−1 (table 0 is bit-identical to the
    single-table bucketing), state is keyed by (tbl, bucket), and a
    vector is dropped iff ANY table sees an earlier covering neighbor —
    the exact banding the batch dedup_minhash_lsh family uses. Measured
    on the fixture (BASELINE.md round-10 gate audit): planes=2 recall
    0.38–0.48 single-table → 0.63–0.72 at tables=2 and 0.79–0.83 at
    tables=3, while state scales ×tables and per-bucket Gram cost is
    unchanged. The output is ONE ROW PER (vector, table); with tables>1
    fold it with combine_gate_tables once the stream is drained (or in a
    foreachBatch sink)."""
    from data_engineer_development_spark.operators.similarity import (
        _with_quantized,
        bucket_assign,
    )

    # caller-facing contract guard (ADVICE r11): a real error at plan
    # time, not an assert — `python -O` strips asserts
    if event_ttl_ms is not None and not event_time_col:
        raise ValueError("event_ttl_ms requires event_time_col")
    update = make_neardup_gate_update(
        dims, tau, ttl_ms=ttl_ms, event_ttl_ms=event_ttl_ms
    )
    if event_ttl_ms is not None:
        # the event-time column rides through the quantizer's Python node
        # unchanged, so the watermark binds to it on the quantized frame
        # (a tag set upstream would not survive that node);
        # EventTimeTimeout without a watermark is a query-start error, so
        # failure is loud, not silent
        q = _with_quantized(
            vectors, "vec_id", "embedding", event_time_col
        ).withWatermark(event_time_col, watermark_delay)
        # the WATERMARKED timestamp column itself must reach the stateful
        # op (a derived long alone loses the watermark tag and
        # EventTimeTimeout then fails analysis) — it rides along as
        # __wm_ts, UNUSED by the kernel, while the kernel reads
        # ets = unix_millis(ts): a session-timezone-independent UTC
        # epoch-ms long, matching the UTC-epoch GroupState
        # watermark/timeout APIs (pandas renders timestamps session-local
        # tz-naive, so deriving ms kernel-side would shift by the UTC
        # offset). Each table's state expires independently on the same
        # global watermark.
        event_cols = [
            f"{event_time_col} as __wm_ts",
            f"unix_millis({event_time_col}) as ets",
        ]
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        q = _with_quantized(vectors, "vec_id", "embedding")
        event_cols = []
        timeout = (
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        )
    b = q.filter((F.size("embedding") == dims) & (F.col("qn") > 0))
    # per-table bucket columns (stateless projections over the same
    # literal plane family), unpivoted to (tbl, bucket) rows via stack —
    # still stateless, so the stream stays a single stateful op
    for t in range(tables):
        b = bucket_assign(
            b, planes=planes, dims=dims,
            plane_offset=t * planes, out_col=f"__b{t}",
        )
    stack = ", ".join(f"cast({t} as int), __b{t}" for t in range(tables))
    return (
        b.selectExpr(
            "vec_id", "qv", *event_cols,
            f"stack({tables}, {stack}) as (tbl, bucket)",
        )
        .groupBy("tbl", "bucket")
        .applyInPandasWithState(
            update,
            outputStructType=GATE_OUTPUT_SCHEMA,
            stateStructType=GATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def combine_gate_tables(verdicts: DataFrame) -> DataFrame:
    """Fold a banded gate's per-(vector, table) verdicts into the final
    per-vector one: dropped iff ANY table dropped it; dup_of = the lowest
    covering id any table saw (min over tables — each covering pair is
    detected by every table where it collides, so min-of-mins equals the
    min over the union of detections). Batch-side: run it on the drained
    sink table (or per micro-batch in a foreachBatch sink)."""
    return verdicts.groupBy("vec_id").agg(
        F.min("dup_of").alias("dup_of"),
        F.min("admitted").cast("int").alias("admitted"),
    )


# --------------------------------------------------------------------------
# Streaming per-domain admission cap — the batch domain_cap rule moved to
# ingest time: admit each source's documents FIRST-COME until the cap,
# then reject, with O(1) keyed state (one SEEN-count per source — it
# keeps incrementing past the cap so rk stays the source's global
# arrival rank and admitted = rk < cap; capping the counter itself
# would break rk for every post-cap row — ADVICE r13).
# Note the deliberate semantic difference from the batch curation entry:
# batch domain_cap selects in deterministic md5 order (a reproducible
# SAMPLE of the over-filled source); the stream gate cannot see the
# future, so it admits in arrival order — the honest ingest-time policy.
# Within a batch the kernel sorts its group's rows by doc_id, making the
# verdict independent of partition/arrival shuffling inside the batch;
# across batches the state count carries, so replays that preserve batch
# boundaries reproduce verdicts exactly.
# --------------------------------------------------------------------------
#: one int64 per source: rows SEEN so far (not admitted — see above)
DOMCAP_STATE_SCHEMA = StructType([StructField("seen", LongType())])
DOMCAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("rk", LongType()),
        StructField("admitted", IntegerType()),
    ]
)


def make_domcap_update(cap: int):
    """Kernel factory (module-level so tests can drive multi-batch state
    transitions directly with a fake GroupState)."""

    def _domcap_update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (src,) = key
        prev = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("doc_id", kind="mergesort")
        n = len(rows)
        rk = np.arange(prev, prev + n, dtype=np.int64)
        state.update((prev + n,))
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"].to_numpy(dtype=np.int64),
                "source": src,
                "rk": rk,
                "admitted": (rk < cap).astype(np.int32),
            }
        )

    return _domcap_update


def stream_domain_cap_gate(docs: DataFrame, cap: int) -> DataFrame:
    """Apply the per-source admission cap to a streaming documents frame.

    Projection keeps the Arrow transfer to two columns; state is ONE
    int64 per source ever seen — bounded by |sources|, independent of
    stream length (the O(1)-per-key gate shape of stream_quality_gate,
    with state where that gate is stateless).
    """
    return (
        docs.select("doc_id", "source")
        .groupBy("source")
        .applyInPandasWithState(
            make_domcap_update(cap),
            outputStructType=DOMCAP_OUTPUT_SCHEMA,
            stateStructType=DOMCAP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

"""Streaming window operators: the streaming result must equal the batch
result of the SAME transformation (one code path, two execution modes)."""

from __future__ import annotations

import pytest

from data_engineer_development_spark.sources import load_table
from data_engineer_development_spark.streaming import (
    sessionized,
    sliding_counts,
    stream_events,
    tumbling_counts,
)
from data_engineer_development_spark.streaming.windows import run_to_memory_sink
from tests.conftest import SF_CORRECT


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "name,xform",
    [
        ("tumbling", tumbling_counts),
        ("sliding", sliding_counts),
        ("sessions", sessionized),
    ],
)
def test_stream_matches_batch(spark, name, xform):
    batch = xform(load_table(spark, SF_CORRECT, "events"))
    stream = xform(stream_events(spark, SF_CORRECT))
    assert stream.isStreaming
    run_to_memory_sink(stream, f"s_{name}", output_mode="complete")
    assert _rows(spark.table(f"s_{name}")) == _rows(batch)


def test_checkpoint_scratch_is_cleaned_up(spark):
    """run_to_memory_sink's RAM-scratch checkpoint must not outlive the
    query — the foreachBatch path once leaked one dir per run into /tmp,
    which on a long-lived session is unbounded litter."""
    import glob
    import os

    if not os.access("/dev/shm", os.W_OK):
        pytest.skip("no /dev/shm on this box")
    before = set(glob.glob("/dev/shm/ckpt-s_gc_*"))
    stream = tumbling_counts(stream_events(spark, SF_CORRECT))
    run_to_memory_sink(stream, "s_gc_probe", output_mode="complete")
    after = set(glob.glob("/dev/shm/ckpt-s_gc_*"))
    assert after == before, f"leftover checkpoints: {after - before}"


def test_stream_dir_is_stable_across_processes(tmp_path):
    """A single-file table streams through a symlink dir under TMPDIR. Its
    name must not depend on the per-process salted ``str`` hash: two
    processes with different hash seeds resolve the SAME dir, so repeated
    runs reuse one dir instead of leaving one behind each."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    src = tmp_path / "events.parquet"
    src.write_bytes(b"")
    code = (
        "import sys\n"
        "from data_engineer_development_spark.streaming.windows import "
        "_as_stream_dir\n"
        "print(_as_stream_dir(sys.argv[1]))\n"
    )
    repo = str(Path(__file__).resolve().parent.parent)
    dirs = set()
    for seed in ("1", "2"):
        env = {
            **os.environ,
            "PYTHONHASHSEED": seed,
            "PYTHONPATH": repo,
            "TMPDIR": str(tmp_path),
        }
        out = subprocess.run(
            [sys.executable, "-c", code, str(src)],
            env=env, capture_output=True, text=True, check=True,
        )
        dirs.add(out.stdout.strip())
    assert len(dirs) == 1, dirs
    (d,) = dirs
    assert os.path.dirname(d) == str(tmp_path)
    assert os.readlink(os.path.join(d, "events.parquet")) == str(src)


def test_rocksdb_state_store_matches_default(spark):
    """The 100×-state configuration (RocksDB provider: keyed state on
    executor-local disk instead of heap) must be a pure physical swap —
    byte-identical results to the default provider."""
    from data_engineer_development_spark.streaming.windows import (
        ROCKSDB_PROVIDER,
    )

    batch = tumbling_counts(load_table(spark, SF_CORRECT, "events"))
    stream = tumbling_counts(stream_events(spark, SF_CORRECT))
    run_to_memory_sink(
        stream,
        "s_rocksdb",
        output_mode="complete",
        state_store_provider=ROCKSDB_PROVIDER,
    )
    assert _rows(spark.table("s_rocksdb")) == _rows(batch)
    # conf restored: later streams aren't silently moved onto RocksDB
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        is None
    )


def _protobuf_ok() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_ok(),
    reason="transformWithState's state server needs google.protobuf, "
    "absent/broken in this container",
)
def test_tws_user_stats_matches_batch(spark):
    """Spark 4 transformWithStateInPandas surface: drained running stats
    equal the batch GROUP BY (order-independent accumulators)."""
    from data_engineer_development_spark.queries.contract_extras import (
        q_tws_user_stats,
    )
    from tests.conftest import SF_CORRECT

    got = {
        r["user_id"]: (r["n_events"], r["max_value"])
        for r in q_tws_user_stats(spark, SF_CORRECT).collect()
    }
    from data_engineer_development_spark.sources import load_table
    from pyspark.sql import functions as F

    exp = {
        r["user_id"]: (r["n"], r["mx"])
        for r in load_table(spark, SF_CORRECT, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == exp


def test_stream_neardup_gate_known_vectors(spark, tmp_path):
    """Dedup-at-ingest on crafted vectors: a scaled copy sharing its
    original's LSH bucket is rejected with dup_of = the original; an
    anti-parallel vector (opposite half-space → different bucket, and
    cos = -1 anyway) is admitted; the zero vector never reaches the
    gate. Single micro-batch → output equals the batch greedy dual."""
    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.5, 0.0, 0.0, 0.0]),   # scaled copy of 0 → rejected, dup_of 0
        (2, [-3.0, 0.0, 0.0, 0.0]),  # anti-parallel → admitted
        (3, [0.0, 0.0, 0.0, 0.0]),   # zero vector → filtered before the gate
        (4, [0.5, 0.0, 0.0, 0.0]),   # another copy → dup_of 0 (lowest id)
    ]
    src = str(tmp_path / "vecs")
    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.format("parquet").schema(schema).load(src)
    out_name = "t_ndgate_unit"
    run_to_memory_sink(
        stream_neardup_gate(stream, tau=0.9, planes=2, dims=4),
        out_name, output_mode="update", assert_single_batch=True,
        state_partitions=2, no_data_batches=False,
    )
    got = {r["vec_id"]: r for r in spark.table(out_name).collect()}
    assert set(got) == {0, 1, 2, 4}
    assert got[0]["admitted"] == 1 and got[0]["dup_of"] is None
    assert got[1]["admitted"] == 0 and got[1]["dup_of"] == 0
    assert got[2]["admitted"] == 1
    assert got[4]["admitted"] == 0 and got[4]["dup_of"] == 0
    assert got[0]["bucket"] == got[1]["bucket"] == got[4]["bucket"]
    assert {r["tbl"] for r in got.values()} == {0}

    # TTL'd variant must run end-to-end under ProcessingTimeTimeout (no
    # timeout fires within a single drain — output identical)
    run_to_memory_sink(
        stream_neardup_gate(stream, tau=0.9, planes=2, dims=4,
                            ttl_ms=600_000),
        out_name + "_ttl", output_mode="update", assert_single_batch=True,
        state_partitions=2, no_data_batches=False,
    )
    got_ttl = {r["vec_id"]: r for r in spark.table(out_name + "_ttl").collect()}
    assert {k: (v["admitted"], v["dup_of"]) for k, v in got_ttl.items()} == {
        k: (v["admitted"], v["dup_of"]) for k, v in got.items()
    }


class _FakeGroupState:
    """Minimal GroupState stand-in: exists/get/update plus the timeout
    surface (hasTimedOut/remove/setTimeoutDuration) — enough to drive the
    gate kernel's state-resume and TTL-eviction branches without a
    streaming query."""

    def __init__(self, timed_out=False):
        self._v = None
        self.hasTimedOut = timed_out
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms

    def setTimeoutTimestamp(self, epoch_ms):
        self.timeout_set_ts = epoch_ms

    def getCurrentWatermarkMs(self):
        return getattr(self, "watermark_ms", 0)


def test_stream_neardup_gate_kernel_multi_batch_state():
    """The cross-batch branch (`state.exists`) is the part the e2e
    single-batch tests can't reach: a later ARRIVAL must be rejected by
    a vector already in state even when its id is SMALLER (earlier means
    earlier arrival), and dup_of must be the MIN over both the state
    candidate and the lowest in-batch candidate."""
    import numpy as np
    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        make_neardup_gate_update,
    )

    kernel = make_neardup_gate_update(dims=4, tau=0.9)
    state = _FakeGroupState()

    # batch 1: two orthogonal vectors — both admitted, both enter state
    b1 = pd.DataFrame({
        "vec_id": [10, 11],
        "qv": [[127, 0, 0, 0], [0, 127, 0, 0]],
    })
    (out1,) = list(kernel((0, 7), iter([b1]), state))
    got1 = {r.vec_id: r for r in out1.itertuples()}
    assert got1[10].admitted == 1 and pd.isna(got1[10].dup_of)
    assert got1[11].admitted == 1 and pd.isna(got1[11].dup_of)
    sids, flat, max_ets = state.get
    assert sids == [10, 11] and len(flat) == 8
    assert max_ets is None  # no event-time dial

    # batch 2: id 3 (smaller id, later arrival) parallel to state-10 →
    # rejected with dup_of 10; id 13 is covered by BOTH state-10 and
    # in-batch 3 → dup_of = min(10, 3) = 3
    b2 = pd.DataFrame({
        "vec_id": [3, 13],
        "qv": [[127, 0, 0, 0], [100, 0, 0, 0]],
    })
    (out2,) = list(kernel((0, 7), iter([b2]), state))
    got2 = {r.vec_id: r for r in out2.itertuples()}
    assert got2[3].admitted == 0 and got2[3].dup_of == 10
    assert got2[13].admitted == 0 and got2[13].dup_of == 3
    assert all(r.tbl == 0 and r.bucket == 7 for r in out2.itertuples())
    sids, flat, _ = state.get
    assert sids == [10, 11, 3, 13] and len(flat) == 16
    assert np.array(flat[8:12]).tolist() == [127, 0, 0, 0]

    # an all-empty batch yields nothing and leaves state untouched
    before = state.get
    empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                          "qv": pd.Series([], dtype="object")})
    assert list(kernel((0, 7), iter([empty]), state)) == []
    assert state.get == before


def test_stream_neardup_gate_kernel_ttl_eviction():
    """The TTL dial: a timed-out invocation evicts the bucket's state and
    emits nothing; a TTL'd kernel re-arms the timeout on every arrival;
    and after eviction a re-arriving duplicate is re-admitted (the
    documented bounded-state trade — the batch pass is the backstop)."""
    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        make_neardup_gate_update,
    )

    kernel = make_neardup_gate_update(dims=4, tau=0.9, ttl_ms=60_000)

    state = _FakeGroupState()
    b1 = pd.DataFrame({"vec_id": [10], "qv": [[127, 0, 0, 0]]})
    (out1,) = list(kernel((0, 7), iter([b1]), state))
    assert out1["admitted"].tolist() == [1]
    assert state.exists and state.timeout_set_ms == 60_000

    # timeout invocation: empty input, hasTimedOut=True → state dropped,
    # no output rows
    timed_out = _FakeGroupState(timed_out=True)
    timed_out.update(state.get)
    assert list(kernel((0, 7), iter([]), timed_out)) == []
    assert not timed_out.exists

    # the duplicate of evicted id 10 is re-admitted into fresh state
    # (a new-arrival invocation always comes in with hasTimedOut=False)
    timed_out.hasTimedOut = False
    b2 = pd.DataFrame({"vec_id": [20], "qv": [[127, 0, 0, 0]]})
    (out2,) = list(kernel((0, 7), iter([b2]), timed_out))
    assert out2["admitted"].tolist() == [1]
    assert out2["dup_of"].isna().all()

    # an un-TTL'd kernel must never call setTimeoutDuration (NoTimeout
    # queries throw if it is ever invoked)
    plain = _FakeGroupState()
    no_ttl = make_neardup_gate_update(dims=4, tau=0.9)
    list(no_ttl((0, 7), iter([b1]), plain))
    assert plain.timeout_set_ms is None


def test_stream_neardup_gate_kernel_banded_key_shape():
    """The kernel is keyed by (tbl, bucket): the verdict rows carry the
    table index, the greedy within the group is unchanged, and the same
    vectors land in independent state per table."""
    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        make_neardup_gate_update,
    )

    kernel = make_neardup_gate_update(dims=4, tau=0.9)
    state = _FakeGroupState()
    b = pd.DataFrame({
        "vec_id": [10, 11],
        "qv": [[127, 0, 0, 0], [127, 1, 0, 0]],  # near-dups, same group
    })
    (out,) = list(kernel((2, 7), iter([b]), state))
    got = {r.vec_id: r for r in out.itertuples()}
    assert all(r.tbl == 2 and r.bucket == 7 for r in out.itertuples())
    assert got[10].admitted == 1 and got[11].admitted == 0
    assert got[11].dup_of == 10


def _banded_gate_mirror(rows, planes, tables, tau, dims):
    """Pure-python/numpy mirror of the banded gate's batch-greedy dual,
    using the engine's exact quantizer (int8 max-abs, round-half-up), the
    same md5 hyperplane family with table t = plane slice t*planes.., and
    a LEFT-FOLD float64 dot for the bucket bit (the engine's aggregate()
    order). Returns {vec_id: (admitted, dup_of)}."""
    import math

    import numpy as np

    from data_engineer_development_spark.functions.portable_hash import (
        hyperplane,
    )

    qvs, order = {}, []
    for vid, v in rows:
        if len(v) != dims:
            continue
        mx = max(abs(float(x)) for x in v)
        qv = (
            [0] * dims
            if mx == 0.0
            else [math.floor(float(x) * 127.0 / mx + 0.5) for x in v]
        )
        if sum(q * q for q in qv) > 0:
            qvs[vid] = np.array(qv, dtype=np.int64)
            order.append(vid)

    def bucket(vec, t):
        b = 0
        for p in range(planes):
            w = hyperplane(t * planes + p, dims)
            acc = 0.0
            for x, wi in zip(vec, w):
                acc += float(x) * wi  # left fold, engine order
            if acc >= 0:
                b |= 1 << p
        return b

    raw_by_id = dict(rows)
    verdict = {vid: [1, None] for vid in order}
    for t in range(tables):
        groups: dict = {}
        for vid in order:
            groups.setdefault(bucket(raw_by_id[vid], t), []).append(vid)
        for _, ids in groups.items():
            ids = sorted(ids)
            M = np.vstack([qvs[i] for i in ids])
            qn = (M * M).sum(axis=1)
            cos = (M @ M.T).astype(np.float64) / np.sqrt(
                np.outer(qn, qn).astype(np.float64)
            )
            for j in range(len(ids)):
                cover = [ids[i] for i in range(j) if cos[i, j] >= tau]
                if cover:
                    d = min(cover)
                    verdict[ids[j]][0] = 0
                    cur = verdict[ids[j]][1]
                    verdict[ids[j]][1] = d if cur is None else min(cur, d)
    return {k: (a, d) for k, (a, d) in verdict.items()}


def test_stream_neardup_gate_banded_fixture_matches_mirror(spark):
    """e2e banded gate (tables=2, planes=2) on the sf0.001 embeddings
    fixture: combine_gate_tables output equals the numpy mirror of the
    banded batch greedy, and every vector the single-table gate rejects
    is also rejected banded (table 0 IS the shipped gate)."""
    from data_engineer_development_spark.streaming.stateful import (
        combine_gate_tables,
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
        stream_table,
    )
    from tests.conftest import SF_SMOKE

    planes, tables, tau, dims = 2, 2, 0.4, 64

    banded = stream_neardup_gate(
        stream_table(spark, SF_SMOKE, "embeddings"),
        tau=tau, planes=planes, dims=dims, tables=tables,
    )
    run_to_memory_sink(
        banded, "t_ndgate_banded", output_mode="update",
        assert_single_batch=True, state_partitions=4, no_data_batches=False,
    )
    per_table = spark.table("t_ndgate_banded")
    n_ids = per_table.select("vec_id").distinct().count()
    assert per_table.count() == tables * n_ids  # one verdict per (vec, tbl)
    got = {
        r["vec_id"]: (r["admitted"], r["dup_of"])
        for r in combine_gate_tables(per_table).collect()
    }

    import duckdb

    rows = [
        (int(vid), list(map(float, v)))
        for vid, v in duckdb.sql(
            f"SELECT vec_id, embedding FROM "
            f"read_parquet('{SF_SMOKE}/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
    ]
    exp = _banded_gate_mirror(rows, planes, tables, tau, dims)
    assert got == exp

    # superset property vs the shipped single-table gate
    single = stream_neardup_gate(
        stream_table(spark, SF_SMOKE, "embeddings"),
        tau=tau, planes=planes, dims=dims,
    )
    run_to_memory_sink(
        single, "t_ndgate_single", output_mode="update",
        assert_single_batch=True, state_partitions=4, no_data_batches=False,
    )
    single_rejects = {
        r["vec_id"]
        for r in spark.table("t_ndgate_single")
        .filter("admitted = 0").collect()
    }
    banded_rejects = {k for k, (a, _) in got.items() if a == 0}
    assert single_rejects <= banded_rejects
    # and on this fixture banding must strictly add recall
    assert len(banded_rejects) > len(single_rejects)


def test_stream_neardup_gate_banded_oracle_parity(spark):
    """The registered stream_neardup_gate entry runs both dials for real.
    Hash-exact parity with the dial-tagged oracle (banded2 half: the
    UNION-free OR-predicate banded oracle) at sf0.001 (sf0.01 under both
    ANSI modes is in test_oracle_parity). And at sf0.01 the event_ttl
    dial — the single-table bucketing — rejects a strict subset of the
    banded2 dial's rejections (table 0 of the banded run is the
    single-table bucketing; table 1 adds recall)."""
    from data_engineer_development_spark.queries.similarity import (
        _STREAM_NDGATE_DIALS_SQL,
        q_stream_neardup_gate,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    ok, msg = compare(
        spark, SF_SMOKE, "stream_neardup_gate",
        q_stream_neardup_gate, _STREAM_NDGATE_DIALS_SQL,
    )
    assert ok, msg

    rejected: dict = {"banded2": set(), "event_ttl": set()}
    for r in (
        q_stream_neardup_gate(spark, SF_CORRECT)
        .filter("admitted = 0").collect()
    ):
        rejected[r["dial"]].add(r["vec_id"])
    assert rejected["event_ttl"] < rejected["banded2"]


def test_registered_event_ttl_gate_equals_batch_greedy(spark):
    """The registered entry's event_ttl dial drains in one data batch, so
    arming the event-time TTL must not change a single verdict vs the
    plain single-table gate (no TTL) on the same vectors. What the dial
    adds is driver contact with the EventTimeTimeout plan: watermark
    binding, per-bucket setTimeoutTimestamp arming, and (in the trailing
    no-data batch) hasTimedOut self-expiry for every bucket except the
    far-future outlier's. Equality here pins the oracle-exactness
    argument."""
    from data_engineer_development_spark.queries.similarity import (
        _GATE_PLANES,
        _SD_TAU,
        DIMS,
        q_stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.stateful import (
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
        stream_table,
    )
    from tests.conftest import SF_SMOKE

    run_to_memory_sink(
        stream_neardup_gate(
            stream_table(spark, SF_SMOKE, "embeddings"),
            tau=_SD_TAU, planes=_GATE_PLANES, dims=DIMS,
        ),
        "t_ndgate_plain_greedy", output_mode="update",
        assert_single_batch=True, state_partitions=4, no_data_batches=False,
    )
    plain = {
        r["vec_id"]: (r["dup_of"], r["admitted"])
        for r in spark.table("t_ndgate_plain_greedy").collect()
    }
    ttl = {
        r["vec_id"]: (r["dup_of"], r["admitted"])
        for r in q_stream_neardup_gate(spark, SF_SMOKE)
        .filter("dial = 'event_ttl'").collect()
    }
    assert ttl == plain and ttl


def test_stream_neardup_gate_banded_single_stateful_op(spark):
    """The banded gate's 100 TB claim pinned in the plan: per-table
    bucketing is a STATELESS stack/Generate projection, so the whole
    banded stream still contains exactly ONE stateful operator (state
    ×tables lives inside that operator's (tbl, bucket) keyspace, not in
    extra shuffles or a second state store)."""
    from data_engineer_development_spark.streaming.stateful import (
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import stream_table
    from tests.conftest import SF_SMOKE

    g = stream_neardup_gate(
        stream_table(spark, SF_SMOKE, "embeddings"),
        tau=0.4, planes=2, dims=64, tables=2,
    )
    plan = g._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert plan.count("Generate stack") == 1


@pytest.mark.parametrize("event_time", [False, True])
def test_stream_neardup_gate_quantizes_without_sql_folds(spark, event_time):
    """The gate quantizes through the same numpy node as batch semdedup:
    no interpreted max-abs / self-dot fold (``aggregate(transform(``) in
    its plan — the chain Catalyst would copy into every pushed-down
    filter. The event-time branch keeps its watermark, set on the
    quantized frame. (Analyzed plan: an unstarted stream has no
    optimized plan.)"""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.streaming.stateful import (
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import stream_table
    from tests.conftest import SF_SMOKE

    src = stream_table(spark, SF_SMOKE, "embeddings")
    kw = {}
    if event_time:
        src = src.withColumn("ts", F.timestamp_seconds("vec_id"))
        kw = {"event_time_col": "ts", "event_ttl_ms": 600_000}
    g = stream_neardup_gate(src, tau=0.4, planes=2, dims=64, **kw)
    plan = g._jdf.queryExecution().analyzed().toString()
    assert "aggregate(transform(" not in plan
    assert ("EventTimeWatermark" in plan) == event_time


def test_stream_neardup_gate_banded_with_ttl_e2e(spark):
    """The two dials compose: a banded (tables=2) gate under a
    ProcessingTimeTimeout TTL must run end-to-end and, within a single
    drain (no timeout can fire), produce verdicts identical to the
    un-TTL'd banded gate."""
    from data_engineer_development_spark.streaming.stateful import (
        combine_gate_tables,
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
        stream_table,
    )
    from tests.conftest import SF_SMOKE

    outs = {}
    for tag, ttl in (("nottl", None), ("ttl", 600_000)):
        g = stream_neardup_gate(
            stream_table(spark, SF_SMOKE, "embeddings"),
            tau=0.4, planes=2, dims=64, tables=2, ttl_ms=ttl,
        )
        name = f"t_ndgate_b_{tag}"
        run_to_memory_sink(
            g, name, output_mode="update", assert_single_batch=True,
            state_partitions=4, no_data_batches=False,
        )
        outs[tag] = {
            r["vec_id"]: (r["admitted"], r["dup_of"])
            for r in combine_gate_tables(spark.table(name)).collect()
        }
    assert outs["ttl"] == outs["nottl"] and outs["ttl"]


def test_event_ttl_kernel_arms_watermark_timeout_monotonically():
    """Event-time TTL kernel contract: the timeout timestamp is max seen
    event time + TTL, state carries max_ets forward, and an OUT-OF-ORDER
    later batch (older event times) must never move the horizon backward
    — the exact property that makes the dial replay-safe."""
    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        make_neardup_gate_update,
    )

    kernel = make_neardup_gate_update(dims=4, tau=0.9, event_ttl_ms=1_000)
    state = _FakeGroupState()
    b1 = pd.DataFrame({
        "vec_id": [10, 11],
        "qv": [[127, 0, 0, 0], [0, 127, 0, 0]],
        "ets": [5_000, 7_000],
    })
    (out,) = list(kernel((0, 3), iter([b1]), state))
    assert state.timeout_set_ts == 8_000  # max(5000, 7000) + 1000
    assert state.get[2] == 7_000
    assert {r.vec_id: r.admitted for r in out.itertuples()} == {10: 1, 11: 1}

    # replayed batch with OLDER event times: horizon must not regress,
    # coverage against resident state still applies
    b2 = pd.DataFrame({
        "vec_id": [12],
        "qv": [[127, 1, 0, 0]],  # near-dup of 10
        "ets": [2_000],
    })
    (out2,) = list(kernel((0, 3), iter([b2]), state))
    assert state.timeout_set_ts == 8_000  # unchanged — monotone horizon
    assert state.get[2] == 7_000
    r = next(out2.itertuples())
    assert r.admitted == 0 and r.dup_of == 10

    # timeout invocation: evict, emit nothing
    state.hasTimedOut = True
    assert list(kernel((0, 3), iter([]), state)) == []
    assert not state.exists


def test_event_ttl_kernel_self_expires_on_watermark():
    """Resident state older than watermark − TTL must be dropped even
    when the bucket RECEIVES data (Spark's timeout branch only fires for
    data-less groups — self-expiry is what makes event-time eviction
    deterministic), and a fresh near-dup then re-admits."""
    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        make_neardup_gate_update,
    )

    kernel = make_neardup_gate_update(dims=4, tau=0.9, event_ttl_ms=1_000)
    state = _FakeGroupState()
    b1 = pd.DataFrame({
        "vec_id": [10],
        "qv": [[127, 0, 0, 0]],
        "ets": [5_000],
    })
    list(kernel((0, 3), iter([b1]), state))
    assert state.timeout_set_ts == 6_000 and state.get[2] == 5_000

    # watermark passes the horizon → resident 10 is expired; the arriving
    # near-dup 20 must be ADMITTED and become the new state
    state.watermark_ms = 7_000
    b2 = pd.DataFrame({
        "vec_id": [20],
        "qv": [[127, 1, 0, 0]],
        "ets": [8_000],
    })
    (out,) = list(kernel((0, 3), iter([b2]), state))
    r = next(out.itertuples())
    assert r.admitted == 1 and pd.isna(r.dup_of)
    assert list(state.get[0]) == [20] and state.get[2] == 8_000
    assert state.timeout_set_ts == 9_000


def _run_event_ttl_scenario(spark, tmp_path, name, tables=1):
    """Shared 3-batch eviction scenario (see the test docstrings); the
    per-table verdicts are folded with combine_gate_tables."""
    import os
    import time as _time

    import pandas as pd

    from data_engineer_development_spark.streaming.stateful import (
        combine_gate_tables,
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
    )

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    batches = [
        # batch 1: the original (bucket of [1,0,0,0])
        [(0, [1.0, 0.0, 0.0, 0.0], t0)],
        # batch 2: unrelated vector one hour later in a DIFFERENT bucket
        # ([0,0,0,1] → bucket 0; bucket 1's horizon must stay at t0 +
        # ttl) — advances the watermark far past that horizon
        [(50, [0.0, 0.0, 0.0, 1.0], t0 + pd.Timedelta(hours=1))],
        # batch 3: near-copies of 0 — 100 re-admits (state evicted),
        # 101 drops against 100 (same batch, in-window)
        [
            (100, [2.0, 0.0, 0.0, 0.0], t0 + pd.Timedelta(hours=1, seconds=1)),
            (101, [3.0, 0.0, 0.0, 0.0], t0 + pd.Timedelta(hours=1, seconds=2)),
        ],
    ]
    src = str(tmp_path / ("evecs_" + name))
    os.makedirs(src)
    base = _time.time()
    seen_files: set = set()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
                "ts": [r[2] for r in rows],
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        # the parquet file source orders files by modification time —
        # pin arrival order to batch order by touching ONLY this write's
        # new part files
        new = {
            f for f in os.listdir(src) if f.endswith(".parquet")
        } - seen_files
        for f in new:
            os.utime(os.path.join(src, f), (base + i, base + i))
        seen_files |= new
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    gated = stream_neardup_gate(
        stream, tau=0.9, planes=2, dims=4, tables=tables,
        event_time_col="ts", event_ttl_ms=600_000,
        watermark_delay="1 second",
    )
    run_to_memory_sink(
        gated, "t_ndgate_" + name, output_mode="update",
        state_partitions=2, no_data_batches=True,
    )
    return {
        r["vec_id"]: r
        for r in combine_gate_tables(spark.table("t_ndgate_" + name)).collect()
    }


def _assert_event_ttl_verdicts(got):
    assert set(got) == {0, 50, 100, 101}
    assert got[0]["admitted"] == 1
    assert got[100]["admitted"] == 1 and got[100]["dup_of"] is None  # evicted!
    assert got[101]["admitted"] == 0 and got[101]["dup_of"] == 100


def test_event_ttl_gate_e2e_evicts_by_watermark(spark, tmp_path):
    """Three-micro-batch run (maxFilesPerTrigger=1, AvailableNow): batch
    1 admits vector 0; batch 2's far-future event time advances the
    watermark past vector 0's horizon; batch 3's near-copy of vector 0
    is then RE-ADMITTED (the documented TTL trade) while batch 3's own
    in-window duplicate still drops against it — event-time eviction
    end-to-end under a real watermark, not just the kernel."""
    _assert_event_ttl_verdicts(_run_event_ttl_scenario(spark, tmp_path, "ettl"))


def test_event_ttl_gate_is_session_timezone_independent(spark, tmp_path):
    """The kernel compares UTC epoch ms against UTC watermark APIs; the
    ets column is projected with unix_millis (session-TZ-independent)
    rather than derived from the pandas-rendered SESSION-LOCAL
    timestamps. Under a -8h session TZ a local-derived ets would sit
    8 h below the watermark and wipe live state every batch (or arm an
    already-expired timeout and crash) — this pins identical verdicts
    under a non-UTC session."""
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = _run_event_ttl_scenario(spark, tmp_path, "ettl_tz")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)
    _assert_event_ttl_verdicts(got)


def test_event_ttl_banded_gate_e2e(spark, tmp_path):
    """Banded (tables=2) + event-time TTL compose: same 3-batch eviction
    scenario as the single-table e2e, folded with combine_gate_tables —
    the re-copy re-admits after the watermark passes bucket horizons in
    EVERY table, and the in-window duplicate still drops."""
    _assert_event_ttl_verdicts(
        _run_event_ttl_scenario(spark, tmp_path, "bettl", tables=2)
    )


def test_registered_event_ttl_gate_self_expiry_fires(spark):
    """The r12 entry's block comment claims the trailing no-data batch
    fires hasTimedOut self-expiry for every bucket except the far-future
    outlier's — output can't show a silent state.remove(), so pin it via
    the state-operator metrics: the run's progress must show state rows
    REMOVED after the single data batch, leaving only the outlier's
    bucket resident."""
    from data_engineer_development_spark.queries.similarity import (
        _GATE_PLANES,
        _GATE_TS_BASE_MS,
        _SD_TAU,
        DIMS,
    )
    from data_engineer_development_spark.streaming.stateful import (
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
        stream_table,
    )
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    src = stream_table(spark, SF_SMOKE, "embeddings").withColumn(
        "ts",
        F.expr(
            f"timestamp_millis({_GATE_TS_BASE_MS} + CASE WHEN vec_id = 0 "
            f"THEN 2592000000 ELSE vec_id * 1000 END)"
        ),
    )
    gated = stream_neardup_gate(
        src, tau=_SD_TAU, planes=_GATE_PLANES, dims=DIMS,
        event_time_col="ts", event_ttl_ms=10_000,
        watermark_delay="1 second",
    )
    progress: list = []
    run_to_memory_sink(
        gated, "t_ettl_expiry", output_mode="update",
        assert_single_batch=True, state_partitions=4,
        no_data_batches=True, progress_out=progress,
    )
    ops = [
        (p["numInputRows"], p["stateOperators"][0])
        for p in progress
        if p.get("stateOperators")
    ]
    assert ops, "no state-operator metrics captured"
    removed = sum(op["numRowsRemoved"] for _, op in ops)
    final_total = ops[-1][1]["numRowsTotal"]
    data_total = max(op["numRowsTotal"] for n, op in ops if n > 0)
    # the data batch populated >1 bucket; expiry removed all but the
    # outlier's bucket in the trailing no-data batch
    assert data_total > 1
    assert removed == data_total - 1 and final_total == 1, (
        removed, data_total, final_total,
    )


def test_stream_domain_cap_gate_parity_and_multibatch_kernel(spark):
    """Staged r14+ candidate: ingest-time per-source admission cap.
    Parity at both fixture SFs against the batch ROW_NUMBER dual (single
    data batch asserted by the sink helper); per-source admissions never
    exceed the cap; and the kernel's CROSS-batch behavior — the part the
    single-batch e2e can't exercise — is pinned by driving it directly
    with a fake GroupState across two batches."""
    import pandas as pd

    from data_engineer_development_spark.queries.sampling import (
        _DOMAIN_CAP,
        _STREAM_DOMAIN_CAP_SQL,
        q_stream_domain_cap_gate,
    )
    from data_engineer_development_spark.streaming.stateful import (
        make_domcap_update,
    )
    from tests.conftest import SF_CORRECT, SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "stream_domain_cap_gate",
            q_stream_domain_cap_gate, _STREAM_DOMAIN_CAP_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_stream_domain_cap_gate(spark, SF_CORRECT).collect()
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
    for src, rs in per_src.items():
        assert sorted(x["rk"] for x in rs) == list(range(len(rs))), src
        assert sum(x["admitted"] for x in rs) == min(len(rs), _DOMAIN_CAP)

    # cross-batch state: cap 3, batch of 2 then batch of 2 — the second
    # batch must continue the count (ranks 2,3 → one admit, one reject)
    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    kern = make_domcap_update(3)
    st = FakeState()
    b1 = pd.DataFrame({"doc_id": [20, 10], "source": ["s", "s"]})
    out1 = pd.concat(list(kern(("s",), iter([b1]), st)))
    assert list(out1["doc_id"]) == [10, 20]  # in-batch doc_id sort
    assert list(out1["rk"]) == [0, 1]
    assert list(out1["admitted"]) == [1, 1]
    b2 = pd.DataFrame({"doc_id": [40, 30], "source": ["s", "s"]})
    out2 = pd.concat(list(kern(("s",), iter([b2]), st)))
    assert list(out2["rk"]) == [2, 3]  # count carried across batches
    assert list(out2["admitted"]) == [1, 0]  # cap bites mid-batch
    assert st.get == (4,)

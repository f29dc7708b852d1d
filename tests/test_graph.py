"""Connected-components operator (operators/graph.py): correctness on
shapes that stress the iteration — long chains (pointer-jump speedup),
multiple components, singletons, duplicate/reversed edges."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_development_spark.operators.graph import (
    connected_components,
)


def _cc(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "id: bigint")
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(None, None)], "id1: bigint, id2: bigint"
    )
    if not edges:
        edf = edf.filter(F.col("id1").isNotNull())
    out = connected_components(ndf, edf, "id", "id1", "id2")
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_chain_collapses_to_min(spark):
    # 40-node chain: the worst case for plain propagation (40 rounds);
    # pointer jumping must converge well inside max_iter=50 AND label
    # every node with the chain head.
    n = 40
    got = _cc(spark, range(n), [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}


def test_components_singletons_and_duplicate_edges(spark):
    nodes = range(10)
    edges = [
        (1, 2), (2, 1), (2, 3),          # component {1,2,3} w/ reversed dup
        (5, 6), (6, 7), (5, 7),          # component {5,6,7} w/ triangle
        (8, 9), (8, 9),                  # component {8,9} w/ exact dup
    ]
    got = _cc(spark, nodes, edges)
    assert got == {
        0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9 - 1,
    }


def test_no_edges_all_singletons(spark):
    got = _cc(spark, range(5), [])
    assert got == {i: i for i in range(5)}


def _pr_reference(edges, iterations=3, scale=1_000_000):
    """Independent pure-Python replay of the integer PageRank recurrence."""
    from collections import defaultdict

    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    nodes = sorted({n for e in edges for n in e})
    rank = {n: scale for n in nodes}
    teleport = scale * 15 // 100
    for _ in range(iterations):
        inflow = defaultdict(int)
        for s, dsts in out.items():
            c = (85 * rank[s]) // (100 * len(dsts))
            for d in dsts:
                inflow[d] += c
        rank = {n: teleport + inflow[n] for n in nodes}
    return rank


def _pr(spark, edges):
    from data_engineer_development_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["id"]: r["rank"] for r in pagerank(df).collect()}


def test_pagerank_matches_reference_recurrence(spark):
    for edges in (
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (2, 4)],
        [(i, (i * 3) % 7 + 1) for i in range(1, 8)] + [(7, 1), (2, 5)],
    ):
        assert _pr(spark, edges) == _pr_reference(edges)


def test_pagerank_dangling_node_keeps_teleport_only(spark):
    # node 3 has no outgoing edges (dangling): it receives but never sends;
    # node 2's rank after round 1 is teleport only once 1 stops feeding it
    edges = [(1, 2), (2, 3)]
    got = _pr(spark, edges)
    assert got == _pr_reference(edges)
    assert got[1] == 150_000  # nothing points at 1: pure teleport


def test_trading_communities_parity_mirror_and_partition(spark):
    """Staged r14+ candidate: deterministic label propagation over the
    trading graph. Parity at both fixture SFs; the engine labels must
    equal a pure-python mirror of the spec (synchronous update,
    self-vote, (count DESC, label ASC) argmax) at smoke scale; and the
    community histogram must partition the node set, with the fixture
    yielding more than one community at sf0.01 (non-trivial)."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.graph import (
        label_propagation,
    )
    from data_engineer_development_spark.queries.behavior import (
        _trading_communities_sql,
        q_trading_communities,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_CORRECT, SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "trading_communities",
            q_trading_communities, _trading_communities_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"

    # python mirror at smoke scale
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_suppkey") + 1_000_000).cast("long").alias("s"),
        )
        .distinct()
    )
    und = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    edges = [(r["src"], r["dst"]) for r in und.collect()]
    out_nbrs = defaultdict(list)
    nodes = set()
    for s, d in edges:
        out_nbrs[s].append(d)
        nodes.add(s)
        nodes.add(d)
    lbl = {n: n for n in nodes}
    for _ in range(3):
        votes = {n: Counter([lbl[n]]) for n in nodes}  # self-vote
        for s, d in edges:
            votes[d][lbl[s]] += 1
        lbl = {
            n: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for n, c in votes.items()
        }
    want = {}
    for n, l in lbl.items():
        want.setdefault(l, [0, None])
        want[l][0] += 1
        want[l][1] = n if want[l][1] is None else min(want[l][1], n)
    got_labels = {
        r["node"]: r["lbl"]
        for r in label_propagation(
            und.select(F.col("src").alias("id")).distinct(),
            und, "id", "src", "dst", iterations=3,
        ).collect()
    }
    assert got_labels == lbl  # engine == mirror, node for node

    rows = q_trading_communities(spark, SF_CORRECT).collect()
    total = sum(r["n_members"] for r in rows)
    n_graph_nodes = (
        load_table(spark, SF_CORRECT, "orders")
        .join(
            load_table(spark, SF_CORRECT, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_suppkey") + 1_000_000).cast("long").alias("s"),
        )
        .select(F.explode(F.array("c", "s")).alias("n"))
        .distinct()
        .count()
    )
    assert total == n_graph_nodes  # histogram partitions the node set
    assert len(rows) > 1  # the fixture is non-trivially clustered


def test_label_propagation_symmetrizes_and_covers_endpoints(spark):
    """Review r13 findings: a once-per-pair edge list (the
    connected_components src<dst convention) must behave identically to
    its explicit symmetric closure, and endpoints absent from `nodes`
    must still enter the label universe with a self-vote — not be
    silently dropped on one join side."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.graph import (
        label_propagation,
    )

    # path 1-2-3 plus isolated 9, edges named ONCE each, and `nodes`
    # deliberately missing endpoint 3
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    got = {
        r["node"]: r["lbl"]
        for r in label_propagation(
            nodes, edges, "id", "src", "dst", iterations=3
        ).collect()
    }
    # symmetric closure, python mirror (self-vote, (count desc, lbl asc))
    sym = [(1, 2), (2, 1), (2, 3), (3, 2)]
    universe = {1, 2, 3, 9}
    lbl = {n: n for n in universe}
    from collections import Counter

    for _ in range(3):
        votes = {n: Counter([lbl[n]]) for n in universe}
        for s, d in sym:
            votes[d][lbl[s]] += 1
        lbl = {
            n: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for n, c in votes.items()
        }
    assert got == lbl
    assert 3 in got and got[9] == 9  # endpoint covered; singleton kept

    # explicit symmetric input + symmetrize=False gives the same answer
    sym_df = spark.createDataFrame(sym, "src long, dst long")
    got2 = {
        r["node"]: r["lbl"]
        for r in label_propagation(
            nodes, sym_df, "id", "src", "dst",
            iterations=3, symmetrize=False,
        ).collect()
    }
    assert got2 == lbl


def test_label_propagation_large_iterations_checkpoint_mode(spark):
    """ADVICE r13: past LP_CHECKPOINT_AFTER rounds the loop must stop
    stacking O(iterations) persisted label frames and switch to the
    lineage-truncating local checkpoint with free= — peak retention ONE
    generation. Pins both the answer (same python mirror as the 3-round
    test, converged well before 9 rounds) and the retention contract
    (exactly one tracked checkpoint generation, zero new tracked
    persists beyond the operator's own label frames)."""
    from collections import Counter

    from data_engineer_development_spark import cache
    from data_engineer_development_spark.operators.graph import (
        LP_CHECKPOINT_AFTER,
        label_propagation,
    )

    iters = LP_CHECKPOINT_AFTER + 1
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    cache.release_tracked()
    n_df_before = len(cache._TRACKED)
    got = {
        r["node"]: r["lbl"]
        for r in label_propagation(
            nodes, edges, "id", "src", "dst", iterations=iters
        ).collect()
    }
    # retention: one live checkpoint generation (superseded ones were
    # freed via free= inside the loop), no per-round persists tracked
    assert len(cache._TRACKED_RDDS) == 1
    assert len(cache._TRACKED) == n_df_before
    cache.release_tracked()

    sym = [(1, 2), (2, 1), (2, 3), (3, 2)]
    universe = {1, 2, 3, 9}
    lbl = {n: n for n in universe}
    for _ in range(iters):
        votes = {n: Counter([lbl[n]]) for n in universe}
        for s, d in sym:
            votes[d][lbl[s]] += 1
        lbl = {
            n: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for n, c in votes.items()
        }
    assert got == lbl

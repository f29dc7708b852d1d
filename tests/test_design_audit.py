"""One path per decision, one driver pool — mechanized.

Driver-side job overlap goes through ONE helper, ``cache.overlap``: the
checkpoint bookkeeping in ``cache.py`` serializes on a lock there, which
only holds if no other thread pool submits Spark jobs. And each vector
kernel (quantizer, cell scorer) has ONE physical path; a ``via=`` switch
between alternates kept only for tests must not grow back — an
equivalence reference belongs in the test that pins it. Scratch data has
one lifetime rule: checkpoints go through ``cache.local_checkpoint_tracked``,
query scratch dirs are ``tempfile.TemporaryDirectory``, and the choice of
RAM-backed checkpoint storage is made in one module. The quantized cosine
of the semantic-dedup family is one function, ``similarity._qcos``. The
snapshot log is decoded in one function, ``snapshots._manifest``, and its
on-disk paths and filesystem are resolved in one helper each. The
streaming near-dup gate is one stateful pipeline with one state and one
output schema, whatever its dials. The lexical and hash near-dup family has
one join per shape: one md5-keyed shingle-overlap join
(``dedup._shingle_overlap``), one pigeonhole hamming join
(``dedup.hamming_pairs``) and, in the queries, one shingled documents frame
(``queries.dedup._docs_with_shingles``). The float-cosine family has one
numpy sequential fold (``similarity._seq_dot``), one broadcast block-pairs
scorer (``similarity._block_pairs``), one exact top-k (``cosine_topk``) and,
in the queries, one IVF nearest-centroid assignment
(``queries.extras._ivf_ranked``).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "data_engineer_development_spark"

_POOL = re.compile(r"ThreadPoolExecutor|\bThread\b")


def test_driver_threads_only_in_cache():
    found = sorted(
        str(py.relative_to(PKG))
        for py in PKG.rglob("*.py")
        if _POOL.search(py.read_text())
    )
    assert found == ["cache.py"], (
        f"thread pools outside cache.py: {found} — fan out with cache.overlap"
    )


def test_no_function_takes_a_via_switch():
    found = []
    for py in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "via" in names:
                    found.append(f"{py.relative_to(PKG)}:{node.lineno}")
    assert not found, f"alternate-path switches: {found}"


def _modules_containing(pattern: str, root: Path = PKG) -> list[str]:
    return sorted(
        str(py.relative_to(PKG))
        for py in root.rglob("*.py")
        if pattern in py.read_text()
    )


def test_every_checkpoint_is_tracked():
    assert _modules_containing(".localCheckpoint(") == ["cache.py"], (
        "raw localCheckpoint outside cache.py — use local_checkpoint_tracked"
    )


def test_query_scratch_dirs_are_temporary_directories():
    found = [
        m
        for pattern in ("gettempdir(", "mkdtemp(")
        for m in _modules_containing(pattern, PKG / "queries")
    ]
    assert not found, f"hand-rolled scratch dirs: {found}"


def test_ram_scratch_rule_lives_in_one_module():
    assert _modules_containing("/dev/shm") == ["streaming/windows.py"]


def test_quantized_cosine_has_one_formula():
    """The semantic-dedup family scores through ONE function: the integer
    denominator ``outer(qn, qn')`` is written once, inside ``_qcos``."""
    import inspect

    from data_engineer_development_spark.operators.similarity import _qcos

    found = {
        str(py.relative_to(PKG)): n
        for py in sorted(PKG.rglob("*.py"))
        if (n := py.read_text().count("np.outer("))
    }
    assert found == {"operators/similarity.py": 1}, found
    assert "np.outer(" in inspect.getsource(_qcos)


def test_snapshot_log_has_one_decode_and_one_path_rule():
    """``["action"]`` is compared only inside ``_manifest``; the Hadoop
    FileSystem is resolved only in ``_fs`` and the ``dv/<fid>@<v>`` path
    is built only in ``_dv_dir``."""
    import inspect

    from data_engineer_development_spark.operators import snapshots

    src = (PKG / "operators" / "snapshots.py").read_text()
    in_manifest = inspect.getsource(snapshots._manifest).count('["action"]')
    assert in_manifest and src.count('["action"]') == in_manifest
    assert src.count("getFileSystem(") == 1
    assert src.count("@{") == 1


def test_neardup_gate_is_one_stateful_pipeline():
    """``stream_neardup_gate`` makes ONE ``applyInPandasWithState`` call —
    a table count of 1 is a stack of one, and the TTL dials only pick the
    timeout — and ``stateful.py`` defines one gate state schema and one
    gate output schema."""
    import inspect

    from data_engineer_development_spark.streaming import stateful

    body = inspect.getsource(stateful.stream_neardup_gate)
    assert body.count(".applyInPandasWithState(") == 1
    names = [
        t.id
        for node in ast.parse(inspect.getsource(stateful)).body
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    ]
    assert sorted(n for n in names if re.search(r"GATE_\w*_SCHEMA$", n)) == [
        "GATE_OUTPUT_SCHEMA",
        "GATE_STATE_SCHEMA",
    ]


def _functions_containing(pattern: str, root: Path) -> list[str]:
    """``module:function`` of every top-level function under ``root`` whose
    source contains ``pattern``; a module-level occurrence counts as
    ``module:<module>``."""
    found = []
    for py in sorted(root.rglob("*.py")):
        src = py.read_text()
        if pattern not in src:
            continue
        rel = str(py.relative_to(PKG))
        funcs = [
            node
            for node in ast.parse(src).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and pattern in ast.get_source_segment(src, node)
        ]
        found += [f"{rel}:{f.name}" for f in funcs]
        in_funcs = sum(ast.get_source_segment(src, f).count(pattern) for f in funcs)
        if src.count(pattern) > in_funcs:
            found.append(f"{rel}:<module>")
    return found


def test_near_dup_family_has_one_join_per_shape():
    """The hamming verify (``bit_count(``) and the md5 shingle-key
    ``transform(`` each live in ONE operator function, and the queries
    shingle documents in ONE helper."""
    ops = PKG / "operators"
    assert _functions_containing("bit_count(", ops) == [
        "operators/dedup.py:hamming_pairs"
    ]
    assert _functions_containing("x -> {spark_md5_int('x')})", ops) == [
        "operators/dedup.py:_shingle_overlap"
    ]
    assert _functions_containing('shingles_expr("t", k=3)', PKG / "queries") == [
        "queries/dedup.py:_docs_with_shingles"
    ]


def test_float_cosine_family_has_one_path_per_shape():
    """The numpy ``acc +=`` dims fold lives only in ``_seq_dot``, the IVF
    centroid fan-out only in ``_ivf_ranked``, the ``mapInPandas`` pair
    scorer only in ``_block_pairs``, and the all-pairs and top-k operators
    take no column-name, LSH or ceiling options."""
    import inspect

    from data_engineer_development_spark.operators import similarity as S

    assert _functions_containing("acc +=", PKG) == [
        "operators/similarity.py:_seq_dot"
    ]
    assert _functions_containing("crossJoin(F.broadcast(cents))", PKG / "queries") == [
        "queries/extras.py:_ivf_ranked"
    ]
    assert _functions_containing(".mapInPandas(score_blocks", PKG / "operators") == [
        "operators/similarity.py:_block_pairs"
    ]
    removed = {"id_col", "vec_col", "use_lsh", "planes", "max_broadcast_rows"}
    for fn in (
        S.cosine_topk,
        S.neardup_pairs_cosine,
        S.quantized_neardup_pairs,
        S.semdedup,
        S.semdedup_incremental,
        S.semdedup_sharded,
    ):
        assert not removed & set(inspect.signature(fn).parameters), fn.__name__
    assert "dims" not in inspect.signature(S.neardup_pairs_cosine).parameters
    assert "vec_col" not in inspect.signature(S.bucket_assign).parameters
    assert not hasattr(S, "cosine")

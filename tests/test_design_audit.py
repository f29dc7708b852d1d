"""One path per decision, one driver pool — mechanized.

Driver-side job overlap goes through ONE helper, ``cache.overlap``: the
checkpoint bookkeeping in ``cache.py`` serializes on a lock there, which
only holds if no other thread pool submits Spark jobs. And each vector
kernel (quantizer, cell scorer) has ONE physical path; a ``via=`` switch
between alternates kept only for tests must not grow back — an
equivalence reference belongs in the test that pins it.
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

"""The session factory works for callers outside the repository root."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from data_engineer_development_spark.operators.similarity import _with_quantized
from data_engineer_development_spark.session import get_spark

spark = get_spark(app_name="outside-cwd", cpus="1")
df = spark.createDataFrame([(1, [3.0, 4.0])], "vec_id long, embedding array<float>")
print("ROWS", [tuple(r) for r in _with_quantized(df, "vec_id", "embedding").collect()])
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A script that puts the repo on its own ``sys.path`` (not on
    ``PYTHONPATH``) and runs from another directory must still reach the
    package inside Python workers, which do not inherit ``sys.path``."""
    script = tmp_path / "probe.py"
    script.write_text(_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS [(1, [3.0, 4.0], [95, 127], 25154)]" in out.stdout, out.stdout

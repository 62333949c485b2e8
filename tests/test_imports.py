"""Every subpackage imports on its own, in a fresh interpreter: no
import cycle depends on another package having been imported first."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
MODULES = sorted(
    p.parent.name for p in (ROOT / "etl_pipelines_spark").glob("*/__init__.py")
) + ["textops.dedup"]


@pytest.mark.parametrize("module", MODULES)
def test_imports_in_fresh_interpreter(module):
    r = subprocess.run(
        [sys.executable, "-c", f"import etl_pipelines_spark.{module}"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr[-2000:]

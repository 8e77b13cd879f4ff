"""Engine modules import without pandas.

Kernels are pickled by reference to their module, so a Python worker
imports every engine module a kernel reaches. Only ``synth.py``, the
driver-side fixture generator, may pull pandas in. Each module is
imported in a fresh interpreter: the pytest process has pandas loaded.

Not checked here, because it does not hold: pandas staying out of a
worker after a kernel has run. pyarrow's own numpy interop
(``Array.to_numpy``, ``pa.array``, compute calls with Python scalars)
imports pandas through pyarrow's lazy pandas shim when pandas is
installed, so any kernel that touches numpy loads it.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
ENGINE_MODULES = sorted(
    ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
    for p in (ROOT / "harvester_fgp_spark").rglob("*.py")
    if p.name != "synth.py"
)


@pytest.mark.parametrize("module", ENGINE_MODULES)
def test_engine_module_import_leaves_pandas_out(module):
    out = subprocess.run(
        [sys.executable, "-c", f"import sys, {module}; print('pandas' in sys.modules)"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["False"], module

"""Zip deployment: the committed ``engine.zip`` (``make package``) must be
the tree, and the engine's zipimport shim must stop per-task re-reads
of unchanged archives without hiding a rewritten one. Both run in a
fresh interpreter so nothing already imported by the suite leaks in."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
ENGINE_ZIP = ROOT / "engine.zip"


def _run(code: str, *args: str, cwd: Path) -> str:
    proc = subprocess.run(
        [sys.executable, "-I", "-c", textwrap.dedent(code), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_engine_zip_matches_tree():
    tree = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "harvester_fgp_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(ENGINE_ZIP) as z:
        zipped = {
            n: z.read(n)
            for n in z.namelist()
            if n.endswith(".py") and "__pycache__" not in n
        }
    assert sorted(zipped) == sorted(tree), "rebuild with `make package`"
    stale = [n for n in tree if zipped[n] != tree[n]]
    assert not stale, f"stale in engine.zip (run `make package`): {stale}"


def test_engine_imports_from_zip(tmp_path):
    out = _run(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        import harvester_fgp_spark
        from harvester_fgp_spark.plans.pipeline import mine_records
        from harvester_fgp_spark.geo.pip import PolygonIndex
        print(harvester_fgp_spark.__file__)
        """,
        str(ENGINE_ZIP),
        cwd=tmp_path,
    )
    assert out.strip().startswith(str(ENGINE_ZIP))


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads eagerly",
)
def test_unchanged_archive_not_reread(tmp_path):
    """A zipped package with several subpackages gets one zipimporter per
    package directory. After the engine import, invalidate_caches()
    reads each archive at most once (not once per importer), an
    unchanged archive is then never re-read, and a rewritten archive's
    new module still imports."""
    out = _run(
        """
        import importlib, sys, zipfile, zipimport

        arc, root = sys.argv[1:3]
        sys.path.append(root)

        def build(extra):
            with zipfile.ZipFile(arc, "w") as z:
                z.writestr("zpkg/__init__.py", "")
                for sub in ("a", "b", "c"):
                    z.writestr(f"zpkg/{sub}/__init__.py", "")
                    z.writestr(f"zpkg/{sub}/mod.py", "X = 1\\n")
                if extra:
                    z.writestr("zpkg/a/fresh.py", "Y = 2\\n")

        build(extra=False)
        sys.path.insert(0, arc)
        import zpkg.a.mod, zpkg.b.mod, zpkg.c.mod
        importers = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter) and i.archive == arc
        ]
        assert len(importers) >= 4, importers

        import harvester_fgp_spark  # installs the shim

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        importlib.invalidate_caches()
        first = reads.count(arc)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        unchanged = reads.count(arc) - first

        build(extra=True)
        importlib.invalidate_caches()
        rewritten = reads.count(arc) - first - unchanged
        from zpkg.a.fresh import Y
        assert Y == 2
        print(len(importers), first, unchanged, rewritten)
        """,
        str(tmp_path / "zpkg.zip"),
        str(ROOT),
        cwd=tmp_path,
    )
    n_importers, first, unchanged, rewritten = map(int, out.split())
    assert first <= 1 < n_importers
    assert unchanged == 0
    assert rewritten == 1

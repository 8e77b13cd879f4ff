"""No-per-row-Python lint (SURVEY.md §5.2-6, BASELINE.json:15).

Engine modules must not use row-at-a-time ``udf(``, RDD APIs, or
driver-side ``collect()`` loops. Tests and tools are exempt.
"""

from __future__ import annotations

import re
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "harvester_fgp_spark"

BANNED = (
    (re.compile(r"(?<![\w.])udf\("), "row-at-a-time udf()"),
    (re.compile(r"\.rdd\b"), ".rdd access"),
    (re.compile(r"\.collect\(\)"), "driver-side collect()"),
    (re.compile(r"\.toPandas\(\)"), "driver-side toPandas()"),
    (re.compile(r"\bmapPartitions\b"), "raw mapPartitions"),
)


def test_no_unwaived_series_map_in_engine():
    """Round-3 extension: ``.map(`` on a pandas Series is per-row Python
    inside the Arrow batch — banned in engine modules unless the line (or
    the one above it) carries an explicit ``# per-row-ok: <reason>``
    waiver stating why no vectorized/builtin equivalent exists. (Flushed
    out token_count_udf, which had a pure-JVM regexp_extract_all twin.)"""
    pat = re.compile(r"\.map\(")
    offenders = []
    for path in ENGINE.rglob("*.py"):
        lines = path.read_text().splitlines()
        for i, text_line in enumerate(lines):
            stripped = text_line.strip()
            if not pat.search(text_line) or stripped.startswith("#"):
                continue
            # accept a waiver anywhere in the contiguous comment block
            # directly above the call
            j = i - 1
            waived = "per-row-ok:" in text_line
            while j >= 0 and lines[j].strip().startswith("#"):
                waived = waived or "per-row-ok:" in lines[j]
                j -= 1
            if waived:
                continue
            offenders.append(f"{path.name}:{i + 1}: {stripped}")
    assert not offenders, "\n".join(offenders)


def test_no_per_row_python_in_engine():
    offenders = []
    for path in ENGINE.rglob("*.py"):
        src = path.read_text()
        for pat, label in BANNED:
            for m in pat.finditer(src):
                line = src[: m.start()].count("\n") + 1
                # pandas_udf( contains "udf(" — exempt via lookbehind above;
                # double-check the match isn't inside a comment/docstring
                text_line = src.splitlines()[line - 1].strip()
                if text_line.startswith("#"):
                    continue
                offenders.append(f"{path.name}:{line} {label}: {text_line}")
    assert not offenders, "\n".join(offenders)


def test_annotations_resolve_in_engine_modules():
    """Round-4 extension (verdict wrong-#3): with ``from __future__ import
    annotations`` every annotation is a lazy string, so a signature can
    reference a never-imported name (``Column``) and work fine — until a
    ``typing.get_type_hints`` consumer NameErrors on it. Resolve every
    module-level callable's hints eagerly so annotation-only imports
    can't rot."""
    import importlib
    import inspect
    import typing

    failures = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE.parent).with_suffix("")
        mod_name = ".".join(rel.parts)
        mod = importlib.import_module(mod_name)
        for name, fn in vars(mod).items():
            if not (inspect.isfunction(fn) and fn.__module__ == mod_name):
                continue
            try:
                typing.get_type_hints(fn)
            except Exception as ex:  # noqa: BLE001
                failures.append(f"{mod_name}.{name}: {ex!r}")
    assert not failures, "\n".join(failures)


# `spark.read[.option(..)...].parquet(f"{sf_dir}/...`: a fixture read
# that bypasses `sources.tables.read_testdata` and its declared schema
FIXTURE_READ = re.compile(
    r"spark\.read(?:\.\w+\([^()]*\))*\.parquet\(\s*f[\"']\{sf_dir\}/"
)


def test_fixture_reads_use_declared_schemas():
    """A fixture read without a schema runs a footer-merge Spark job per
    call (~75-100 ms at sf0.1); the query surface and the derived geo
    inputs read every fixture table through `read_testdata`."""
    offenders = []
    paths = [ENGINE.parent / "__spark_entry__.py", *(ENGINE / "plans").rglob("*.py")]
    for path in paths:
        src = path.read_text()
        for m in FIXTURE_READ.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{path.name}:{line}: {m.group(0)}")
    assert not offenders, "\n".join(offenders)


def test_entry_module_has_no_collect():
    src = (ENGINE.parent / "__spark_entry__.py").read_text()
    assert ".collect()" not in src
    assert ".rdd" not in src

"""Guard against dangling script references: every `scripts/<name>`
cited in the package, the tests, bench.py, README.md or the verify
skill must exist, and every script in scripts/ must compile and
import. Also pins how bench.py splits its total into sections."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import py_compile
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "flink_fraud_detection_rocks_db_app_spark"
CITE = re.compile(r"(?<![\w/.])scripts/(\w+)")


def _citing_files() -> list[str]:
    pats = [
        "flink_fraud_detection_rocks_db_app_spark/**/*.py",
        "tests/*.py",
        "bench.py",
        "README.md",
        ".claude/skills/verify/SKILL.md",
    ]
    return sorted(
        f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
    )


def test_cited_scripts_exist():
    dangling = {}
    for f in _citing_files():
        with open(f, encoding="utf-8") as fh:
            for name in CITE.findall(fh.read()):
                if not os.path.isfile(os.path.join(ROOT, "scripts", f"{name}.py")):
                    dangling.setdefault(os.path.relpath(f, ROOT), set()).add(name)
    assert not dangling, f"cited scripts that do not exist: {dangling}"


def test_every_script_compiles(tmp_path):
    scripts = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    assert scripts
    for path in scripts:
        py_compile.compile(
            path, cfile=str(tmp_path / os.path.basename(path)), doraise=True
        )


def _load(path: str):
    """Import a top-level file as a module, without running its main."""
    name = "under_test_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_script_imports():
    """Each script imports without running its main, and every package
    name it imports inside a function exists too."""
    scripts = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    assert scripts
    missing = []
    for path in scripts:
        assert callable(_load(path).main), path
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
                mod = importlib.import_module(node.module)
                missing += [
                    f"{os.path.basename(path)}: {node.module}.{a.name}"
                    for a in node.names
                    if not hasattr(mod, a.name)
                ]
    assert not missing, f"scripts import names that do not exist: {missing}"


def test_bench_bills_stream_rows_to_stream():
    bench = _load(os.path.join(ROOT, "bench.py"))
    timings = {
        "tumble_sum_3s": 1.5,
        "stream_cdc_upsert_replay": 2.25,  # a replay face in HEADLINE
        "stream_tumble_sum_1h": 4.0,  # a _stream_benches job
        "dedup_exact": -1.0,  # failed rows count in neither section
        "stream_scd2_replay": -1.0,
    }
    assert bench.section_totals(timings) == (1.5, 6.25)

"""Guard against dangling script references: every `scripts/<name>`
cited in the package, the tests, bench.py, README.md or the verify
skill must exist, and every script in scripts/ must compile."""

from __future__ import annotations

import glob
import os
import py_compile
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
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

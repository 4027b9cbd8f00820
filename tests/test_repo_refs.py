"""Dangling-reference check (no Spark): every test a source comment
cites, and every tool a document cites, exists.

A comment that names `tests/test_x.py::test_y` is a claim that the
behaviour it describes is pinned; a document that says "re-run
`python tools/z.py`" is a claim that the command works. Both rot
silently when a test or tool is renamed or deleted. Historical round
files (ROADMAP.md, VERDICT.md, OPTIMIZATION_r06.md, CHANGES.md) record
what was true at the time and are out of scope.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

TEST_REF = re.compile(r"tests/(test_\w+\.py)(?:::(\w+))?")
TOOL_REF = re.compile(r"tools/(\w+\.py)")


def _sources() -> list[Path]:
    return (sorted((ROOT / "canned_yaml_spark").glob("*.py"))
            + sorted((ROOT / "tools").glob("*.py"))
            + [ROOT / "__spark_entry__.py"])


def _docs() -> list[Path]:
    named = [ROOT / n for n in ("README.md", "FIXTURES.md", "COVERAGE.md",
                                "PLANS.md", "perfbench/README.md")]
    return ([p for p in named if p.exists()]
            + sorted((ROOT / "BENCH").glob("*.md"))
            + sorted((ROOT / "canned_yaml_spark").glob("*.py")))


def _defined_names(path: Path) -> set[str]:
    tree = ast.parse(path.read_text())
    return {n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))}


def test_cited_tests_exist():
    missing = []
    names: dict[str, set[str]] = {}
    for src in _sources():
        for m in TEST_REF.finditer(src.read_text()):
            fname, test = m.group(1), m.group(2)
            path = ROOT / "tests" / fname
            where = f"{src.relative_to(ROOT)}: {m.group(0)}"
            if not path.exists():
                missing.append(where)
            elif test is not None:
                if fname not in names:
                    names[fname] = _defined_names(path)
                if test not in names[fname]:
                    missing.append(where)
    assert not missing, "dangling test references:\n" + "\n".join(missing)


def test_cited_tools_exist():
    missing = [f"{doc.relative_to(ROOT)}: {m.group(0)}"
               for doc in _docs()
               for m in TOOL_REF.finditer(doc.read_text())
               if not (ROOT / "tools" / m.group(1)).exists()]
    assert not missing, "dangling tool references:\n" + "\n".join(missing)

"""Dangling-reference check (no Spark): every test a source comment
cites, every tool a document cites, and every package function a
document cites, exists. Also the reverse: every top-level def and
class method in the package is reached by the program's code, or is
allowlisted with a reason.

A comment that names `tests/test_x.py::test_y` is a claim that the
behaviour it describes is pinned; a document that says "re-run
`python tools/z.py`" is a claim that the command works; a document
that names `dataset.unique_violations` is a claim that the API exists.
All three rot silently when a test, tool or function is renamed or
deleted. Historical round files (ROADMAP.md, VERDICT.md,
OPTIMIZATION_r06.md, CHANGES.md) record what was true at the time and
are out of scope.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

TEST_REF = re.compile(r"tests/(test_\w+\.py)(?:::(\w+))?")
TOOL_REF = re.compile(r"tools/(\w+\.py)")
# `<module>.<name>`, optionally package-qualified; not part of a longer
# dotted chain or a path (`pyspark.sql.functions`, `tools/x.py`)
API_REF = re.compile(r"(?<![\w./-])(?:canned_yaml_spark\.)?(\w+)\.(\w+)")


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


def _top_level_names(path: Path) -> set[str]:
    names = _defined_names(path)
    for node in ast.parse(path.read_text()).body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        names |= {n.id for t in targets for n in ast.walk(t)
                  if isinstance(n, ast.Name)}
    return names


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


def test_cited_package_names_exist():
    modules = {p.stem: p for p in (ROOT / "canned_yaml_spark").glob("*.py")
               if p.stem != "__init__"}
    names: dict[str, set[str]] = {}
    missing = []
    for doc in ("README.md", "COVERAGE.md", "FIXTURES.md"):
        for m in API_REF.finditer((ROOT / doc).read_text()):
            module, name = m.groups()
            if module not in modules or name == "py":   # file, not API
                continue
            if module not in names:
                names[module] = _top_level_names(modules[module])
            if name not in names[module]:
                missing.append(f"{doc}: {m.group(0)}")
    assert not missing, "dangling API references:\n" + "\n".join(missing)


#: top-level package defs that no code outside tests reaches, each
#: with the reason it stays; the audit treats them as extra roots
TEST_ONLY_DEFS = {
    "pipeline.prep_run": "declared entry point: the training-prep run "
                         "(validate, quarantine, dedup) for callers",
    "streaming.validate_stream": "declared entry point: the append-mode "
                                 "violations sink for callers",
    "streaming.windowed_verdicts": "declared entry point: per-window "
                                   "stream verdicts for callers",
    "streaming.rate_clips_stream": "declared entry point: the non-file "
                                   "stream source for callers",
    "streaming.validate_stream_with_lineage": "declared entry point: the "
                                              "committing stream sink "
                                              "for callers",
    "dedup.embedding_near_dups": "test oracle: the exact all-pairs "
                                 "cosine the LSH path is checked against",
    "drift._ks_2samp": "test oracle: the raw two-sample KS the engine "
                       "KS is checked against",
    "fixtures.golden_rule_counts": "test oracle: the injected-defect "
                                   "counts of a fixture table",
    "loudness.k_weight_gain_db": "test oracle: the analytic K-weighting "
                                 "gain the loudness tests expect",
    "jpeg.block_constant_decoded": "test oracle: the decoded value of a "
                                   "constant JPEG block",
    "flac.frame_info": "test inspector: the header fields of one FLAC "
                       "frame",
}


def _used_names(nodes) -> set[str]:
    """The names a piece of code uses: `Name` ids, `Attribute` attrs and
    imported names. Comments are gone and docstrings are string
    constants, so neither counts."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                out |= {a.name.rsplit(".", 1)[-1] for a in n.names}
    return out


def _reached(seeds: set[str], roots: set[str],
             defs: dict[str, set[str]]) -> set[str]:
    """Package defs reachable from the def keys `seeds` and the bare
    names `roots`, following the names each reached def uses. A bare
    name reaches every package def of that name."""
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    reached, todo = set(), list(seeds)
    for name in roots:
        todo += by_name.get(name, [])
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        for name in defs[key]:
            todo += by_name.get(name, [])
    return reached


def test_package_defs_are_named_or_allowlisted():
    """Every top-level def in canned_yaml_spark/, and every method of a
    package class (by attribute name), is reached by code from
    __spark_entry__.py, bench.py, tools/, perfbench/ or the package's
    module-level statements, directly or through the names other
    reached defs use; or it is in TEST_ONLY_DEFS. Only code counts: a
    name in a comment or docstring reaches nothing. An allowlist entry
    that the program, or another entry, now reaches must leave the
    list."""
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    kinds = (*funcs, ast.ClassDef)
    for p in sorted((ROOT / "canned_yaml_spark").glob("*.py")):
        body = ast.parse(p.read_text()).body
        for node in body:
            if isinstance(node, funcs):
                defs[f"{p.stem}.{node.name}"] = _used_names([node])
            elif isinstance(node, ast.ClassDef):
                key = f"{p.stem}.{node.name}"
                # a method is reached by its attribute name; a dunder
                # runs whenever its class does
                methods = [n for n in node.body if isinstance(n, funcs)
                           and not n.name.startswith("__")]
                for m in methods:
                    defs[f"{key}.{m.name}"] = _used_names([m])
                defs[key] = _used_names(
                    [*node.bases, *node.decorator_list,
                     *(n for n in node.body if n not in methods)])
        roots |= _used_names([n for n in body if not isinstance(n, kinds)])
    for p in ([ROOT / "__spark_entry__.py", ROOT / "bench.py"]
              + sorted((ROOT / "tools").rglob("*.py"))
              + sorted((ROOT / "perfbench").rglob("*.py"))):
        roots |= _used_names([ast.parse(p.read_text())])
    assert TEST_ONLY_DEFS.keys() <= defs.keys(), (
        "allowlisted defs that do not exist: "
        + ", ".join(sorted(TEST_ONLY_DEFS.keys() - defs.keys())))

    dead = defs.keys() - _reached(set(TEST_ONLY_DEFS), roots, defs)
    assert not dead, (
        "package defs only tests reach: move an oracle to TEST_ONLY_DEFS "
        "with its reason, or delete the def\n" + "\n".join(sorted(dead)))
    stale = {key for key in TEST_ONLY_DEFS
             if key in _reached(set(TEST_ONLY_DEFS) - {key}, roots, defs)}
    assert not stale, ("allowlisted defs the program reaches: "
                       + ", ".join(sorted(stale)))

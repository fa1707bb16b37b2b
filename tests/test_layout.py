"""Package layout: every module is reached from a crawl, query or benchmark
entry point, and every top-level function and class is named outside its
own definition by some non-test file, so no code exists only for its own
tests. Spark-free: the sources are read with ``ast``; nothing is imported."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "azure_blob_crawler_spark"
ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "bench_extra.py", "tools/*.py", "perfbench/*.py"]
# Known unreached modules, each due for deletion (ROADMAP item 10). The set
# must shrink, never grow: the test fails on any other unreached module and
# on an entry here that is reached or gone.
PENDING_DELETION = {"azure_blob_crawler_spark.operators.multimodal"}
# Python oracle twins no non-test file names (ROADMAP item 3 pins every twin
# with a paired-equality test). Like PENDING_DELETION, the set must shrink.
UNREFERENCED_TWINS = {
    "azure_blob_crawler_spark.functions.robots.is_disallowed_py",
    "azure_blob_crawler_spark.functions.urls.resolve_href_py",
}


def _package_modules() -> dict[str, Path]:
    """Dotted module name -> file; a package's ``__init__`` is the package."""
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path) -> set[str]:
    """Dotted names a file imports anywhere in its body (the package uses
    absolute imports only). ``from X import Y`` yields X and X.Y, since Y
    may be a submodule."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _reached(mods: dict[str, Path]) -> set[str]:
    """Transitive closure of package modules imported from the entry points.
    Importing a.b.c also runs the ``__init__`` of a and a.b."""
    seen: set[str] = set()
    todo = [p for pattern in ENTRY_POINTS for p in ROOT.glob(pattern)]
    while todo:
        for name in _imports(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append(mods[m])
    return seen


def test_every_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    reached = _reached(mods)
    unreached = {m for m, p in mods.items() if p.name != "__init__.py" and m not in reached}
    new = sorted(unreached - PENDING_DELETION)
    assert not new, f"modules no entry point imports: {new}"
    stale = sorted(PENDING_DELETION - unreached)
    assert not stale, f"reached or gone, drop from PENDING_DELETION: {stale}"


def _names_outside_definitions(path: Path) -> set[str]:
    """Identifiers a file uses, and words of its string constants
    (docstrings included), outside the top-level definition they name."""
    tree = ast.parse(path.read_text(), str(path))
    owner = {}
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for node in ast.walk(top):
                owner[id(node)] = top.name
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            found = {node.id}
        elif isinstance(node, ast.Attribute):
            found = {node.attr}
        elif isinstance(node, ast.alias):
            found = {node.name.rsplit(".", 1)[-1]}
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            found = set(re.findall(r"\w+", node.value))
        else:
            continue
        names |= found - {owner.get(id(node))}
    return names


def test_every_definition_is_named_outside_tests():
    non_test = [
        p for p in ROOT.rglob("*.py")
        if not {"tests", ".perfbench_work", ".perfbench_out"} & set(p.relative_to(ROOT).parts)
    ]
    named = set().union(*(_names_outside_definitions(p) for p in non_test))
    unnamed = set()
    for mod, path in _package_modules().items():
        if mod in PENDING_DELETION:
            continue
        for top in ast.parse(path.read_text(), str(path)).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if top.name not in named:
                    unnamed.add(f"{mod}.{top.name}")
    new = sorted(unnamed - UNREFERENCED_TWINS)
    assert not new, f"definitions only tests name: {new}"
    stale = sorted(UNREFERENCED_TWINS - unnamed)
    assert not stale, f"named or gone, drop from UNREFERENCED_TWINS: {stale}"

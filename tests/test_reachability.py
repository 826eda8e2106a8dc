"""Every module of the package is reachable: following import statements
(parsed with `ast`, never executed) from the tests, `perfbench/`,
`scripts/` and the top-level `*.py` entry points reaches each module under
`pytorch_ie_spark/`. A module nothing reaches is dead code to delete."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "pytorch_ie_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, modules: set[str]) -> set[str]:
    """Package modules `path` imports, with each parent package of a dotted
    name and a `from pkg import name` submodule; relative imports resolve
    against the file's own package."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            targets.add(base)
            targets.update(f"{base}.{alias.name}" for alias in node.names)
    reached = set()
    for target in targets:
        parts = target.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & modules


def test_every_package_module_is_reachable():
    files = {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}
    modules = set(files)
    roots = [
        *ROOT.glob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
    ]
    todo = set().union(*(_imported(p, modules) for p in roots))
    seen = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= _imported(files[name], modules) - seen
    assert sorted(modules - seen) == []

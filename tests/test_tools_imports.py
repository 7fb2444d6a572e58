"""The scripts under tools/ are not imported by any other test, so a rename
in mbgspark can leave one of them unable to start. Walk each script's
``from mbgspark… import name`` statements (and its imports of sibling
tools) and check that every name still resolves."""

import ast
import importlib
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule, e.g. ``from mbgspark import jvmseam``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_tools_imports_resolve():
    missing = []
    for script in sorted(TOOLS.glob("*.py")):
        for node in ast.walk(ast.parse(script.read_text())):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            names = [a.name for a in node.names]
            mod = node.module or ""
            if mod == "mbgspark" or mod.startswith("mbgspark."):
                missing += [
                    f"{script.name}: {mod}.{n}" for n in names if not _resolves(mod, n)
                ]
            elif (TOOLS / f"{mod}.py").exists():
                defined = _top_level_names(TOOLS / f"{mod}.py")
                missing += [
                    f"{script.name}: {mod}.{n}" for n in names if n not in defined
                ]
    assert not missing, missing

"""The scripts under tools/ are not imported by any other test, so a rename
in mbgspark can leave one of them unable to start. Walk each script's
``from mbgspark… import name`` statements (and its imports of sibling
tools) and check that every name still resolves. Also check that no
script or test puts an absolute path on ``sys.path``."""

import ast
import importlib
import os
from pathlib import Path

TESTS = Path(__file__).resolve().parent
TOOLS = TESTS.parent / "tools"


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


def test_no_absolute_sys_path_literals():
    """A script or test that puts an absolute checkout path on
    ``sys.path`` imports THAT checkout's engine and tools when it runs
    from any other checkout (a parent copy for an A/B, a CI workspace).
    Paths must be derived from ``__file__``."""
    found = []
    for script in sorted([*TOOLS.glob("*.py"), *TESTS.glob("*.py")]):
        for node in ast.walk(ast.parse(script.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
            ):
                continue
            found += [
                f"{script.parent.name}/{script.name}:{node.lineno}: {arg.value}"
                for arg in node.args
                if isinstance(arg, ast.Constant)
                and isinstance(arg.value, str)
                and os.path.isabs(arg.value)
            ]
    assert not found, found

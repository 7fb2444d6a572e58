"""The scripts under tools/ are not imported by any other test, so a rename
in mbgspark can leave one of them unable to start. Walk each script's
``from mbgspark… import name`` statements (and its imports of sibling
tools) and check that every name still resolves, and that every keyword a
script passes to an engine function still exists. Also check that no
script or test puts an absolute path on ``sys.path``."""

import ast
import importlib
import inspect
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


def _engine_bindings(tree: ast.AST) -> dict[str, object]:
    """Local name → engine object for every ``from mbgspark… import name``
    in the script, at any depth (``import … as dd`` binds a module)."""
    bound = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        mod = node.module or ""
        if mod != "mbgspark" and not mod.startswith("mbgspark."):
            continue
        for a in node.names:
            # an unresolved name is test_tools_imports_resolve's finding
            if _resolves(mod, a.name):
                module = importlib.import_module(mod)
                bound[a.asname or a.name] = getattr(module, a.name)
    return bound


def _dotted(expr: ast.expr) -> list[str] | None:
    parts = []
    while isinstance(expr, ast.Attribute):
        parts.append(expr.attr)
        expr = expr.value
    if not isinstance(expr, ast.Name):
        return None
    return [expr.id, *reversed(parts)]


def test_tools_engine_call_keywords_exist():
    """A keyword that an engine function no longer takes (a deleted
    switch or hook) fails only when that tool branch runs. Check every
    call to an engine function, by imported name or through a module
    alias such as ``dd.minhash_near_dups``, against its signature."""
    bad = []
    for script in sorted(TOOLS.glob("*.py")):
        tree = ast.parse(script.read_text())
        bound = _engine_bindings(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            chain = _dotted(node.func)
            if not chain or chain[0] not in bound:
                continue
            obj = bound[chain[0]]
            for attr in chain[1:]:
                if not inspect.ismodule(obj):
                    obj = None
                    break
                if not hasattr(obj, attr):
                    bad.append(f"{script.name}:{node.lineno}: no {'.'.join(chain)}")
                    obj = None
                    break
                obj = getattr(obj, attr)
            if obj is None or not callable(obj) or inspect.ismodule(obj):
                continue
            params = inspect.signature(obj).parameters.values()
            if any(p.kind is p.VAR_KEYWORD for p in params):
                continue
            names = {p.name for p in params if p.kind is not p.POSITIONAL_ONLY}
            bad += [
                f"{script.name}:{node.lineno}: {'.'.join(chain)}({kw.arg}=)"
                for kw in node.keywords
                if kw.arg is not None and kw.arg not in names
            ]
    assert not bad, bad


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

"""Every module of the package is imported by some real entry point.

Walks the AST imports (module-level and function-local) from the CLI, the
driver contract, the bench scripts and the perfbench harness, and requires
that the walk reaches every module under ``tecs_hardware_kbc_spark/``.
A module that only its own tests import is dead code: wire it in or delete it.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "tecs_hardware_kbc_spark"
ENTRY_POINTS = [
    f"{PKG}/__main__.py",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "perfbench/run.py",
    "perfbench/worker.py",
    "perfbench/trace.py",
    "perfbench/proc.py",
]


def _module_path(name):
    """Source file of a dotted module name in this repo, or None."""
    base = os.path.join(ROOT, *name.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _package_modules():
    mods = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[:-3]
                parts = rel.split(os.sep)
                if parts[-1] == "__init__":
                    parts.pop()
                mods.add(".".join(parts))
    return mods


def _imports(path, name):
    """Dotted names a source file imports, with parent packages."""
    is_pkg = path.endswith("__init__.py")
    package = name if is_pkg else name.rpartition(".")[0]
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = parts[: len(parts) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            # ``from pkg import sub`` may name a submodule
            out.update(f"{mod}.{a.name}" for a in node.names)
    withparents = set()
    for mod in out:
        parts = mod.split(".")
        withparents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return withparents


def reached_modules():
    seen, todo = set(), []
    for rel in ENTRY_POINTS:
        name = rel[:-3].replace("/", ".")
        seen.add(name)
        todo.append((os.path.join(ROOT, rel), name))
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name):
            if mod in seen:
                continue
            target = _module_path(mod)
            if target is not None:
                seen.add(mod)
                todo.append((target, mod))
    return seen


def test_every_package_module_is_reachable():
    unreached = sorted(_package_modules() - reached_modules())
    assert not unreached, f"modules no entry point imports: {unreached}"

"""Dead-code guard: every top-level function in dice_spark/ must be referenced
by name somewhere in the code base other than by its own definition.

Pure ``ast`` walk, no Spark. A reference is a bare name, an attribute, an
imported name or a string constant equal to the function name (the last
covers getattr-style lookups); uses inside the function's own body do not
count, so a function reachable only from itself is still dead.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEARCHED = ["dice_spark", "tests", "tools", "perfbench", "__spark_entry__.py", "bench.py"]


def _py_files(entry: str) -> list[Path]:
    p = ROOT / entry
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def _referenced_names(tree: ast.Module) -> set[str]:
    """Names referenced in ``tree``, outside the body of the top-level
    function of the same name."""
    own_span = {
        n.name: (n.lineno, n.end_lineno)
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            name = node.value
        else:
            continue
        span = own_span.get(name)
        line = getattr(node, "lineno", None)
        if span and line is not None and span[0] <= line <= span[1]:
            continue
        refs.add(name)
    return refs


def test_every_library_function_is_referenced():
    defined: dict[str, str] = {}
    referenced: set[str] = set()
    for entry in SEARCHED:
        for path in _py_files(entry):
            tree = ast.parse(path.read_text(), filename=str(path))
            referenced |= _referenced_names(tree)
            if entry == "dice_spark":
                for n in tree.body:
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        defined[n.name] = str(path.relative_to(ROOT))
    dead = sorted(f"{where}:{name}" for name, where in defined.items() if name not in referenced)
    assert not dead, f"unreferenced top-level functions: {dead}"


def test_every_library_parameter_is_read():
    """Every parameter of a ``dice_spark`` function (top-level, nested or
    method; ``self``/``cls`` aside) is read somewhere in its body, nested
    scopes included. An unread parameter is an option that silently does
    nothing."""
    unread = []
    for path in _py_files("dice_spark"):
        for fn in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
            params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
            reads = {
                n.id
                for stmt in fn.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            unread += [
                f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({p})"
                for p in params
                if p not in ("self", "cls") and p not in reads
            ]
    assert not unread, f"parameters never read: {unread}"


def test_operators_read_no_environment():
    """Operator behaviour is fixed by code, not by environment knobs: the one
    driver-or-distributed ceiling is ``adaptive.DRIVER_MAX_ROWS``. Deployment
    settings (master, memory) belong to ``session.py``."""
    env_names = {"environ", "getenv", "environb", "getenvb"}
    readers = []
    for path in _py_files("dice_spark/operators"):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and node.attr in env_names:
                hit = isinstance(node.value, ast.Name) and node.value.id == "os"
            elif isinstance(node, ast.ImportFrom):
                hit = node.module == "os" and any(a.name in env_names for a in node.names)
            else:
                continue
            if hit:
                readers.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not readers, f"operators reading the environment: {readers}"


# (file, enclosing top-level function) -> why it may build a frame itself.
LIST_FRAME_ALLOWED = {
    ("dice_spark/operators/adaptive.py", "local_frame"): "the one Arrow entry point",
    ("dice_spark/synth.py", "make_transcripts"): (
        "test-data builder over caller-made rows with timestamps, not a driver path"
    ),
}


def test_driver_rows_enter_through_local_frame():
    """Driver rows become a DataFrame only through ``adaptive.local_frame``
    (an Arrow-built LocalRelation). A ``createDataFrame(<list>)`` is a
    LogicalRDD over a pickled PythonRDD whose every read forks Python
    workers."""
    calls = []
    for entry in ("dice_spark", "__spark_entry__.py"):
        for path in _py_files(entry):
            rel = str(path.relative_to(ROOT))
            for top in ast.parse(path.read_text(), filename=str(path)).body:
                owner = getattr(top, "name", None)
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and (rel, owner) not in LIST_FRAME_ALLOWED
                    ):
                        calls.append(f"{rel}:{node.lineno}")
    assert not calls, f"createDataFrame outside adaptive.local_frame: {calls}"

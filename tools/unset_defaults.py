"""Count the package's defaulted parameters and list those that no call
site in the checkout ever sets (by keyword, by position, or through a
``functools.partial``).  A default no caller overrides is a constant
spelled as an option.  Usage:

    python tools/unset_defaults.py [-v]

Prints ``defaulted N unset M`` and a per-file count; ``-v`` lists each
unset parameter as ``file line function parameter``.  Resolution is by
callee NAME, so two functions sharing a name share their call sites,
and a call with ``*args`` or an unresolvable ``**kwargs`` counts as
setting every parameter.
"""

from __future__ import annotations

import ast
import collections
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spark_streaming_postgres_lab2_spark"


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _trees() -> dict[str, ast.Module]:
    trees = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [
            x for x in dirs
            if not x.startswith(".") and x not in ("plans", "spark-warehouse")
        ]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    trees[path] = ast.parse(fh.read())
    return trees


def _defs(trees) -> dict[str, list]:
    """name -> [(file, line, params, defaulted)]; a class's __init__ is
    filed under the class name (its call sites call the class)."""
    defs: dict[str, list] = {}
    for path, tree in trees.items():
        if f"{os.sep}{PKG}{os.sep}" not in path:
            continue
        for node in ast.walk(tree):
            fns = []
            if isinstance(node, ast.ClassDef):
                fns = [(node.name, b) for b in node.body
                       if isinstance(b, ast.FunctionDef) and b.name == "__init__"]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name != "__init__":
                fns = [(node.name, node)]
            for name, fn in fns:
                a = fn.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                if pos[:1] in (["self"], ["cls"]):
                    pos = pos[1:]
                kw = [k.arg for k in a.kwonlyargs]
                dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
                dflt += [k for k, d in zip(kw, a.kw_defaults) if d is not None]
                defs.setdefault(name, []).append((path, fn.lineno, pos + kw, dflt))
    return defs


def main() -> None:
    trees = _trees()
    defs = _defs(trees)
    set_by_call: dict[str, set] = collections.defaultdict(set)
    all_set: set = set()
    for path, tree in trees.items():
        # keys of dict literals / dict() calls bound to a name, for **name
        dict_keys: dict[str, set] = {}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                v = node.value
                if isinstance(v, ast.Call) and _callee(v.func) == "dict" and not v.args:
                    dict_keys.setdefault(node.targets[0].id, set()).update(
                        k.arg for k in v.keywords)
                elif isinstance(v, ast.Dict) and all(isinstance(k, ast.Constant) for k in v.keys):
                    dict_keys.setdefault(node.targets[0].id, set()).update(
                        k.value for k in v.keys)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name, args = _callee(node.func), node.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name not in defs:
                continue
            for k in node.keywords:
                if k.arg is not None:
                    set_by_call[name].add(k.arg)
                elif getattr(k.value, "id", None) in dict_keys:
                    set_by_call[name].update(dict_keys[k.value.id])
                else:
                    all_set.add(name)
            if any(isinstance(a, ast.Starred) for a in args):
                all_set.add(name)
            for _, _, params, _ in defs[name]:
                set_by_call[name].update(params[: len(args)])
    total, unset = 0, []
    for name, entries in defs.items():
        for path, line, _, dflt in entries:
            total += len(dflt)
            if name not in all_set:
                unset += [(os.path.relpath(path, ROOT), line, name, p)
                          for p in dflt if p not in set_by_call[name]]
    print("defaulted", total, "unset", len(unset))
    for f, n in sorted(collections.Counter(u[0] for u in unset).items()):
        print(f"  {n:3d} {f}")
    if "-v" in sys.argv:
        for u in sorted(unset):
            print(*u)


if __name__ == "__main__":
    main()

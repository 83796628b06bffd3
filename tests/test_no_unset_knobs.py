"""No parameter that no caller sets: an AST lint over the whole repo.

A defaulted parameter of a function defined under ``docling_plus_spark/``
must be set by some call in the repo (package, tests, tools, perfbench and
the entry scripts), by keyword or by position; otherwise it is a knob with
one value and belongs inline or in a module constant. Calls are matched by
name (``f(...)`` and ``x.f(...)``; a class's ``__init__`` by the class
name). A call that only forwards an unset parameter of its own function
(``g(n=n)`` inside ``f(n=3)``) does not set it: the scan repeats until it
finds nothing new. A function that escapes as a value (a dict entry, a
callback argument or a ``getattr`` target) is exempt, since its callers
cannot be seen.

Nor may a package function take a parameter its body never reads: callers
set it, so the scan above cannot see it. Signatures an interface fixes are
exempt (see ``_interface_fixed``).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "docling_plus_spark"


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if not any(p.startswith(".") or p == "__pycache__" for p in rel.parts):
            yield path, ast.parse(path.read_text(), str(path))


def _name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _defaulted(fn, offset):
    """``(name, position or None)`` of each defaulted parameter of ``fn``."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    out = [(a.arg, i - offset) for i, a in enumerate(positional) if i >= first]
    out += [(a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    return out


def _definitions():
    """``(name, param, position, where)`` over the package's functions."""
    params = []
    for path, tree in _sources():
        if PACKAGE not in path.parents:
            continue
        for owner in ast.walk(tree):
            for fn in ast.iter_child_nodes(owner):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                method = isinstance(owner, ast.ClassDef) and not any(
                    _name(d) == "staticmethod" for d in fn.decorator_list)
                name = owner.name if method and fn.name == "__init__" else fn.name
                where = f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}"
                for param, pos in _defaulted(fn, int(method)):
                    params.append((name, param, pos, where))
    return params


def _calls():
    """Yield ``(callee, set params or ALL, forwarded)`` per call in the repo,
    plus the names of functions that escape as values (``callee`` None).
    ``forwarded`` maps a param the call sets to the ``(function, param)`` of
    the enclosing function it forwards, when it forwards one bare."""
    for _, tree in _sources():
        # a bare name the module binds as a variable is not a function
        local = {n.id for n in ast.walk(tree)
                 if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
        local |= {a.arg for a in ast.walk(tree) if isinstance(a, ast.arg)}

        def values_of(values):
            return {_name(v) for v in values
                    if not isinstance(v, ast.Name) or v.id not in local}

        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node
            if isinstance(node, ast.Dict):
                yield None, values_of(node.values), {}
            if isinstance(node, ast.Call):
                callee = _name(node.func)
                yield None, values_of(node.args + [k.value for k in node.keywords]), {}
                if callee == "getattr" and len(node.args) > 1:
                    yield None, {getattr(node.args[1], "value", None)}, {}
                if any(isinstance(a, ast.Starred) for a in node.args) or any(
                        k.arg is None for k in node.keywords):
                    yield callee, "ALL", {}
                else:
                    own = {a.arg for a in fn.args.args + fn.args.kwonlyargs} if fn else set()
                    bound = [(i, a) for i, a in enumerate(node.args)]
                    bound += [(k.arg, k.value) for k in node.keywords]
                    forwarded = {key: (fn.name, v.id) for key, v in bound
                                 if isinstance(v, ast.Name) and v.id in own}
                    yield callee, {key for key, _ in bound}, forwarded
            stack.extend((child, fn) for child in ast.iter_child_nodes(node))


def unset_knobs():
    """``where(param)`` of each defaulted parameter that no caller sets."""
    params = _definitions()
    escaped, calls = set(), []
    for callee, keys, forwarded in _calls():
        if callee is None:
            escaped |= keys
        else:
            calls.append((callee, keys, forwarded))
    by_name = {}
    for name, param, pos, where in params:
        by_name.setdefault(name, []).append((param, pos, where))
    unset = set()
    while True:
        is_set = set()
        for callee, keys, forwarded in calls:
            for param, pos, where in by_name.get(callee, ()):
                key = next((k for k in (param, pos) if keys == "ALL" or k in keys), None)
                if key is not None and forwarded.get(key) not in unset:
                    is_set.add((where, param))
        missing = [(name, param, where) for name, param, _, where in params
                   if (where, param) not in is_set and name not in escaped]
        now = {(name, param) for name, param, _ in missing}
        if now == unset:
            return sorted(f"{where}({param})" for _, param, where in missing)
        unset = now


def _interface_fixed(path, owner, fn, param) -> bool:
    """The curation stages all take the parsed ``args``; ``HTMLParser``
    calls its ``handle_*`` hooks with the tag; the format registry calls
    every ``convert_*`` converter with ``name`` and ``filename``."""
    if path.name == "job_curate.py" and fn.name.startswith("_st_"):
        return True
    if (isinstance(owner, ast.ClassDef) and fn.name.startswith("handle_")
            and any(_name(b) == "HTMLParser" for b in owner.bases)):
        return True
    return fn.name.startswith("convert_") and param in ("name", "filename")


def unread_parameters():
    """``where(param)`` of each parameter of a package function that no
    ``Name`` in its body reads (``self``/``cls`` of methods aside)."""
    out = []
    for path, tree in _sources():
        if PACKAGE not in path.parents:
            continue
        for owner in ast.walk(tree):
            for fn in ast.iter_child_nodes(owner):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                args = fn.args
                params = [a.arg for a in args.posonlyargs + args.args + args.kwonlyargs]
                params += [a.arg for a in (args.vararg, args.kwarg) if a is not None]
                if isinstance(owner, ast.ClassDef) and not any(
                        _name(d) == "staticmethod" for d in fn.decorator_list):
                    params = params[1:]
                read = {n.id for stmt in fn.body for n in ast.walk(stmt)
                        if isinstance(n, ast.Name)}
                out += [f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({p})"
                        for p in params
                        if p not in read and not _interface_fixed(path, owner, fn, p)]
    return out


def test_every_defaulted_parameter_is_set_by_some_caller():
    knobs = unset_knobs()
    assert not knobs, f"{len(knobs)} parameters no caller sets:\n" + "\n".join(knobs)


def test_every_parameter_is_read():
    unread = unread_parameters()
    assert not unread, f"{len(unread)} parameters no body reads:\n" + "\n".join(unread)

"""No knob with one value: AST lints over the whole repo.

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

Nor may every call pass a parameter, required or defaulted, the same
literal: a call that leaves a defaulted one out passes the default, and
one that forwards a one-value parameter of its own function passes that
parameter's value (again to a fixpoint). A call that leaves a required
one out (another function of the same name) passes no literal. Such a
parameter is a constant: a column, table or CTE name inline, a value an
operator and its DuckDB twin share a module constant both read. The few
kept on purpose are named in ``ONE_VALUE_SEAMS``, each with its reason.

Nor may a package function take a parameter its body never reads: callers
set it, so the scans above cannot see it. Signatures an interface fixes are
exempt (see ``_interface_fixed``).
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "docling_plus_spark"

#: ``(module, function, param)`` of the one-value parameters kept, each
#: for a reason the scan cannot see
ONE_VALUE_SEAMS = {
    # perfbench/workloads.py passes it positionally, and perfbench is the
    # benchmark's own code, which changes only with the benchmark
    ("sources/snapshot.py", "done_keys", "key"),
    # the LSH queries are to take these from scale_params at their data size
    ("operators/ann.py", "lsh_table_keys_sql", "tables"),
    ("operators/ann.py", "lsh_table_keys_sql", "bits"),
    ("operators/ann.py", "scale_params", "tables"),
    # must match hyperball_registers(m), which the tests run at 12, 16 and 64
    ("operators/graph.py", "hyperball_estimate", "m"),
    # a synthetic input relation __spark_entry__.py builds in SQL (a
    # relation, its prefix CTEs, an edge list, a VALUES list), not a
    # tuning value
    ("operators/cluster.py", "semdedup_sql", "table"),
    ("operators/cluster.py", "semdedup_sql", "pre_ctes"),
    ("operators/packing.py", "sequence_pack_sql", "table"),
    ("operators/ann.py", "bitext_mine_sql", "lang_expr"),
    ("operators/graph.py", "hyperball_registers_sql", "edges_cte"),
    ("operators/webclean.py", "url_blocklist_filter_sql", "table"),
    ("operators/webclean.py", "url_blocklist_filter_sql", "blocklist_values"),
}

_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef)

#: the default of a required parameter: a key no passed value shares, so a
#: call that leaves it out (another function of the same name) never counts
#: as passing a literal
REQUIRED = "required", None


@functools.cache
def _sources():
    """``(path, tree)`` of every ``.py`` file in the repo, parsed once."""
    out = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if not any(p.startswith(".") or p == "__pycache__" for p in rel.parts):
            out.append((path, ast.parse(path.read_text(), str(path))))
    return tuple(out)


@functools.cache
def _package_functions():
    """``(path, owner, fn)`` of every function defined in the package. A
    ``def`` is a statement, so the walk descends through statements only."""
    out = []
    for path, tree in _sources():
        if PACKAGE in path.parents:
            stack = [tree]
            while stack:
                owner = stack.pop()
                for node in ast.iter_child_nodes(owner):
                    if isinstance(node, (ast.stmt, ast.excepthandler, ast.match_case)):
                        stack.append(node)
                    if isinstance(node, _FUNCTIONS):
                        out.append((path, owner, node))
    return tuple(out)


def _name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_method(owner, fn) -> bool:
    return isinstance(owner, ast.ClassDef) and not any(
        _name(d) == "staticmethod" for d in fn.decorator_list)


def _value(node):
    """``("lit", repr)`` of a literal, else a key no other value shares."""
    try:
        return "lit", repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return "expr", id(node)


def _definitions():
    """``(callee, param, position or None, default, where, (module,
    function))`` of each parameter of a package function (``self``/``cls``
    of methods and ``*``/``**`` parameters aside); a required one's default
    is ``REQUIRED``."""
    out = []
    for path, owner, fn in _package_functions():
        method = _is_method(owner, fn)
        callee = owner.name if method and fn.name == "__init__" else fn.name
        where = f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}"
        key = (path.relative_to(PACKAGE).as_posix(), fn.name)
        args = fn.args
        positional = args.posonlyargs + args.args
        first = len(positional) - len(args.defaults)
        for i, a in enumerate(positional[method:], method):
            default = REQUIRED if i < first else _value(args.defaults[i - first])
            out.append((callee, a.arg, i - method, default, where, key))
        for a, d in zip(args.kwonlyargs, args.kw_defaults):
            out.append((callee, a.arg, None, REQUIRED if d is None else _value(d),
                        where, key))
    return out


def _calls(tree):
    """``(callee, args)`` per call in ``tree``, ``args`` ``"ALL"`` (a
    ``*``/``**`` call) or a map from each parameter the call sets, by
    keyword or position, to its value: ``_value``'s key, or ``("fwd",
    function, param)`` when it forwards a parameter of the enclosing
    function bare. Then the names of functions that escape as values."""
    calls, values, local, escaped = [], [], set(), set()
    stack = [(tree, None)]
    while stack:
        node, fn = stack.pop()
        if isinstance(node, _FUNCTIONS):
            fn = node
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            local.add(node.id)
        elif isinstance(node, ast.arg):
            local.add(node.arg)
        elif isinstance(node, ast.Dict):
            values += node.values
        elif isinstance(node, ast.Call):
            callee = _name(node.func)
            values += node.args + [k.value for k in node.keywords]
            if callee == "getattr" and len(node.args) > 1:
                escaped.add(getattr(node.args[1], "value", None))
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords):
                calls.append((callee, "ALL"))
            else:
                own = {a.arg for a in fn.args.args + fn.args.kwonlyargs} if fn else ()
                bound = list(enumerate(node.args))
                bound += [(k.arg, k.value) for k in node.keywords]
                calls.append((callee, {
                    key: ("fwd", fn.name, v.id)
                    if isinstance(v, ast.Name) and v.id in own else _value(v)
                    for key, v in bound}))
        stack.extend((child, fn) for child in ast.iter_child_nodes(node))
    # a bare name the module binds as a variable is not a function
    escaped |= {_name(v) for v in values
                if not isinstance(v, ast.Name) or v.id not in local}
    return calls, escaped


@functools.cache
def _scan():
    """The package's parameters, the calls to them and the function names
    that escape as values."""
    params = _definitions()
    by_name = {}
    for callee, param, pos, default, where, _ in params:
        by_name.setdefault(callee, []).append((param, pos, default, where))
    calls, escaped = [], set()
    for _, tree in _sources():
        found, names = _calls(tree)
        calls += [c for c in found if c[0] in by_name]
        escaped |= names
    return params, calls, by_name, escaped


def unset_knobs():
    """``where(param)`` of each defaulted parameter that no caller sets."""
    params, calls, by_name, escaped = _scan()
    unset = set()
    while True:
        is_set = set()
        for callee, args in calls:
            for param, pos, _, where in by_name[callee]:
                if args == "ALL":
                    is_set.add((where, param))
                    continue
                key = next((k for k in (param, pos) if k in args), None)
                if key is not None and args[key][1:] not in unset:
                    is_set.add((where, param))
        missing = {(where, param, fn)
                   for callee, param, _, default, where, (_, fn) in params
                   if default != REQUIRED and (where, param) not in is_set
                   and callee not in escaped}
        now = {(fn, param) for _, param, fn in missing}
        if now == unset:
            return sorted(f"{where}({param})" for where, param, _ in missing)
        unset = now


def one_value_knobs():
    """``where(param) = value`` of each parameter that every call passes
    the same literal, ``ONE_VALUE_SEAMS`` aside."""
    params, calls, by_name, escaped = _scan()
    one = {}
    while True:
        passed = {}
        for callee, args in calls:
            for param, pos, default, where in by_name[callee]:
                if args == "ALL":
                    value = "expr", None
                else:
                    value = next((args[k] for k in (param, pos) if k in args), default)
                if value[0] == "fwd":
                    value = one.get(value[1:], ("expr", None))
                passed.setdefault((where, param), set()).add(value)
        now = {}
        for callee, param, _, _, where, (module, fn) in params:
            values = passed.get((where, param), set())
            if (len(values) == 1 and next(iter(values))[0] == "lit"
                    and callee not in escaped
                    and (module, fn, param) not in ONE_VALUE_SEAMS):
                now[(fn, param)] = where, next(iter(values))
        if now.keys() == one.keys():
            return sorted(f"{where}({param}) = {value[1]}"
                          for (_, param), (where, value) in now.items())
        one = {key: value for key, (_, value) in now.items()}


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
    for path, owner, fn in _package_functions():
        args = fn.args
        params = [a.arg for a in args.posonlyargs + args.args + args.kwonlyargs]
        params += [a.arg for a in (args.vararg, args.kwarg) if a is not None]
        if _is_method(owner, fn):
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


def test_no_parameter_gets_one_value_from_every_call():
    knobs = one_value_knobs()
    assert not knobs, (f"{len(knobs)} parameters every call passes one value:\n"
                       + "\n".join(knobs))

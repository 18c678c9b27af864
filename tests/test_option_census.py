"""Census of the engine's option surface (no Spark session needed).

Every defaulted parameter of a public engine function must be one that
some caller outside ``tests/`` sets: a default that only tests change
is an option no gate, tool or benchmark runs, and the code behind its
other values is untested in production. The engine is
``python_tool_setup_spark/`` outside ``queries/``; its callers are the
whole package, ``tools/``, ``perfbench/`` (without its tests),
``bench.py`` and ``__spark_entry__.py``.

Calls are matched by function name (a bare name or an attribute), so
two functions that share a name share their callers. A call sets a
parameter when it passes it by keyword, by position, or through
``*args`` / ``**kwargs``. A parameter that a caller only forwards from
one of its own unset defaulted parameters stays unset, so the census
iterates to a fixpoint.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "python_tool_setup_spark"

# (module, function, parameter) -> why the option stays; each reason is
# also a comment beside the parameter itself.
KEPT = {
    ("session.py", "get_spark", "master"): "a deployment setting",
    ("cli.py", "main", "argv"): "the console entry point",
    ("operators/merge.py", "merge_upsert", "check_duplicate_source_keys"): (
        "rejects malformed input from outside"
    ),
    ("operators/merge.py", "merge_upsert_bucketed", "on_staged"): (
        "the commit seam the conflict tests substitute"
    ),
}


def _engine_files(root: pathlib.Path):
    pkg = root / "python_tool_setup_spark"
    for p in sorted(pkg.rglob("*.py")):
        if "queries" not in p.relative_to(pkg).parts:
            yield p


def _caller_files(root: pathlib.Path):
    yield from sorted((root / "python_tool_setup_spark").rglob("*.py"))
    for d in ("tools", "perfbench"):
        for p in sorted((root / d).rglob("*.py")):
            if "tests" not in p.relative_to(root).parts:
                yield p
    for name in ("bench.py", "__spark_entry__.py"):
        if (root / name).exists():
            yield root / name


def _defaulted(fn: ast.FunctionDef, skip_self: bool) -> dict[str, int | None]:
    """Defaulted parameter -> its index among the positional arguments a
    caller passes (None for keyword-only)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out: dict[str, int | None] = {
        arg.arg: i - skip_self for i, arg in enumerate(pos) if i >= first
    }
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out[arg.arg] = None
    return out


def _public_functions(root: pathlib.Path):
    """(module, qualname) -> (called name, defaulted parameters)."""
    pkg = root / "python_tool_setup_spark"
    funcs = {}
    for p in _engine_files(root):
        mod = p.relative_to(pkg).as_posix()
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                funcs[(mod, node.name)] = (node.name, _defaulted(node, False))
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("_"):
                        static = any(
                            isinstance(d, ast.Name) and d.id == "staticmethod"
                            for d in m.decorator_list
                        )
                        funcs[(mod, f"{node.name}.{m.name}")] = (
                            m.name,
                            _defaulted(m, not static),
                        )
    return {k: v for k, v in funcs.items() if v[1]}


def _calls(root: pathlib.Path):
    """(called name, call node, enclosing function defs, innermost last)."""
    out = []

    def walk(node, scope):
        for ch in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                inner = scope + (ch,)
            elif isinstance(ch, ast.Call):
                f = ch.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    out.append((name, ch, scope))
            walk(ch, inner)

    for p in _caller_files(root):
        walk(ast.parse(p.read_text()), ())
    return out


def _passed(call: ast.Call, param: str, index: int | None):
    """The expression a call passes for ``param``; a starred or
    double-starred argument counts as passing it."""
    for kw in call.keywords:
        if kw.arg == param or kw.arg is None:
            return kw.value
    starred = [a for a in call.args if isinstance(a, ast.Starred)]
    if index is not None and index < len(call.args) and not starred:
        return call.args[index]
    return starred[0] if starred else None


def census(root: pathlib.Path = ROOT) -> dict[tuple[str, str], list[str]]:
    """(module, function) -> its defaulted parameters no non-test caller
    sets, the kept ones excluded."""
    funcs = _public_functions(root)
    calls = _calls(root)
    by_def = {}
    for key, (_name, params) in funcs.items():
        by_def.setdefault(key[1].rsplit(".", 1)[-1], []).append(key)
    unset = {
        key: {p for p in params if (key[0], key[1], p) not in KEPT}
        for key, (_name, params) in funcs.items()
    }

    def forwarded_unset(value, scope) -> bool:
        # the innermost enclosing def that binds the name decides
        if not isinstance(value, ast.Name):
            return False
        for fn in reversed(scope):
            a = fn.args
            names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
            if value.id in names:
                if isinstance(fn, ast.Lambda):
                    return False
                return any(
                    value.id in unset[k] for k in by_def.get(fn.name, ())
                )
        return False

    changed = True
    while changed:
        changed = False
        for key, (name, params) in funcs.items():
            for param in sorted(unset[key]):
                for called, call, scope in calls:
                    if called != name:
                        continue
                    value = _passed(call, param, params[param])
                    if value is not None and not forwarded_unset(value, scope):
                        unset[key].discard(param)
                        changed = True
                        break
    return {
        key: [p for p in funcs[key][1] if p in unset[key]]
        for key in sorted(unset)
        if unset[key]
    }


def test_every_engine_option_has_a_caller():
    hits = census()
    listed = "\n".join(f"{m}::{f}({', '.join(ps)})" for (m, f), ps in hits.items())
    assert not hits, (
        "defaulted parameters that no caller outside tests/ sets; fold each "
        f"into the value every caller gets:\n{listed}"
    )


def test_kept_options_exist_and_say_why():
    funcs = _public_functions(ROOT)
    for (mod, fn, param), reason in KEPT.items():
        assert param in funcs[(mod, fn)][1], (mod, fn, param)
        src = (PKG / mod).read_text()
        assert reason in src, f"{mod}::{fn}({param}) lost its reason comment"

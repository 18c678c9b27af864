"""Census of the engine's names and option surface (no Spark session
needed).

Every engine name must be reached, and every defaulted parameter of a
public engine function must be one that some caller outside ``tests/``
sets: a name or an option that only tests use is code no gate, tool or
benchmark runs. The engine is ``python_tool_setup_spark/``; its callers
are the whole package, ``tools/``, ``perfbench/`` (without its tests),
``bench.py`` and ``__spark_entry__.py``.

Both walks match by name (a bare name or an attribute), so two
definitions that share a name share their callers.

The reach walk (``census``) covers every top-level function, class,
public method and module-level constant of the package, ``queries/``
included. Its roots are the ``@register`` gates, the package's
module-level statements and the callers outside the package. A name is
reached when a reached scope loads or calls it; an ``import`` or an
``__all__`` entry does not count. Dunders and the methods Spark's Python
data source API calls back are exempt. The walk iterates to a fixpoint,
so a helper that only a dead function reaches is dead too.

The option walk (``option_census``) covers the public functions outside
``queries/``. A call sets a parameter when it passes it by keyword, by
position, or through ``*args`` / ``**kwargs``. A parameter that a caller
only forwards from one of its own unset defaulted parameters stays
unset, so the census iterates to a fixpoint.
"""

from __future__ import annotations

import ast
import pathlib
import shutil

import pyspark.sql.datasource as spark_datasource

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "python_tool_setup_spark"

# (module, function, parameter) -> why the option stays; each reason is
# also a comment beside the parameter itself.
KEPT = {
    ("session.py", "get_spark", "master"): "a deployment setting",
    ("cli.py", "main", "argv"): "the console entry point",
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


def option_census(root: pathlib.Path = ROOT) -> dict[tuple[str, str], list[str]]:
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


def _loads(nodes) -> set[str]:
    """Every name and attribute the nodes load or call."""
    out = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name) and isinstance(x.ctx, ast.Load):
                out.add(x.id)
            elif isinstance(x, ast.Attribute) and isinstance(x.ctx, ast.Load):
                out.add(x.attr)
    return out


def _is_gate(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in fn.decorator_list
    )


def _is_hook(cls: ast.ClassDef, method: str) -> bool:
    """A method Spark calls back: one that a base class from
    ``pyspark.sql.datasource`` declares."""
    for b in cls.bases:
        base = getattr(spark_datasource, getattr(b, "id", ""), None)
        if isinstance(base, type) and any(method in vars(c) for c in base.__mro__):
            return True
    return False


def _definitions(root: pathlib.Path):
    """(module, qualname) -> (name, the nodes its scope runs), the
    roots, and the module-level statements every import runs."""
    pkg = root / "python_tool_setup_spark"
    defs, roots, always = {}, set(), []
    for p in sorted(pkg.rglob("*.py")):
        mod = p.relative_to(pkg).as_posix()
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                defs[(mod, node.name)] = (node.name, [node])
                if _is_gate(node):
                    roots.add((mod, node.name))
            elif isinstance(node, ast.ClassDef):
                own = [*node.bases, *node.keywords, *node.decorator_list]
                for m in node.body:
                    if (
                        isinstance(m, ast.FunctionDef)
                        and not m.name.startswith("_")
                        and not _is_hook(node, m.name)
                    ):
                        defs[(mod, f"{node.name}.{m.name}")] = (m.name, [m])
                    else:
                        own.append(m)
                defs[(mod, node.name)] = (node.name, own)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                if len(names) == len(targets) and not any(
                    n.startswith("__") and n.endswith("__") for n in names
                ):
                    for n in names:
                        defs[(mod, n)] = (n, [node.value] if node.value else [])
                else:
                    always.append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                always.append(node)
    for p in _caller_files(root):
        if pkg not in p.parents:
            always.append(ast.parse(p.read_text()))
    return defs, roots, always


def census(root: pathlib.Path = ROOT) -> list[str]:
    """``module::name`` of every engine name no reached scope loads."""
    defs, roots, always = _definitions(root)
    reached = set(roots)
    loaded = _loads(always)
    for key in roots:
        loaded |= _loads(defs[key][1])
    changed = True
    while changed:
        changed = False
        for key, (name, nodes) in defs.items():
            if key not in reached and name in loaded:
                reached.add(key)
                loaded |= _loads(nodes)
                changed = True
    return [f"{m}::{n}" for m, n in sorted(defs) if (m, n) not in reached]


def test_every_engine_name_is_reached():
    dead = census()
    assert not dead, (
        "engine names that no gate, tool or benchmark reaches; give each "
        "a caller or delete it:\n" + "\n".join(dead)
    )


def test_census_names_planted_dead_code(tmp_path):
    pkg = tmp_path / "python_tool_setup_spark"
    pkg.mkdir()
    shutil.copy(PKG / "staging.py", pkg / "staging.py")
    planted = pkg / "planted.py"
    planted.write_text(
        "from python_tool_setup_spark.staging import staging_dir\n"
        "_UNREAD = 3\n"
        "_READ = 4\n"
        "def uncalled():\n"
        "    return staging_dir('x')\n"
        "def helper():\n"
        "    return _READ\n"
        "@register('q0', None)\n"
        "def gate(spark, sf_dir):\n"
        "    uncalled = None\n"  # a store is not a load
        "    return helper()\n"
    )
    dead = census(root=tmp_path)
    assert {"planted.py::_UNREAD", "planted.py::uncalled"} <= set(dead)
    assert not {"planted.py::_READ", "planted.py::helper", "planted.py::gate"} & set(dead)
    # only the dead function calls staging_dir, so it is dead too
    assert "staging.py::staging_dir" in dead


def test_every_engine_option_has_a_caller():
    hits = option_census()
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

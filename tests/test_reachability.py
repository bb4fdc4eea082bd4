"""Every top-level definition in the package is reached from a runtime
surface, every option of an operator, function, source or plan is set by
one, and no environment variable but a deployment setting is read, so
code, options and env knobs with no caller cannot come back unnoticed.

The runtime surfaces are the registered builders, module-level
statements, the CLI (``__main__.py``), ``bench.py``, ``__spark_entry__.py``
and the benchmark harness (``perfbench/*.py``, not its tests). The walk is
name-based and static: a definition is reached when a reached body loads
its name or an attribute of that name. Docstrings and other string
literals do not count. A name shared by two definitions reaches both, so
the check can only miss dead code, never invent it.
"""

from __future__ import annotations

import ast
import glob
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "spacex_data_pipeline_spark")

# Unreached on purpose: readable reference forms that tests compare the
# production paths against.
REFERENCE_FORMS = {
    ("operators/dedup.py", "embedding_cosine_pairs"):
        "brute-force cosine pairs the blocked and IVF pair generators must equal",
    ("operators/similarity.py", "lsh_bucket"):
        "interpreted LSH bucket the BLAS bucketing must equal",
    ("functions/hashing.py", "minhash_signature"):
        "per-row MinHash the signature production path must equal",
    ("functions/hashing.py", "word_shingles"):
        "plain word shingles the shingle production path must equal",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_registered(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(fn, "decorator_list", ())
    )


def _surfaces() -> list[str]:
    return [
        os.path.join(_REPO, "bench.py"),
        os.path.join(_REPO, "__spark_entry__.py"),
        *glob.glob(os.path.join(_REPO, "perfbench", "*.py")),
    ]


def _package() -> dict[str, ast.Module]:
    out = {}
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            out[os.path.relpath(path, _PKG)] = ast.parse(f.read())
    return out


def _reach(trees: dict[str, ast.Module]):
    """Definitions by (module, name), and the ones a runtime surface reaches."""
    defs: dict[tuple[str, str], ast.AST] = {}
    roots: set[str] = set()
    for rel, tree in trees.items():
        if rel == "__main__.py":
            roots |= _refs(tree)
            continue
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, st.name)] = st
                if _is_registered(st):
                    roots.add(st.name)
            else:
                roots |= _refs(st)
    for path in _surfaces():
        with open(path) as f:
            roots |= _refs(ast.parse(f.read()))

    refs = {key: _refs(node) for key, node in defs.items()}
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    reached: set[tuple[str, str]] = set()
    seen, frontier = set(roots), list(roots)
    while frontier:
        for key in by_name.get(frontier.pop(), ()):
            if key in reached:
                continue
            reached.add(key)
            for name in refs[key] - seen:
                seen.add(name)
                frontier.append(name)
    return defs, reached


def unreached_definitions() -> set[tuple[str, str]]:
    defs, reached = _reach(_package())
    return set(defs) - reached


def test_every_definition_is_reached_from_a_runtime_surface():
    unreached = unreached_definitions()
    assert unreached - set(REFERENCE_FORMS) == set(), (
        "definitions no runtime surface reaches; delete them, or give them "
        "a caller: " + str(sorted(unreached - set(REFERENCE_FORMS)))
    )
    assert set(REFERENCE_FORMS) <= unreached, (
        "a reference form gained a runtime caller; drop it from "
        "REFERENCE_FORMS: " + str(sorted(set(REFERENCE_FORMS) - unreached))
    )


# --- Options --------------------------------------------------------------
#
# An optional parameter of a function in these packages exists only where a
# runtime caller sets it. A call sets an option when it passes a value other
# than the default: a literal (or module constant) that differs from it, any
# other expression, or an option of the enclosing function that is itself
# set or whose own default differs. Calls are matched to definitions by
# name, like the walk above, so a shared name can only make an option look
# set, never unset. A call through a name the enclosing body binds to a
# function (``real = sinks.append; real(df, path, x)``) matches that
# function as well as the name itself.

_OPTION_DIRS = ("operators", "functions", "sources", "plans")

# The only options no runtime caller sets: deployment settings, fixed in
# this repo and set per deployment, and the parameters of REFERENCE_FORMS,
# which only tests call.
DEPLOYMENT_SETTINGS = {
    ("sources/rest_api.py", "http_fetch", "url"),
    ("sources/rest_api.py", "http_fetch", "timeout"),
}

_UNKNOWN = object()
_LITERAL = (ast.Constant, ast.Name, ast.Load, ast.BinOp, ast.UnaryOp,
            ast.Tuple, ast.List, ast.operator, ast.unaryop)


def _value(node: ast.AST, consts: dict[str, object]):
    """The value of a literal expression over module constants, else _UNKNOWN."""
    for n in ast.walk(node):
        if not isinstance(n, _LITERAL) or (isinstance(n, ast.Name) and n.id not in consts):
            return _UNKNOWN
    try:
        return eval(compile(ast.Expression(node), "<option>", "eval"),
                    {"__builtins__": {}}, dict(consts))
    except (ArithmeticError, TypeError, ValueError):
        return _UNKNOWN


def _constants(tree: ast.Module) -> dict[str, object]:
    out: dict[str, object] = {}
    for st in tree.body:
        if isinstance(st, (ast.Assign, ast.AnnAssign)) and st.value is not None:
            value = _value(st.value, out)
            for t in st.targets if isinstance(st, ast.Assign) else [st.target]:
                if isinstance(t, ast.Name) and value is not _UNKNOWN:
                    out[t.id] = value
    return out


def _aliases(tree: ast.AST) -> dict[str, str]:
    """``from m import name as alias`` renames in ``tree``: alias -> name."""
    return {a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname}


def _bindings(body: ast.AST) -> dict[str, set[str]]:
    """Simple bindings in ``body`` of a name to a function, ``name =
    mod.fn`` or ``name = fn``: name -> the names it is bound to."""
    out: dict[str, set[str]] = {}
    for n in ast.walk(body):
        if isinstance(n, ast.Assign) and isinstance(n.value, (ast.Name, ast.Attribute)):
            bound = n.value.id if isinstance(n.value, ast.Name) else n.value.attr
            for t in n.targets:
                if isinstance(t, ast.Name):
                    out.setdefault(t.id, set()).add(bound)
    return out


def _callees(call: ast.Call, aliases: dict[str, str], bindings: dict[str, set[str]]) -> set[str]:
    """The names ``call`` may call: the called name, and the names it is
    bound to in the enclosing body."""
    f = call.func
    if isinstance(f, ast.Attribute):
        return {f.attr}
    if not isinstance(f, ast.Name):
        return set()
    return {aliases.get(n, n) for n in {f.id} | bindings.get(f.id, set())}


def _options(fn: ast.FunctionDef) -> dict[str, ast.AST]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _bound(call: ast.Call, fn: ast.FunctionDef):
    """(parameter, argument) pairs of ``call``; None for a splatted argument."""
    params = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            yield from ((p, None) for p in params[i:])
            break
        if i < len(params):
            yield params[i], arg
    for kw in call.keywords:
        if kw.arg is None:
            yield from ((p, None) for p in _options(fn))
        else:
            yield kw.arg, kw.value


def options_set_at_runtime() -> tuple[set, set]:
    """Every option of a top-level package function, keyed (module,
    function, parameter), and the ones a runtime surface sets."""
    trees = _package()
    defs, reached = _reach(trees)
    consts = {rel: _constants(tree) for rel, tree in trees.items()}
    aliases = {rel: _aliases(tree) for rel, tree in trees.items()}
    fns: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    defaults: dict[tuple[str, str, str], object] = {}
    for (rel, name), node in defs.items():
        if isinstance(node, ast.FunctionDef):
            fns.setdefault(name, []).append((rel, node))
            for p, d in _options(node).items():
                defaults[(rel, name, p)] = _value(d, consts[rel])

    # Runtime code: reached definitions, module-level statements, the CLI
    # and the surfaces outside the package.
    bodies = [(rel, defs[(rel, name)]) for rel, name in reached]
    for rel, tree in trees.items():
        bodies += [(rel, st) for st in tree.body if rel == "__main__.py" or not isinstance(
            st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
    for path in _surfaces():
        with open(path) as f:
            tree = ast.parse(f.read())
        consts[path], aliases[path] = _constants(tree), _aliases(tree)
        bodies += [(path, st) for st in tree.body]

    set_: set[tuple[str, str, str]] = set()
    feeds: dict[tuple[str, str, str], set] = {}
    for rel, body in bodies:
        outer = {}
        if isinstance(body, ast.FunctionDef):
            stored = {n.id for n in ast.walk(body)
                      if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
            outer = {p: (rel, body.name, p) for p in _options(body)
                     if p not in stored and (rel, body.name, p) in defaults}
        bindings = _bindings(body)
        for call in (n for n in ast.walk(body) if isinstance(n, ast.Call)):
            callees = _callees(call, aliases[rel], bindings)
            for trel, fn in (t for name in callees for t in fns.get(name, ())):
                for p, arg in _bound(call, fn):
                    key = (trel, fn.name, p)
                    if key not in defaults:
                        continue
                    if isinstance(arg, ast.Name) and arg.id in outer:
                        # the enclosing option's value: set when it is
                        # set, its own default when it is not
                        feeds.setdefault(outer[arg.id], set()).add(key)
                        v = defaults[outer[arg.id]]
                    else:
                        v = _UNKNOWN if arg is None else _value(arg, consts[rel])
                    d = defaults[key]
                    if v is _UNKNOWN or d is _UNKNOWN or v != d or type(v) is not type(d):
                        set_.add(key)
    frontier = list(set_)
    while frontier:
        for key in feeds.get(frontier.pop(), set()) - set_:
            set_.add(key)
            frontier.append(key)
    return set(defaults), set_


def unset_options() -> set[tuple[str, str, str]]:
    options, set_ = options_set_at_runtime()
    return {key for key in options - set_ if key[0].split(os.sep)[0] in _OPTION_DIRS}


def test_every_option_is_set_by_a_runtime_caller():
    unset = unset_options()
    reference = {key for key in unset if key[:2] in REFERENCE_FORMS}
    assert unset - DEPLOYMENT_SETTINGS - reference == set(), (
        "options no runtime caller sets to anything but their default; "
        "inline the default, or give the option a caller: "
        + str(sorted(unset - DEPLOYMENT_SETTINGS - reference))
    )
    assert DEPLOYMENT_SETTINGS <= unset, (
        "an allowlisted option is gone or now set at runtime; drop it from "
        "the allowlist: " + str(sorted(DEPLOYMENT_SETTINGS - unset))
    )


# --- Environment variables ------------------------------------------------
#
# The package and the driver surfaces read only the deployment settings
# from the environment; a value a test needs to vary is a module constant
# the test patches, not an env knob.

DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_key(node: ast.AST) -> str | None:
    """The variable an ``os.environ[...]``, ``os.environ.get(...)`` or
    ``os.getenv(...)`` read names; ``"<dynamic>"`` for a key that is not
    a string literal; None for any other node."""
    if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load):
        key = node.slice if _is_environ(node.value) else None
    elif isinstance(node, ast.Call) and node.args and (
        (isinstance(node.func, ast.Attribute) and node.func.attr == "get"
         and _is_environ(node.func.value))
        or (isinstance(node.func, ast.Attribute) and node.func.attr == "getenv")
        or (isinstance(node.func, ast.Name) and node.func.id == "getenv")
    ):
        key = node.args[0]
    else:
        return None
    if key is None:
        return None
    if isinstance(key, ast.Constant) and isinstance(key.value, str):
        return key.value
    return "<dynamic>"


def env_reads(sources: dict[str, str]) -> dict[str, set[str]]:
    """Variables read from the environment in ``sources`` (file name ->
    source text): variable -> the files that read it."""
    out: dict[str, set[str]] = {}
    for name, text in sources.items():
        for node in ast.walk(ast.parse(text)):
            key = _env_key(node)
            if key is not None:
                out.setdefault(key, set()).add(name)
    return out


def test_only_deployment_settings_are_read_from_the_environment():
    paths = [
        *glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True),
        os.path.join(_REPO, "bench.py"),
        os.path.join(_REPO, "__spark_entry__.py"),
    ]
    sources = {}
    for path in paths:
        with open(path) as f:
            sources[os.path.relpath(path, _REPO)] = f.read()
    reads = env_reads(sources)
    extra = {k: sorted(v) for k, v in reads.items() if k not in DEPLOYMENT_ENV}
    assert extra == {}, (
        "environment variables outside the deployment settings; make the "
        "value a module constant: " + str(extra)
    )


def test_env_read_forms_are_all_seen():
    """Each read form counts; a write, or a non-environ ``get``, does not."""
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = environ.get(name)\n"
        "e = getenv('E')\n"
        "os.environ['W'] = '1'\n"
        "f = {}.get('F')\n"
    )
    assert env_reads({"m.py": src}) == {
        k: {"m.py"} for k in ("A", "B", "C", "<dynamic>", "E")
    }


def test_a_call_through_a_bound_name_matches_the_bound_function():
    """``real = sinks.append; real(df, path, x)`` sets ``append``'s third
    parameter, as does a binding to a bare or import-renamed name."""
    target = ast.parse("def append(df, path, partition_by=None): pass").body[0]
    for binding in ("real = sinks.append", "real = append", "real = app"):
        body = ast.parse(
            f"def spy(df, path, x):\n    {binding}\n    return real(df, path, x)\n"
        ).body[0]
        (call,) = [n for n in ast.walk(body) if isinstance(n, ast.Call)]
        callees = _callees(call, {"app": "append"}, _bindings(body))
        assert "append" in callees
        assert dict(_bound(call, target))["partition_by"].id == "x"

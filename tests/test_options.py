"""No library option with one value in use: every defaulted parameter
of a public ``osm_jl_spark`` function takes at least two values across
its non-test calls, or is listed in ``ALLOWED`` with the reason it
stays.

The audit is static (an AST walk, no Spark). A call that omits a
parameter uses its default. A passed value is resolved when it is a
literal, a name or ``module.NAME`` attribute bound to one at module
level (in the calling module or imported from another), or constant
arithmetic of those (``1 << 14``); a default is resolved the same way
in the defining module. Anything else (a variable, a call, a splat)
counts as another value, so it keeps the parameter. A parameter whose
calls resolve to at most one value is one value behind a knob, and
fails. Calls are matched to definitions by function name, so a
same-named function elsewhere can only make the check more lenient,
never fail it.
"""

from __future__ import annotations

import ast
import operator
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLERS = ("osm_jl_spark", "registry", "perfbench", "tools", "bench.py",
           "__spark_entry__.py")

# (module, function, parameter) -> why the option stays although its
# non-test calls use at most one value
ALLOWED = {
    ("osm_jl_spark.operators.temporal", "asof_join", "direction"):
        "SURVEY.md row 'temporal AS-OF join' names backward/forward",
    ("osm_jl_spark.operators.temporal", "asof_join", "tolerance"):
        "SURVEY.md row 'temporal AS-OF join' names the tolerance",
    ("osm_jl_spark.operators.links", "pagerank", "damping"):
        "SURVEY.md row 'PageRank over the doc link graph' names the "
        "general float pagerank, checked against pagerank_scaled at "
        "damping 1/2",
    ("osm_jl_spark.operators.links", "pagerank", "iters"):
        "SURVEY.md row 'PageRank over the doc link graph': the float "
        "pagerank is compared with pagerank_scaled at the same "
        "iteration count",
    ("osm_jl_spark.operators.similarity", "pq_train_codebooks", "refine"):
        "SURVEY.md row 'product-quantization ANN' names the Lloyd "
        "refinement and its pinned distortion non-increase",
    ("osm_jl_spark.sources.remote", "fetch", "timeout"):
        "deployment setting: the network timeout of the one networked call",
    ("osm_jl_spark.sources.store", "read_pages", "fmt"):
        "the benchmark reads its stored pages with fmt='parquet'; the "
        "default autodetects the Iceberg input production requires",
    ("osm_jl_spark.operators.joins", "extract_bbox", "precision"):
        "the benchmark passes it positionally",
    ("osm_jl_spark.operators.knn", "knn_join", "k"):
        "the benchmark passes it by keyword",
    ("osm_jl_spark.operators.knn", "knn_join", "precision"):
        "the benchmark passes it by keyword",
}

_BINOPS = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.Div: operator.truediv, ast.FloorDiv: operator.floordiv,
    ast.Mod: operator.mod, ast.Pow: operator.pow,
    ast.LShift: operator.lshift, ast.RShift: operator.rshift,
    ast.BitOr: operator.or_, ast.BitAnd: operator.and_,
    ast.BitXor: operator.xor,
}
_UNARYOPS = {ast.USub: operator.neg, ast.UAdd: operator.pos,
             ast.Invert: operator.invert, ast.Not: operator.not_}


def _files(roots):
    for r in roots:
        p = ROOT / r
        yield from [p] if p.is_file() else sorted(p.rglob("*.py"))


class _Modules:
    """Module-level literal bindings and imports of every caller file,
    so a name or ``module.NAME`` resolves to the literal it is bound to."""

    def __init__(self):
        self.trees = {}
        for f in _files(CALLERS):
            mod = f.relative_to(ROOT).with_suffix("").as_posix()
            self.trees[mod.replace("/", ".").removesuffix(".__init__")] = (
                ast.parse(f.read_text()))
        self.names = {m: self._bindings(m, t) for m, t in self.trees.items()}

    def _module(self, importer: str, name: str) -> str | None:
        """Dotted module ``name`` as imported from ``importer``: absolute,
        or a sibling (perfbench's scripts import ``inputs``)."""
        package = importer.rpartition(".")[0]
        for m in (name, f"{package}.{name}"):
            if m in self.trees:
                return m
        return None

    def _bindings(self, mod: str, tree: ast.Module) -> dict:
        """name -> ('module', dotted) for an imported module,
        ('import', module, name) for an imported name, ('expr', node)
        for a module-level assignment."""
        out = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    m = self._module(mod, a.name)
                    if m and a.asname:
                        out[a.asname] = ("module", m)
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    sub = self._module(mod, f"{node.module}.{a.name}")
                    src = self._module(mod, node.module)
                    if sub:
                        out[a.asname or a.name] = ("module", sub)
                    elif src:
                        out[a.asname or a.name] = ("import", src, a.name)
        for node in tree.body:
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                out[node.targets[0].id] = ("expr", node.value)
            elif (isinstance(node, ast.AnnAssign) and node.value is not None
                  and isinstance(node.target, ast.Name)):
                out[node.target.id] = ("expr", node.value)
        return out

    def value(self, node: ast.expr, mod: str):
        """(type, value) of an expression built from literals, names
        bound to them at module level and constant arithmetic; None for
        anything else (the type keeps ``1``, ``1.0`` and ``True``
        apart)."""
        v = self._eval(node, mod, frozenset())
        return None if v is None else (type(v[0]), v[0])

    def _name(self, mod: str, name: str, seen: frozenset):
        """(value,) of module ``mod``'s binding of ``name``, or None."""
        b = self.names.get(mod, {}).get(name)
        if b is None or b[0] == "module" or (mod, name) in seen:
            return None
        seen |= {(mod, name)}
        if b[0] == "import":
            return self._name(b[1], b[2], seen)
        return self._eval(b[1], mod, seen)

    def _eval(self, node, mod, seen):
        """(value,) of ``node`` in module ``mod`` — a 1-tuple, so a
        literal ``None`` is told apart from an unresolved node (None)."""
        if isinstance(node, ast.Constant):
            return (node.value,)
        if isinstance(node, (ast.Tuple, ast.List)):
            items = [self._eval(x, mod, seen) for x in node.elts]
            if any(x is None for x in items):
                return None
            return (tuple(x[0] for x in items),)
        if isinstance(node, ast.Name):
            return self._name(mod, node.id, seen)
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)):
            b = self.names.get(mod, {}).get(node.value.id)
            if b is None or b[0] != "module":
                return None
            return self._name(b[1], node.attr, seen)
        if isinstance(node, ast.BinOp) and type(node.op) in _BINOPS:
            a = self._eval(node.left, mod, seen)
            b = self._eval(node.right, mod, seen)
            if a is None or b is None:
                return None
            try:
                return (_BINOPS[type(node.op)](a[0], b[0]),)
            except (TypeError, ArithmeticError):
                return None
        if isinstance(node, ast.UnaryOp) and type(node.op) in _UNARYOPS:
            a = self._eval(node.operand, mod, seen)
            if a is None:
                return None
            try:
                return (_UNARYOPS[type(node.op)](a[0]),)
            except TypeError:
                return None
        return None


def _defaulted_params(mods: _Modules) -> dict[tuple[str, str, str], tuple]:
    """(module, function, parameter) -> (positional index, None for
    keyword-only; resolved default, None if unresolved) of every
    defaulted parameter of a public function or public-class method
    (``__init__`` under the class name)."""
    out = {}
    for mod, tree in mods.trees.items():
        if not mod.startswith("osm_jl_spark."):
            continue
        for node in tree.body:
            fns = []
            if isinstance(node, ast.FunctionDef):
                fns.append((node.name, node))
            elif (isinstance(node, ast.ClassDef)
                  and not node.name.startswith("_")):
                fns += [(node.name if m.name == "__init__" else m.name, m)
                        for m in node.body if isinstance(m, ast.FunctionDef)]
            for name, fn in fns:
                if name.startswith("_"):
                    continue
                a = fn.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                if pos and pos[0] in ("self", "cls"):
                    pos = pos[1:]
                for p, d in zip(pos[len(pos) - len(a.defaults):],
                                a.defaults):
                    out[(mod, name, p)] = (pos.index(p), mods.value(d, mod))
                for k, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out[(mod, name, k.arg)] = (None, mods.value(d, mod))
    return out


def _calls(mods: _Modules) -> dict[str, list]:
    """function name -> one (positional values, keyword -> value,
    splatted) entry per call from a non-test caller, each value
    resolved or None."""
    calls: dict[str, list] = {}
    for mod, tree in mods.trees.items():
        if "tests" in mod.split("."):
            continue
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.attr if isinstance(fn, ast.Attribute)
                    else getattr(fn, "id", None))
            splat = (any(isinstance(x, ast.Starred) for x in node.args)
                     or any(k.arg is None for k in node.keywords))
            calls.setdefault(name, []).append((
                [mods.value(x, mod) for x in node.args],
                {k.arg: mods.value(k.value, mod)
                 for k in node.keywords if k.arg},
                splat,
            ))
    return calls


def _single_valued() -> set[tuple[str, str, str]]:
    """Defaulted parameters whose non-test calls use at most one value."""
    mods = _Modules()
    calls = _calls(mods)
    out = set()
    for (mod, name, p), (idx, default) in _defaulted_params(mods).items():
        used, other = set(), False
        for args, kw, splat in calls.get(name, []):
            if p in kw:
                v = kw[p]
            elif idx is not None and idx < len(args):
                v = args[idx]
            elif splat:
                v = None
            else:
                v = default
            if v is None:
                other = True
            else:
                used.add(v)
        if not other and len(used) <= 1:
            out.add((mod, name, p))
    return out


def test_values_resolve_through_module_constants():
    mods = _Modules()

    def value(src, mod):
        return mods.value(ast.parse(src, mode="eval").body, mod)

    assert value("I.KNN_PRECISION", "perfbench.worker") == (int, 3)
    # registry.common re-exports the grid's one precision
    assert value("PRECISION", "registry.spatial") == (int, 2)
    assert value("D.BLOOM_K", "registry.dedup") == (int, 3)
    assert value("1 << 14", "registry.dedup") == (int, 16384)
    assert value("-(2 ** 3)", "registry.dedup") == (int, -8)
    assert value("spark", "registry.dedup") is None
    assert value("f(1)", "registry.dedup") is None


def test_every_option_is_set_by_a_caller():
    extra = sorted(_single_valued() - ALLOWED.keys())
    assert not extra, (
        "defaulted parameters whose non-test calls use at most one value "
        "— make each a constant, or add it to ALLOWED with its reason: "
        f"{extra}"
    )


def test_allowlist_names_live_unset_options():
    stale = sorted(ALLOWED.keys() - _single_valued())
    assert not stale, f"ALLOWED entries that are gone or now set: {stale}"

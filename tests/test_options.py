"""No library option without a caller: every defaulted parameter of a
public ``osm_jl_spark`` function is set by some non-test caller to a
value other than its default, or is listed in ``ALLOWED`` with the
reason it stays.

The audit is static (an AST walk, no Spark). A call sets a parameter
when it passes it by keyword or positionally, unless what it passes is
a literal equal to the parameter's literal default (one value in use
behind a knob is a constant); calls are matched to definitions by
function name, so a same-named function elsewhere can only make the
check more lenient, never fail it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLERS = ("osm_jl_spark", "registry", "perfbench", "tools", "bench.py",
           "__spark_entry__.py")

# (module, function, parameter) -> why the option stays although no
# non-test caller sets it
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
    ("osm_jl_spark.sources.osm_xml", "parse_osm_file", "max_element_bytes"):
        "safety bound; test_parse_osm_file_oversize_element_errors "
        "lowers it",
    ("osm_jl_spark.operators.dedup", "simhash_near_dups", "bucket_cap"):
        "safety bound on hot-bucket pairs; "
        "test_simhash_bucket_cap_bounds_hot_buckets sets it",
}


def _files(roots):
    for r in roots:
        p = ROOT / r
        yield from [p] if p.is_file() else sorted(p.rglob("*.py"))


def _literal(node: ast.expr):
    """(type, value) of a literal expression, None for anything else
    (the type keeps ``1``, ``1.0`` and ``True`` apart)."""
    try:
        v = ast.literal_eval(node)
    except ValueError:
        return None
    return type(v), v


def _defaulted_params() -> dict[tuple[str, str, str], tuple]:
    """(module, function, parameter) -> (positional index, None for
    keyword-only; literal default, None if not a literal) of every
    defaulted parameter of a public function or public-class method
    (``__init__`` under the class name)."""
    out = {}
    for f in _files(["osm_jl_spark"]):
        mod = f.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        for node in ast.parse(f.read_text()).body:
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
                    out[(mod, name, p)] = (pos.index(p), _literal(d))
                for k, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out[(mod, name, k.arg)] = (None, _literal(d))
    return out


def _set_by_callers() -> dict[str, list]:
    """function name -> (keyword or positional index, literal passed or
    None) of every argument its calls from the non-test callers pass
    ('**'/'*' when they splat)."""
    calls: dict[str, list] = {}
    for f in _files(CALLERS):
        if "tests" in f.relative_to(ROOT).parts:
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.attr if isinstance(fn, ast.Attribute)
                    else getattr(fn, "id", None))
            s = calls.setdefault(name, [])
            if any(isinstance(x, ast.Starred) for x in node.args):
                s.append(("*", None))
            s += [(i, _literal(x)) for i, x in enumerate(node.args)]
            s += [(k.arg or "**", _literal(k.value)) for k in node.keywords]
    return calls


def _unset() -> set[tuple[str, str, str]]:
    """Defaulted parameters no non-test call passes a value other than
    the literal default."""
    calls = _set_by_callers()
    unset = set()
    for (mod, name, p), (idx, default) in _defaulted_params().items():
        keys = {p, "**"} | ({idx, "*"} if idx is not None else set())
        if not any(k in keys and (default is None or v != default)
                   for k, v in calls.get(name, [])):
            unset.add((mod, name, p))
    return unset


def test_every_option_is_set_by_a_caller():
    extra = sorted(_unset() - ALLOWED.keys())
    assert not extra, (
        "defaulted parameters no non-test caller sets to another value "
        "than the default — make each a constant, or add it to ALLOWED "
        f"with its reason: {extra}"
    )


def test_allowlist_names_live_unset_options():
    stale = sorted(ALLOWED.keys() - _unset())
    assert not stale, f"ALLOWED entries that are gone or now set: {stale}"

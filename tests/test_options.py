"""Every option has a caller.

A defaulted parameter of a public package function is a setting someone
can change. It stays only if some call passes it: a call from the
package, an entry point (``__spark_entry__.py``, ``bench.py``, ``jobs/``,
``tools/``, ``perfbench/``) or ``tests/``, by keyword, by position or
through a ``**`` forward. A value no call sets is a named constant of the
module that owns it, written once, instead. The scan below enforces both
the rule and a cap on the total, so the engine's settable surface can
shrink but not silently grow.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "podcast_audio_feature_extraction_spark"

# defaulted parameters of public package functions (oracle/ included)
MAX_OPTIONS = 172

# (module, function, parameter) kept although no call sets it, and why
EXEMPT = {
    ("streaming/delta.py", "stream_incremental_feature_build", "query_name"): (
        "a deployment name: two streams in one session need different names"
    ),
}
# calls through a function held in a variable: file:line -> the functions
# the variable holds there
VARIABLE_CALLS = {
    "tests/test_rerank_dedup.py:289": ("minhash_lsh_pairs", "simhash_pairs"),
    "tests/test_rerank_dedup.py:290": ("minhash_lsh_pairs", "simhash_pairs"),
}
# parameters read by signature rather than passed: file:line -> (function,
# parameter)
SIGNATURE_READS = {
    "perfbench/corpus.py:42": ("generate_transcripts", "max_turns"),
}


def _sources():
    return [
        *sorted(PKG.rglob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "jobs").rglob("*.py")),
        *sorted((ROOT / "tools").rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
    ]


def _public_functions():
    """{name: (module, FunctionDef)} of the package's top-level public defs."""
    defs = {}
    for path in sorted(PKG.rglob("*.py")):
        module = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                assert node.name not in defs, f"two public functions named {node.name}"
                defs[node.name] = (module, node)
    return defs


def _defaulted(fn):
    """The names of a FunctionDef's defaulted parameters."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    return positional[len(positional) - len(a.defaults):] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _calls(defs):
    """(file:line, callee, positional count, keyword names, ``**`` names,
    enclosing FunctionDef) of every call to a public package function."""
    out = []
    for path in _sources():
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text())
        aliases = {
            a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names if a.asname
        }

        def visit(node, enclosing):
            if isinstance(node, ast.FunctionDef):
                enclosing = node
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
                where = f"{rel}:{node.lineno}"
                callees = VARIABLE_CALLS.get(where, (aliases.get(name, name),))
                for callee in callees:
                    if callee in defs:
                        npos = len(node.args)
                        if any(isinstance(a, ast.Starred) for a in node.args):
                            npos = 10**6
                        kws = {k.arg for k in node.keywords if k.arg}
                        stars = [k.value for k in node.keywords if k.arg is None]
                        out.append((where, callee, npos, kws, stars, enclosing))
            for child in ast.iter_child_nodes(node):
                visit(child, enclosing)

        visit(tree, None)
    return out


def _passed(defs, calls):
    """{function: parameter names some call passes}. A ``**`` forward of
    the enclosing function's own ``**kwargs`` passes what that function's
    callers give it beyond its named parameters; any other ``**`` mapping
    counts as passing every parameter."""
    passed = {name: set() for name in defs}
    changed = True
    while changed:
        changed = False
        for _, callee, npos, kws, stars, enclosing in calls:
            fn = defs[callee][1].args
            positional = [p.arg for p in fn.posonlyargs + fn.args]
            got = set(kws) | set(positional[:npos])
            for s in stars:
                forwarded = (
                    isinstance(s, ast.Name)
                    and enclosing is not None
                    and enclosing.args.kwarg is not None
                    and enclosing.args.kwarg.arg == s.id
                    and enclosing.name in defs
                )
                if forwarded:
                    e = enclosing.args
                    got |= passed[enclosing.name] - {p.arg for p in e.posonlyargs + e.args + e.kwonlyargs}
                else:
                    got |= set(positional) | {p.arg for p in fn.kwonlyargs}
            if not got <= passed[callee]:
                passed[callee] |= got
                changed = True
    return passed


def test_every_option_has_a_caller():
    defs = _public_functions()
    calls = _calls(defs)
    passed = _passed(defs, calls)
    for where, (fn, param) in SIGNATURE_READS.items():
        path, line = where.split(":")
        read = (ROOT / path).read_text().splitlines()[int(line) - 1]
        assert f'"{param}"' in read, f"{where} no longer reads {param}"
        passed[fn].add(param)
    for where in VARIABLE_CALLS:
        assert any(c[0] == where for c in calls), f"{where} holds no call"
    unset = sorted(
        f"{module}: {name}({param}=)"
        for name, (module, fn) in defs.items()
        if not module.startswith("oracle/")
        for param in _defaulted(fn)
        if param not in passed[name] and (module, name, param) not in EXEMPT
    )
    assert not unset, f"defaulted parameters no call sets (make each a named constant): {unset}"
    for module, name, param in EXEMPT:
        assert param in _defaulted(defs[name][1]), f"stale exemption {module}: {name}({param}=)"


def test_option_count_does_not_grow():
    n = sum(len(_defaulted(fn)) for _, fn in _public_functions().values())
    assert n <= MAX_OPTIONS, f"{n} defaulted parameters on public package functions, cap {MAX_OPTIONS}"

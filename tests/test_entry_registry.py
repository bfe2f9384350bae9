"""The driver-query registry in ``__spark_entry__``: one ``@query``
declaration per query feeds ``queries()``, ``oracle_sql()`` and the
quadratic flag, in ``attestation_order``, and no oracle is spelled twice.
Also the package-surface guards: every public function, constant and
method has a non-test consumer, every option two values across the
non-test calls, and every imported name a use (pure ``ast``, no JVM)."""

import ast
import fnmatch
import json
from pathlib import Path

import __spark_entry__ as e

ROOT = Path(e.__file__).resolve().parent

OK = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _round(tmp_path, n, records):
    (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(records))


def test_attestation_order_without_files_is_declaration_order(tmp_path):
    assert e.attestation_order(["c", "a", "b"], tmp_path) == ["c", "a", "b"]


def test_attestation_order_least_recently_attested_first(tmp_path):
    _round(tmp_path, 1, {"a": OK, "b": OK, "c": OK})
    _round(tmp_path, 2, {"a": OK, "c": OK})
    _round(tmp_path, 3, {"c": OK})
    # never attested ("new") leads; then last attested r1, r2, r3
    assert e.attestation_order(["c", "b", "a", "new"], tmp_path) == [
        "new", "b", "a", "c",
    ]


def test_attestation_order_ignores_failed_and_errored_records(tmp_path):
    _round(tmp_path, 1, {n: OK for n in "abcde"})
    _round(tmp_path, 2, {
        "a": {**OK, "rows_match": False},
        "b": {**OK, "schema_match": False},
        "c": {**OK, "hash_match": False},
        "d": {**OK, "err": "boom"},
        "e": OK,
    })
    # a-d count as last attested in r1, a tie kept in the given order
    assert e.attestation_order(list("edcba"), tmp_path) == list("dcbae")


def test_attestation_order_ties_keep_declaration_order(tmp_path):
    _round(tmp_path, 4, {n: OK for n in "xyz"})
    assert e.attestation_order(list("zxy"), tmp_path) == list("zxy")


def test_registry_feeds_queries_and_oracles_in_one_order():
    qs, oracles = e.queries(), e.oracle_sql()
    assert list(qs) == list(oracles)
    assert sorted(qs) == sorted(e.REGISTRY)
    assert list(qs) == e.attestation_order(e.REGISTRY)
    for name, (fn, oracle, quadratic) in e.REGISTRY.items():
        assert fn.__name__ == f"q_{name}"
        assert qs[name] is fn and oracles[name] == oracle
        assert isinstance(oracle, str) and oracle.strip(), name
        assert isinstance(quadratic, bool)


PKG = ROOT / "fsharp_data_validation_spark"
CONSUMERS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *PKG.rglob("*.py"),
    *(p for d in ("jobs", "perfbench", "tools") for p in (ROOT / d).rglob("*.py")),
]
# O(n^2) reference implementations that the LSH and banded tests compare the
# approximate kernels against; both call private package kernels.
REFERENCE_ONLY = {"near_dup_pairs", "simhash_pairs"}
# options that only tests vary, besides those of REFERENCE_ONLY: the
# compiler's reference combinators, each mode pinned against core/
REFERENCE_OPTIONS = {
    "functions/compiler.py:nested(mode=)": "applyFailures / refuteWithProof nesting",
    "functions/compiler.py:nested(guard=)": "the optional-field gate of nested",
    "functions/compiler.py:each_nested(mode=)": "refuteEachWithProof / validateEach",
}


def _trees(paths):
    return {p: ast.parse(p.read_text()) for p in paths}


def _aliases(tree):
    """``{asname: name}`` for each ``import … as`` binding in ``tree``."""
    return {
        a.asname: a.name.rsplit(".", 1)[-1]
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }


def _defs():
    """(path, def) for each top-level function of the package outside
    ``core/``, the row-level oracle."""
    pkg = (p for p in PKG.rglob("*.py") if "core" not in p.relative_to(PKG).parts)
    return [
        (p, f)
        for p, tree in _trees(pkg).items()
        for f in tree.body
        if isinstance(f, ast.FunctionDef)
    ]


def _module(path):
    """The dotted module name of a repo file."""
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(tree, path):
    """``{bound name: target}`` for each import in ``tree`` (the file at
    ``path``): a module's dotted name where the binding is a module, else
    ``(module, name)`` for a name imported from a module."""
    pkg = list(path.relative_to(ROOT).parts[:-1])
    modules = {_module(p) for p in CONSUMERS}
    out = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:  # ``import a.b`` binds ``a``
                bound = a.name if a.asname else a.name.split(".")[0]
                out[a.asname or bound] = bound
        elif isinstance(n, ast.ImportFrom):
            base = n.module
            if n.level:  # relative: level 1 is this file's package
                up = pkg[: len(pkg) - n.level + 1]
                base = ".".join(up + [n.module] if n.module else up)
            for a in n.names:
                full = f"{base}.{a.name}"
                out[a.asname or a.name] = full if full in modules else (base, a.name)
    return out


def _refs(node, module, imports):
    """The ``(module, name)`` definitions ``node`` (in ``module``) uses: a
    bare name resolves to the import that binds it (``imports``, see
    ``_imports``), or else to ``module`` itself; ``<module alias>.name``
    resolves to that module. An attribute of anything else, and an import
    on its own, use nothing."""

    def module_of(e):
        if isinstance(e, ast.Name):
            t = imports.get(e.id)
            return t if isinstance(t, str) else None
        if isinstance(e, ast.Attribute):
            base = module_of(e.value)
            return base and f"{base}.{e.attr}"
        return None

    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            t = imports.get(n.id, (module, n.id))
            if isinstance(t, tuple):
                out.add(t)
        elif isinstance(n, ast.Attribute) and module_of(n.value):
            out.add((module_of(n.value), n.attr))
    return out


def test_refs_count_uses_not_imports():
    """An imported name counts once something uses it, under its own name
    or its alias, for the module it comes from; an import that nothing uses
    counts for nothing. A bare name nothing imports counts for the using
    module, and an attribute only for the module its base names, so a local
    variable or an attribute that shares a function's name is no use of it."""
    tree = ast.parse(
        "from m import a as b, c\nimport p.q as Q\n"
        "def f(x):\n    w1 = x.g\n    return b(), Q.h, w1\n"
    )
    imports, _, f = tree.body
    binds = _imports(tree, ROOT / "k.py")
    assert _refs(imports, "k", binds) == set()
    assert _refs(f, "k", binds) == {("m", "a"), ("p.q", "h"), ("k", "w1"), ("k", "x")}


def _constants():
    """(path, assignment, name) for each module-level name the package binds
    by assignment outside ``core/``."""
    pkg = (p for p in PKG.rglob("*.py") if "core" not in p.relative_to(PKG).parts)
    return [
        (p, a, t.id)
        for p, tree in _trees(pkg).items()
        for a in tree.body
        if isinstance(a, (ast.Assign, ast.AnnAssign))
        for t in (a.targets if isinstance(a, ast.Assign) else [a.target])
        if isinstance(t, ast.Name)
    ]


def _dead(defs):
    """The keys of ``defs`` ({(path, lineno): (module, name)}) that no
    top-level node of CONSUMERS references (see ``_refs``) outside its own
    definition, where a reference from a dead definition does not count
    either."""
    refs = {
        (p, n.lineno): _refs(n, _module(p), imports)
        for p, t in _trees(CONSUMERS).items()
        for imports in [_imports(t, p)]
        for n in t.body
    }
    dead = set()
    while True:
        now = {
            k
            for k, d in defs.items()
            if not any(d in r for n, r in refs.items() if n != k and n not in dead)
        }
        if now == dead:
            return dead
        dead = now


def test_every_public_function_has_a_consumer():
    """A public package function is referenced outside its own definition by
    the package, ``__spark_entry__.py``, bench.py, jobs/, perfbench/ or tools/.
    Tests do not count: a function only tests call is deleted or moves into
    tests/. A reference from a function that is itself dead does not count
    either, so a test-only function takes its private helpers with it. ast,
    not text search, so a docstring mention is not a use."""
    defs = {
        (p, f.lineno): (_module(p), f.name)
        for p, f in _defs()
        if f.name not in REFERENCE_ONLY
    }
    dead = _dead(defs)
    assert sorted(
        f"{k[0].relative_to(PKG)}:{name}"
        for k, (_, name) in defs.items()
        if k in dead and not name.startswith("_")
    ) == []


def test_every_public_constant_has_a_consumer():
    """The same rule for module-level constants: a public one is referenced
    by the package, the entry, bench.py, jobs/, perfbench/ or tools/ outside
    its own assignment, and a test fixture such as a schema only tests build
    lives in tests/."""
    consts = {(p, a.lineno): (_module(p), name) for p, a, name in _constants()}
    defs = {
        (p, f.lineno): (_module(p), f.name)
        for p, f in _defs()
        if f.name not in REFERENCE_ONLY
    }
    dead = _dead({**defs, **consts})
    assert sorted(
        f"{k[0].relative_to(PKG)}:{name}"
        for k, (_, name) in consts.items()
        if k in dead and not name.startswith("_")
    ) == []


# classes whose public methods only tests call: the reference validator
# surface (VCtx's checks and per-element combinators), pinned against core/
REFERENCE_CLASSES = {"_Branch", "_ElementBranch"}


def test_every_public_method_has_a_consumer():
    """The same rule for the public methods and properties of the package's
    top-level classes outside ``core/``: each is read as an attribute of its
    name (``x.name``; names match as for options, so a collision can only
    pass one) by the package, the entry, bench.py, jobs/, perfbench/ or
    tools/, outside its own definition. Tests do not count.
    REFERENCE_CLASSES is the allowlist."""
    pkg = (p for p in PKG.rglob("*.py") if "core" not in p.relative_to(PKG).parts)
    attrs = [
        (p, n.lineno, n.attr)
        for p, tree in _trees(CONSUMERS).items()
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
    ]
    assert sorted(
        f"{p.relative_to(PKG)}:{c.name}.{m.name}"
        for p, tree in _trees(pkg).items()
        for c in tree.body
        if isinstance(c, ast.ClassDef) and c.name not in REFERENCE_CLASSES
        for m in c.body
        if isinstance(m, ast.FunctionDef) and not m.name.startswith("_")
        if not any(
            a == m.name and not (q == p and m.lineno <= n <= m.end_lineno)
            for q, n, a in attrs
        )
    ) == []


def _unused_imports(src):
    """``(line, name)`` for each name an import in the module ``src`` binds
    that no bare name of the module uses (``import a.b`` binds ``a``). An
    import marked ``# noqa: F401`` (imported for its side effect) is
    exempt, as is ``__future__``."""
    tree, lines = ast.parse(src), src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [
        (a.lineno, bound)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        and getattr(n, "module", None) != "__future__"
        for a in n.names
        for bound in [a.asname or a.name.split(".")[0]]
        if bound not in used and "# noqa: F401" not in lines[a.lineno - 1]
    ]


def test_unused_imports_counts_bare_names():
    src = (
        "from __future__ import annotations\nimport a.b\nimport c as d\n"
        "from m import x, y as z\nimport s  # noqa: F401\nprint(a.b.f, z)\n"
    )
    assert _unused_imports(src) == [(3, "d"), (4, "x")]


def test_every_import_is_used():
    """Every name that a module of the package, the entry, bench.py, jobs/
    or tools/ imports is used in that module. A package ``__init__.py``
    re-exports, so it is exempt."""
    paths = [
        p
        for p in CONSUMERS
        if p.name != "__init__.py" and p.relative_to(ROOT).parts[0] != "perfbench"
    ]
    assert sorted(
        f"{p.relative_to(ROOT)}:{line}:{name}"
        for p in paths
        for line, name in _unused_imports(p.read_text())
    ) == []


def _literal_oracles():
    """Names of the queries whose ``@query`` oracle argument spells SQL
    inline: it holds a string literal rather than only naming a shared
    constant or calling a builder over constants."""
    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    return [
        f.name.removeprefix("q_")
        for f in tree.body
        if isinstance(f, ast.FunctionDef)
        for d in f.decorator_list
        if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        if any(
            isinstance(n, ast.Constant) and isinstance(n.value, str)
            for n in ast.walk(d.args[0])
        )
    ]


def test_no_oracle_is_spelled_twice():
    """A query whose oracle equals another query's (twins such as a salted
    and a plain operator) names one shared constant: no inline oracle equals
    any other oracle once whitespace runs are collapsed, so twins cannot
    drift apart."""
    text = {n: " ".join(q.oracle.split()) for n, q in e.REGISTRY.items()}
    twins = {
        tuple(sorted((n, m)))
        for n in _literal_oracles()
        for m in text
        if m != n and text[m] == text[n]
    }
    assert sorted(twins) == []


def _calls(tree):
    """(callee name, call) for each call in ``tree``; a callee imported
    ``as`` another name is resolved to its own name."""
    alias = _aliases(tree)
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            if name:
                yield alias.get(name, name), n


#: parameters that name columns bind the caller's schema, so passing one at
#: any call site is enough (perfbench passes semdedup's positionally)
COLUMN_OPTIONS = ("*_col", "*_cols", "*_ts")


def _options(trees):
    """(label, callee, position, name, default) for each defaulted parameter
    of the public top-level functions in ``trees`` and of the public methods
    and ``__init__`` of their top-level classes. ``callee`` is the name a call
    uses (the class for ``__init__``, the attribute for a method);
    ``position`` is the index a call passes the parameter at, after a
    method's ``self``, and ``None`` for a keyword-only parameter."""
    out = []
    for p, tree in trees.items():
        defs = [(f.name, f, 0) for f in tree.body if isinstance(f, ast.FunctionDef)]
        for c in tree.body:
            if isinstance(c, ast.ClassDef):
                for m in c.body:
                    if isinstance(m, ast.FunctionDef):
                        static = any(
                            getattr(d, "id", None) == "staticmethod"
                            for d in m.decorator_list
                        )
                        name = c.name if m.name == "__init__" else m.name
                        defs.append((name, m, 0 if static else 1))
        for name, f, skip in defs:
            if name.startswith("_"):
                continue
            a = f.args
            positional = a.posonlyargs + a.args
            first = len(positional) - len(a.defaults)
            opts = [
                (i - skip, x.arg, d)
                for i, (x, d) in enumerate(zip(positional[first:], a.defaults), first)
            ] + [(None, x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            out += [
                (f"{p.relative_to(PKG)}:{name}({arg}=)", name, i, arg, d)
                for i, arg, d in opts
            ]
    return out


def _frozen(v):
    """``v`` with its lists, sets and dicts made hashable."""
    if isinstance(v, (list, tuple)):
        return tuple(map(_frozen, v))
    if isinstance(v, (set, frozenset)):
        return frozenset(map(_frozen, v))
    if isinstance(v, dict):
        return frozenset((k, _frozen(x)) for k, x in v.items())
    return v


def _value(node):
    """The literal ``node`` spells, or, where it spells none, a fresh object
    that equals no other value."""
    try:
        return _frozen(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return object()


def _unvaried(options, calls):
    """Labels of ``options`` (see ``_options``) that take fewer than two
    values across ``calls`` ({callee: [ast.Call]}). A call that omits the
    option or spells the default out adds the default, so a default no call
    takes is no value; a literal argument adds its value; a non-literal
    argument or a ``*``/``**`` spread adds a value of its own, because the
    guard cannot evaluate it. A column-name option (COLUMN_OPTIONS) passes
    once any call passes it."""
    out = []
    for label, callee, i, arg, default in options:
        column = any(fnmatch.fnmatch(arg, g) for g in COLUMN_OPTIONS)
        values = []
        for c in calls.get(callee, ()):
            kw = [k.value for k in c.keywords if k.arg == arg]
            if any(isinstance(x, ast.Starred) for x in c.args) or any(
                k.arg is None for k in c.keywords
            ):
                values.append(object())
            elif kw:
                values.append(_value(kw[0]))
            elif i is not None and i < len(c.args):
                values.append(_value(c.args[i]))
            elif not column:
                values.append(_value(default))
        if len(set(values)) < (1 if column else 2):
            out.append(label)
    return sorted(out)


def test_unvaried_ignores_a_spelled_out_default():
    """A call that spells out the default sets nothing, and a default no
    call takes is no value; a different literal, a non-literal or a spread
    is a value of its own, and a column name needs one pass."""
    (f,) = ast.parse("def f(a, k=3, *, by_col='x'):\n    pass\n").body
    opts = [
        ("k", "f", 1, "k", f.args.defaults[0]),
        ("by_col", "f", None, "by_col", f.args.kw_defaults[0]),
    ]

    def unvaried(*srcs):
        calls = [c for s in srcs for _, c in _calls(ast.parse(s))]
        return _unvaried(opts, {"f": calls})

    assert unvaried("f(1)", "f(1, 3)", "f(1, k=3.0)") == ["by_col", "k"]
    assert unvaried("f(1, 4)", "f(1, by_col='y')") == []
    assert unvaried("f(1, 4)", "f(1, k=4, by_col='y')") == ["k"]
    assert unvaried("f(1, k=n, by_col='x')") == ["k"]
    assert unvaried("f(1, k=n, by_col='x')", "f(1)") == []
    assert unvaried("f(*a)", "f(1, **kw)") == []


def test_every_option_is_passed_somewhere():
    """Each option — a defaulted parameter of a public package function, or
    of a public method or ``__init__`` of a package class, outside
    ``core/`` — takes at least two values across the calls of the package,
    the entry, bench.py, jobs/, perfbench/ or tools/. Tests do not count, as
    for the function guard: a value only a test passes is no caller's need.
    An option that every call leaves at its default, or sets to it by
    hand, only ever takes that value, so it is a constant; one that every
    call sets to the same other value is a required parameter. Calls match by
    name, so a method's calls are the calls of any attribute of that name:
    a collision can only pass an option, never fail one. The options of
    REFERENCE_ONLY and REFERENCE_OPTIONS are the allowlist."""
    pkg = (p for p in PKG.rglob("*.py") if "core" not in p.relative_to(PKG).parts)
    calls = {}
    for tree in _trees(CONSUMERS).values():
        for name, c in _calls(tree):
            calls.setdefault(name, []).append(c)
    options = [o for o in _options(_trees(pkg)) if o[1] not in REFERENCE_ONLY]
    assert sorted(set(_unvaried(options, calls)) - set(REFERENCE_OPTIONS)) == []
    assert sorted(set(REFERENCE_OPTIONS) - {o[0] for o in options}) == []


def _docstrings(tree):
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def test_similarity_casts_no_vector_to_double():
    """Vector columns cross the Arrow boundary and the shuffle at their
    stored width, and ``_matrix`` alone widens them to float64: no code in
    ``operators/similarity.py`` spells ``array<double>`` (a ``cast``
    string or SQL text) or casts to ``ArrayType(DoubleType())``."""
    path = PKG / "operators" / "similarity.py"
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docs:
            if "array<double>" in node.value.replace(" ", "").lower():
                bad.append(f"similarity.py:{node.lineno}")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in ("cast", "astype") and any(
                "ArrayType(DoubleType" in ast.unparse(a).replace(" ", "") for a in node.args
            ):
                bad.append(f"similarity.py:{node.lineno}")
    assert not bad, bad


def test_compiler_renders_no_path_itself():
    """A failure's path is rendered once, at compile time, by the kernel's
    ``core/names.py:render_path``: ``functions/compiler.py`` builds no
    camelCase with Spark's string functions and no rendering of its own."""
    path = PKG / "functions" / "compiler.py"
    tree = ast.parse(path.read_text())
    bad = [
        f"compiler.py:{node.lineno}:F.{node.func.attr}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
        and node.func.attr in ("lower", "lcase", "substring", "substr", "initcap")
    ]
    bad += [
        f"compiler.py:{node.lineno}:{a.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.name == "to_camel_case"
    ]
    assert not bad, bad

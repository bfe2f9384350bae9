"""The driver-query registry in ``__spark_entry__``: one ``@query``
declaration per query feeds ``queries()``, ``oracle_sql()`` and the
quadratic flag, in ``attestation_order``, and no oracle is spelled twice.
Also the package-surface guards: every public function and constant has a
non-test consumer and every option a call site that passes it (pure
``ast``, no JVM)."""

import ast
import json
import math
import sys
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


def _refs(node, aliases):
    """Every name ``node`` uses: ``ast.Name`` ids and ``ast.Attribute``
    attrs, where a use of an ``import … as`` name in ``aliases`` also counts
    for the imported name. An import on its own uses nothing."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out |= {n.id, aliases.get(n.id, n.id)}
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def test_refs_count_uses_not_imports():
    """An imported name counts once something uses it, under its own name
    or its alias; an import that nothing uses counts for nothing."""
    tree = ast.parse("from m import a as b, c\ndef f():\n    return b()\n")
    imports, f = tree.body
    aliases = _aliases(tree)
    assert _refs(imports, aliases) == set()
    assert "a" in _refs(f, aliases) and "c" not in _refs(f, aliases)


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
    """The keys of ``defs`` ({(path, lineno): name}) that no top-level node
    of CONSUMERS references outside its own definition, where a reference
    from a dead definition does not count either."""
    refs = {
        (p, n.lineno): _refs(n, aliases)
        for p, t in _trees(CONSUMERS).items()
        for aliases in [_aliases(t)]
        for n in t.body
    }
    dead = set()
    while True:
        now = {
            k
            for k, name in defs.items()
            if not any(name in r for n, r in refs.items() if n != k and n not in dead)
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
    defs = {(p, f.lineno): f.name for p, f in _defs() if f.name not in REFERENCE_ONLY}
    assert sorted(defs[k] for k in _dead(defs) if not defs[k].startswith("_")) == []


def test_every_public_constant_has_a_consumer():
    """The same rule for module-level constants: a public one is referenced
    by the package, the entry, bench.py, jobs/, perfbench/ or tools/ outside
    its own assignment, and a test fixture such as a schema only tests build
    lives in tests/."""
    consts = {(p, a.lineno): name for p, a, name in _constants()}
    defs = {(p, f.lineno): f.name for p, f in _defs() if f.name not in REFERENCE_ONLY}
    dead = _dead({**defs, **consts})
    assert sorted(
        f"{k[0].relative_to(PKG)}:{name}"
        for k, name in consts.items()
        if k in dead and not name.startswith("_")
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


def test_every_option_is_passed_somewhere():
    """Each defaulted parameter of a public package function is passed, by
    keyword or by position, at one or more call sites anywhere in the repo,
    tests included (``blocks=1`` is a reference path only tests take). An
    option no caller sets only ever takes its default, so it is a constant.
    A call with ``*args`` or ``**kw`` passes every parameter."""
    n_pos, kws = {}, {}  # callee -> most positional args, keywords passed
    for tree in _trees([*CONSUMERS, *(ROOT / "tests").glob("*.py")]).values():
        for name, c in _calls(tree):
            spread = any(isinstance(a, ast.Starred) for a in c.args) or any(
                k.arg is None for k in c.keywords
            )
            n = math.inf if spread else len(c.args)
            n_pos[name] = max(n_pos.get(name, 0), n)
            kws.setdefault(name, set()).update(k.arg for k in c.keywords)
    unpassed = []
    for p, f in _defs():
        a = f.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        # (position, name); a keyword-only option has no position to pass it at
        defaulted = [(i, x.arg) for i, x in enumerate(positional) if i >= first] + [
            (sys.maxsize, x.arg) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d
        ]
        unpassed += [
            f"{p.relative_to(PKG)}:{f.name}({arg}=)"
            for i, arg in defaulted
            if not f.name.startswith("_")
            and arg not in kws.get(f.name, ())
            and n_pos.get(f.name, 0) <= i
        ]
    assert sorted(unpassed) == []

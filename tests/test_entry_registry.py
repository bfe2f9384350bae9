"""The driver-query registry in ``__spark_entry__``: one ``@query``
declaration per query feeds ``queries()``, ``oracle_sql()`` and the
quadratic flag, in ``attestation_order``."""

import ast
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


def _names(trees):
    """Every ``ast.Name`` and imported name in ``trees``."""
    out = set()
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.alias):
                out.add(n.name)
    return out


def test_streaming_surface_has_consumers():
    """Every public function of the streaming module is used outside its
    own definition: by the driver entry, perfbench, or another function of
    the module. A monitor ships with a consumer or not at all; ast, not
    text search, so a docstring mention is not a use."""
    module = ast.parse(
        (ROOT / "fsharp_data_validation_spark/streaming/validate_stream.py").read_text()
    )
    consumers = [ROOT / "__spark_entry__.py", *(ROOT / "perfbench").glob("*.py")]
    used = _names(ast.parse(p.read_text()) for p in consumers)
    unused = [
        f.name
        for f in module.body
        if isinstance(f, ast.FunctionDef)
        and not f.name.startswith("_")
        and f.name not in used | _names(n for n in module.body if n is not f)
    ]
    assert unused == []

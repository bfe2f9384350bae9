"""The driver-query registry in ``__spark_entry__``: one ``@query``
declaration per query feeds ``queries()``, ``oracle_sql()`` and the
quadratic flag, in ``attestation_order``."""

import json

import __spark_entry__ as e

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

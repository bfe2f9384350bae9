"""Valid-branch serialization in the kernel: ``render_proof_json(Valid(..))``
and its System.Text.Json-compatible encoder ``dumps_stj``, pinned to the
reference's ``ProofConverter.Write`` Valid arm (Proof.fs:74-79; golden at
Tests/Proof.fs:92-101). The Valid branch is kernel-only: the Spark job
writes valid rows as parquet, not as JSON documents."""

from fsharp_data_validation_spark.core.proof import Valid
from fsharp_data_validation_spark.core.serialize import dumps_stj, render_proof_json


def test_reference_valid_golden_kernel():
    # Tests/Proof.fs:92-101 verbatim
    p = Valid({"MyName": "John Smith", "MyInt": 42})
    assert render_proof_json(p) == '{"MyName":"John Smith","MyInt":42}'


def test_kernel_valid_uses_stj_encoder():
    # the reference Valid arm goes through the same HTML-safe encoder as
    # the failures document (Tests/Proof.fs:127 shows ' for ')
    p = Valid({"MyName": "John O'Neil <jr> & co", "MyInt": 41})
    assert (
        render_proof_json(p)
        == '{"MyName":"John O\\u0027Neil \\u003cjr\\u003e \\u0026 co","MyInt":41}'
    )


def test_dumps_stj_scalars_and_nesting():
    assert dumps_stj(None) == "null"
    assert dumps_stj(True) == "true"
    assert dumps_stj(False) == "false"
    assert dumps_stj([1, "a+b", None]) == '[1,"a\\u002bb",null]'
    assert dumps_stj({"k": {"n": "é"}}) == '{"k":{"n":"\\u00e9"}}'
    # astral chars render as a UTF-16 surrogate pair, like System.Text.Json
    assert dumps_stj("x\U0001F600y") == '"x\\ud83d\\ude00y"'

"""Proof — the public validation result type.

Reference: /root/reference/src/FSharp.Data.Validation/Proof.fs:55-123.
``Valid(a)`` carries the transformed value; ``Invalid(global_failures,
field_failure_map)`` loses the value.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, List, Optional, Tuple

from .failures import FailureMap, merge_failures


@dataclass(frozen=True)
class Proof:
    valid: bool
    value: Any = None
    failures: Tuple[Any, ...] = ()  # global failures
    fields: Any = None  # FailureMap (dict); compared order-insensitively

    def __post_init__(self):
        if self.fields is None:
            object.__setattr__(self, "fields", {})

    def __eq__(self, other):
        if not isinstance(other, Proof):
            return NotImplemented
        if self.valid != other.valid:
            return False
        if self.valid:
            return self.value == other.value
        return tuple(self.failures) == tuple(other.failures) and self.fields == other.fields

    def __repr__(self):
        if self.valid:
            return f"Valid({self.value!r})"
        return f"Invalid({list(self.failures)!r}, {self.fields!r})"


def Valid(a: Any) -> Proof:
    return Proof(True, value=a)


def Invalid(gfs: List[Any], lfs: FailureMap) -> Proof:
    return Proof(False, failures=tuple(gfs), fields=dict(lfs))


@dataclass(frozen=True)
class ValidationFailures:
    """Failure-only projection of an Invalid proof (Proof.fs:7-10)."""

    failures: Tuple[Any, ...]
    fields: Any

    def __eq__(self, other):
        if not isinstance(other, ValidationFailures):
            return NotImplemented
        return tuple(self.failures) == tuple(other.failures) and self.fields == other.fields


class InvalidProofException(Exception):
    """Thrown by raise_if_invalid (Types.fs:17-20, Library.fs:118-121)."""

    def __init__(self, msg: str, gfs: List[Any], lfs: FailureMap):
        super().__init__(msg)
        self.global_failures = list(gfs)
        self.field_failures = dict(lfs)


def proof_map(fn: Callable[[Any], Any], p: Proof) -> Proof:
    """Map the valid value (Proof.fs:90-94)."""
    return Valid(fn(p.value)) if p.valid else p


def map_invalid(fn: Callable[[Any], Any], p: Proof) -> Proof:
    """Map the failure type — globals and every map value (Proof.fs:96-100)."""
    if p.valid:
        return p
    return Invalid([fn(f) for f in p.failures], {k: [fn(f) for f in v] for k, v in p.fields.items()})


def combine(fn: Callable[[Any, Any], Any], p1: Proof, p2: Proof) -> Proof:
    """Semigroup merge (Proof.fs:102-113): Valid+Valid -> fn; any Invalid wins;
    Invalid+Invalid -> concat globals + merge_failures fields. Associative, so
    safe for partial/tree aggregation at scale."""
    if p1.valid:
        return Valid(fn(p1.value, p2.value)) if p2.valid else p2
    if p2.valid:
        return p1
    return Invalid(list(p1.failures) + list(p2.failures), merge_failures(p1.fields, p2.fields))


def to_validation_failures(p: Proof) -> Optional[ValidationFailures]:
    """Invalid -> failures projection, Valid -> None (Proof.fs:115-118)."""
    if p.valid:
        return None
    return ValidationFailures(tuple(p.failures), dict(p.fields))


def to_result(p: Proof):
    """Proof -> ('ok', value) | ('error', ValidationFailures) (Proof.fs:120-123)."""
    if p.valid:
        return ("ok", p.value)
    return ("error", ValidationFailures(tuple(p.failures), dict(p.fields)))


def is_valid(p: Proof) -> bool:
    return p.valid


def is_invalid(p: Proof) -> bool:
    return not p.valid


def flatten_proofs(ps: List[Proof]) -> Proof:
    """Proof list -> Proof of list via combine(+) (Library.fs:113-115)."""
    acc = Valid([])
    for p in ps:
        acc = combine(lambda a, b: a + b, acc, proof_map(lambda a: [a], p))
    return acc


def raise_if_invalid(msg: str, p: Proof) -> Any:
    """Valid -> value, else raise InvalidProofException (Library.fs:118-121)."""
    if p.valid:
        return p.value
    raise InvalidProofException(msg, list(p.failures), dict(p.fields))

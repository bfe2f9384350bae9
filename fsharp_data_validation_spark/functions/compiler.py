"""Constraint suite -> single-pass Column compiler.

This is the vectorized re-expression of the reference's validation CE
(/root/reference/src/FSharp.Data.Validation/VCtx.fs): every reference
combinator becomes a column expression evaluated for all rows at once, with
refute-ordering compiled into cumulative per-branch masks instead of control
flow.

Semantics mapping (pinned by tests/test_spark_suite.py against the pure
kernel in ``core``):

- one *branch* per field scope (``withField``, VCtx.fs:80-96) or global scope
  (``withValue``, VCtx.fs:106-107);
- ``refuteWith`` (VCtx.fs:213-219): on failure, sets the branch's cumulative
  ``refuted`` mask — later constraints in the SAME branch are skipped for
  that row (``bind`` short-circuit, VCtx.fs:15-18). Branches are independent
  (applicative ``and!``, VCtx.fs:53-63), so other branches keep evaluating;
- ``disputeWith*`` (VCtx.fs:309-326,405-411): failure appended, evaluation
  continues (vectorized "continue anyway" is free);
- ``optional`` (VCtx.fs:110-133): NULL input skips every guarded check;
- element constraints (``disputeAnyWith*``, VCtx.fs:331-362): higher-order
  ``transform`` over array columns, failures filed under ``"[i]"`` paths —
  zero per-row Python;
- ``MergeSources`` collapse: a row with ANY failure emits no valid-output
  row — ``run`` splits into (valid_df, violations_df);
- each failure carries its path as one string, rendered at compile time by
  the kernel's ``render_path`` (camelCase-dotted, Proof.fs:13-25): a
  literal for a static path, ``pre || i || post`` around an element's
  ``[i]``; ``""`` is the global (type-level) scope.

Scale notes: the whole suite compiles to ONE ``select`` (no chained
withColumn), so Catalyst fuses every predicate into a single whole-stage
codegen pass over the scan; only referenced columns are read (column
pruning); no shuffle is introduced — row validation is embarrassingly
parallel at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass, replace as dc_replace
from functools import reduce
from operator import add, and_, or_
from typing import Callable, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, functions as F

from ..core.names import mk_name, render_path
from ..core.serialize import escape_json

ColumnLike = Union[Column, str]

REFUTE = "refute"
DISPUTE = "dispute"
EACH_DISPUTE = "each_dispute"
EACH_REFUTE = "each_refute"
PROOF_GATE = "proof_gate"  # refuteWithProof: child failure refutes parent


def _col(c: ColumnLike) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _name(name: str) -> str:
    """``name`` if the reference can hold it (``mkName``, Types.fs:6-13):
    an empty, blank or padded name would render a path the reference never
    produces, and ``""`` would read as the global scope."""
    if mk_name(name) != name:
        raise ValueError(f"field name must be non-blank and unpadded, got {name!r}")
    return name


def _length_within(c: Column, lo: Optional[int], hi: Optional[int]) -> Column:
    """``lo <= length(c) <= hi`` (``None`` = no bound), NULL for a NULL
    ``c``, settled on the byte length where it can be. Spark's ``length``
    counts 1-4 bytes per character (invalid UTF-8 included), so
    ``ceil(b / 4) <= length(c) <= b`` for ``b = octet_length(c)``:
    characters are counted (a walk over every byte) only in the band where
    ``b`` cannot decide; ``octet_length`` is a field read."""
    b, n = F.octet_length(c), F.length(c)
    no, yes, chars = [], [], []
    if lo is not None:
        no.append(b < lo)
        yes.append(b >= 4 * lo - 3)
        chars.append(n >= lo)
    if hi is not None:
        no.append(b > 4 * hi)
        yes.append(b <= hi)
        chars.append(n <= hi)
    return (
        F.when(reduce(or_, no), F.lit(False))
        .when(reduce(and_, yes), F.lit(True))
        .otherwise(n == lo if lo == hi else reduce(and_, chars))
    )


@dataclass
class Constraint:
    code: str
    kind: str
    path: Tuple[str, ...]  # () = global/type-level
    ok: Optional[Column]  # boolean Column; NULL counts as "check skipped"
    branch: str
    guard: Optional[Column] = None  # applicability (optional-wrapping etc.)
    # element constraints: array column + per-element ok fn; nested element
    # suites (refuteEachWithProof) file under path + "[i]" + elem_subpath
    array_col: Optional[Column] = None
    elem_ok: Optional[Callable[[Column, Column], Column]] = None
    elem_subpath: Tuple[str, ...] = ()
    # nested suites (refuteWithProof VCtx.fs:253-269 / applyFailures
    # VCtx.fs:36-47): a child branch's refute mask starts from the parent's
    # mask at the nesting point, and a PROOF_GATE refutes the parent branch
    # when child branches failed (gate_on="any") or were refuted
    # (gate_on="refute")
    parent_branch: Optional[str] = None
    child_branches: Optional[List[str]] = None
    gate_on: Optional[str] = None


class ElementSuite:
    """Per-element child suite for ``each_nested`` (≅ refuteEachWithProof,
    VCtx.fs:274-287): an ordered set of constraints applied to every array
    element, with sub-field provenance. Access the element's sub-fields via
    ``field(name)`` (struct elements) or the element itself via
    ``global_()``; within one sub-field branch a refute skips that
    element's later checks (the child CE's own bind chain), while the
    element's branches stay applicative."""

    def __init__(self):
        # (subpath, code, kind, ok_fn: (elem Column, index Column) -> bool
        # Column) — stored uniformly 2-arg; the non-indexed builder methods
        # ignore the index, the *_indexed ones (reference indexed overloads,
        # VCtx.fs:242-248,331-344) pass it through
        self._specs: List[Tuple[Tuple[str, ...], str, str, Callable]] = []

    def field(self, name: str) -> "_ElementBranch":
        return _ElementBranch(self, (_name(name),), lambda x, n=name: x[n])

    def global_(self) -> "_ElementBranch":
        return _ElementBranch(self, (), lambda x: x)


class _ElementBranch:
    def __init__(self, suite: ElementSuite, subpath: Tuple[str, ...], get):
        self.suite = suite
        self.subpath = subpath
        self.get = get

    def _add(self, code: str, kind: str, ok_fn: Callable) -> "_ElementBranch":
        self.suite._specs.append((self.subpath, code, kind, ok_fn))
        return self

    def required(self, code: str) -> "_ElementBranch":
        return self._add(code, REFUTE, lambda x, i: self.get(x).isNotNull())

    def refute_check(self, code: str, fn: Callable[[Column], Column]) -> "_ElementBranch":
        return self._add(code, REFUTE, lambda x, i: fn(self.get(x)))

    def check(self, code: str, fn: Callable[[Column], Column]) -> "_ElementBranch":
        return self._add(code, DISPUTE, lambda x, i: fn(self.get(x)))

    def check_indexed(
        self, code: str, fn: Callable[[Column, Column], Column]
    ) -> "_ElementBranch":
        """Indexed per-element dispute inside a nested element suite — the
        reference's indexed validator overloads (VCtx.fs:331-344) reachable
        from ``refuteEachWithProof``/``validateEach`` children: the
        validator sees (sub-field value, element index)."""
        return self._add(code, DISPUTE, lambda x, i: fn(self.get(x), i))

    def refute_check_indexed(
        self, code: str, fn: Callable[[Column, Column], Column]
    ) -> "_ElementBranch":
        """Indexed per-element refute (VCtx.fs:242-248): a failure skips
        this element's later checks in the same sub-branch."""
        return self._add(code, REFUTE, lambda x, i: fn(self.get(x), i))

    def rlike(self, code: str, pattern: str) -> "_ElementBranch":
        return self.check(code, lambda v: v.rlike(pattern))

    def isin(self, code: str, allowed: Sequence) -> "_ElementBranch":
        return self.check(code, lambda v: v.isin(list(allowed)))

    def field(self, name: str) -> "_ElementBranch":
        return self.suite.field(name)

    def global_(self) -> "_ElementBranch":
        return self.suite.global_()

    def done(self) -> ElementSuite:
        return self.suite


class _Branch:
    """Fluent scope for one field (or the global scope) — mirrors one
    ``validation { withField ...; ...; qed }`` CE block."""

    def __init__(self, suite: "Suite", name: Optional[str], column: Optional[ColumnLike]):
        self.suite = suite
        self.name = name  # None => global scope
        self.column = _col(column) if column is not None else None
        self._optional_guard: Optional[Column] = None

    # -- scope plumbing -------------------------------------------------
    @property
    def _path(self) -> Tuple[str, ...]:
        return (self.name,) if self.name is not None else ()

    @property
    def _branch_key(self) -> str:
        return self.name if self.name is not None else "$global"

    def _add(self, code: str, kind: str, ok: Optional[Column], **kw) -> "_Branch":
        self.suite._constraints.append(
            Constraint(
                code=code,
                kind=kind,
                path=self._path,
                ok=ok,
                branch=self._branch_key,
                guard=self._optional_guard,
                **kw,
            )
        )
        return self

    # -- refute family ----------------------------------------------------
    def required(self, code: str) -> "_Branch":
        """refuteWith(isRequired ...) — NOT NULL gate (Library.fs:16-19)."""
        return self._add(code, REFUTE, self.column.isNotNull())

    def refute_check(self, code: str, ok: Column) -> "_Branch":
        """General refuting predicate: on failure, later checks in this
        branch are skipped for the row (VCtx.fs:213-219)."""
        return self._add(code, REFUTE, ok)

    # -- dispute family ----------------------------------------------------
    def check(self, code: str, ok: Column) -> "_Branch":
        """disputeWithFact (VCtx.fs:405-411): accumulate and continue."""
        return self._add(code, DISPUTE, ok)

    def isin(self, code: str, allowed: Sequence) -> "_Branch":
        """hasElem flipped — enum membership (Library.fs:97)."""
        return self.check(code, self.column.isin(list(allowed)))

    def rlike(self, code: str, pattern: str) -> "_Branch":
        """pattern-style validator (reference fixtures use Regex.IsMatch)."""
        return self.check(code, self.column.rlike(pattern))

    def min_length(self, code: str, n: int) -> "_Branch":
        """minLength (Library.fs:61)."""
        return self.check(code, _length_within(self.column, n, None))

    def max_length(self, code: str, n: int) -> "_Branch":
        """maxLength (Library.fs:65)."""
        return self.check(code, _length_within(self.column, None, n))

    def is_length(self, code: str, n: int) -> "_Branch":
        """isLength (Library.fs:69)."""
        return self.check(code, _length_within(self.column, n, n))

    def not_empty(self, code: str) -> "_Branch":
        """isNotNull = non-emptiness, NOT SQL NULL (Library.fs:57 and
        tests/.../Tests/Library.fs:126-139). No bytes <=> no characters."""
        return self.check(code, F.octet_length(self.column) > 0)

    def is_empty(self, code: str) -> "_Branch":
        """isNull = emptiness, NOT SQL NULL (Library.fs:53)."""
        return self.check(code, F.octet_length(self.column) == 0)

    def is_equal(self, code: str, v) -> "_Branch":
        """isEqual (Library.fs:73)."""
        return self.check(code, self.column == F.lit(v))

    def is_not_equal(self, code: str, v) -> "_Branch":
        """isNotEqual (Library.fs:77)."""
        return self.check(code, self.column != F.lit(v))

    def less_than(self, code: str, v) -> "_Branch":
        """isLessThan (Library.fs:81) — validated value is the 2nd arg of
        the flipped reference comparator (tests/.../Library.fs:201-248):
        the COLUMN must be < v."""
        return self.check(code, self.column < F.lit(v))

    def greater_than(self, code: str, v) -> "_Branch":
        """isGreaterThan (Library.fs:85)."""
        return self.check(code, self.column > F.lit(v))

    def less_than_or_equal(self, code: str, v) -> "_Branch":
        """isLessThanOrEqual (Library.fs:89)."""
        return self.check(code, self.column <= F.lit(v))

    def greater_than_or_equal(self, code: str, v) -> "_Branch":
        """isGreaterThanOrEqual (Library.fs:93)."""
        return self.check(code, self.column >= F.lit(v))

    def has_elem(self, code: str, v) -> "_Branch":
        """hasElem (Library.fs:97) — the validated ARRAY must contain v."""
        return self.check(code, F.array_contains(self.column, v))

    def does_not_have_elem(self, code: str, v) -> "_Branch":
        """doesNotHaveElem (Library.fs:101); NULL array => check skipped
        (the suite-wide NULL-tolerance convention)."""
        return self.check(code, ~F.array_contains(self.column, v))

    def required_when(self, code: str, cond: Column) -> "_Branch":
        """isRequiredWhen (Library.fs:24-30) — disputing conditional presence."""
        return self._add(
            code,
            DISPUTE,
            F.when(cond, self.column.isNotNull()).otherwise(F.lit(True)),
        )

    def required_unless(self, code: str, cond: Column) -> "_Branch":
        """isRequiredUnless (Library.fs:35) = isRequiredWhen(not cond)."""
        return self.required_when(code, ~F.coalesce(cond, F.lit(False)))

    # -- element constraints over array columns ------------------------------
    def each_check(
        self, code: str, elem_ok: Callable[[Column], Column]
    ) -> "_Branch":
        """disputeAnyWithFact per element (VCtx.fs:416-429): failures filed
        under ``(field, "[i]")`` paths via a higher-order transform."""
        return self._add(
            code,
            EACH_DISPUTE,
            None,
            array_col=self.column,
            elem_ok=lambda x, i: elem_ok(x),
        )

    def each_refute_check(
        self, code: str, elem_ok: Callable[[Column], Column]
    ) -> "_Branch":
        """refuteEachWith (VCtx.fs:236-248): any failing element refutes the
        whole branch (failures still filed per element)."""
        return self._add(
            code,
            EACH_REFUTE,
            None,
            array_col=self.column,
            elem_ok=lambda x, i: elem_ok(x),
        )

    def each_check_indexed(
        self, code: str, elem_ok: Callable[[Column, Column], Column]
    ) -> "_Branch":
        """Indexed overload of disputeAnyWithFact (VCtx.fs:416-422): the
        validator also receives the element index column."""
        return self._add(
            code, EACH_DISPUTE, None, array_col=self.column, elem_ok=elem_ok
        )

    def each_refute_check_indexed(
        self, code: str, elem_ok: Callable[[Column, Column], Column]
    ) -> "_Branch":
        """Indexed overload of refuteEachWith (VCtx.fs:242-248)."""
        return self._add(
            code, EACH_REFUTE, None, array_col=self.column, elem_ok=elem_ok
        )

    def each_all_check(
        self, code: str, elem_ok: Callable[[Column], Column]
    ) -> "_Branch":
        """disputeAllWith(Fact) — *documented* semantics (VCtx.fs:364-366,
        382-384; the reference implementation at 389-394 inverts the
        condition — a bug with no covering test, see the kernel module
        docstring): fail only when the array is non-empty and EVERY element
        fails; the single distinct failure code lands in the *global* list,
        un-prefixed, and validation continues."""
        arr = self.column
        all_fail = (F.size(arr) > 0) & F.forall(
            arr, lambda x: ~F.coalesce(elem_ok(x), F.lit(True))
        )
        ok = ~F.coalesce(all_fail, F.lit(False))  # NULL array => no failure
        self.suite._constraints.append(
            Constraint(
                code=code,
                kind=DISPUTE,
                path=(),  # global filing pinned by the kernel test
                ok=ok,
                branch=self._branch_key,
                guard=self._optional_guard,
            )
        )
        return self

    def each_all_check_many(
        self, checks: Sequence[Tuple[str, Callable[[Column], Column]]]
    ) -> "_Branch":
        """disputeAllWithMany — multi-failure form, *documented* semantics
        (VCtx.fs:382-384; implementation at 389-394 has the inverted-logic
        bug, see each_all_check): the per-element validator is the fixed
        code list ``[code for (code, ok) in checks if element fails ok]``;
        the constraint fires only when the array is non-empty and EVERY
        element fails at least one check, and then files each code that
        fired for at least one element — the distinct-union of the
        per-element failure lists — into the global list, un-prefixed
        (kernel parity: core/vctx.py dispute_all_with_many). Ordering note:
        codes are filed in declared ``checks`` order, whereas the kernel
        orders by first appearance across elements; violation SETS are
        identical (pinned by the kernel-equivalence test).

        Scale: still pure higher-order expressions over the array column in
        the same single projection — one forall + one exists per code."""
        arr = self.column

        # closure factories, NOT default args: pyspark binds HOF lambdas by
        # ARITY, so an extra defaulted parameter turns a unary lambda into
        # a (element, index) one
        def _mk_elem_fails(cks):
            def elem_fails(x):
                f = F.lit(False)
                for _code, ok_fn in cks:
                    f = f | ~F.coalesce(ok_fn(x), F.lit(True))
                return f

            return elem_fails

        def _mk_fails_one(ok_fn):
            return lambda x: ~F.coalesce(ok_fn(x), F.lit(True))

        all_fail = (F.size(arr) > 0) & F.forall(arr, _mk_elem_fails(checks))
        for code, ok_fn in checks:
            fires = all_fail & F.exists(arr, _mk_fails_one(ok_fn))
            self.suite._constraints.append(
                Constraint(
                    code=code,
                    kind=DISPUTE,
                    path=(),  # global filing, as each_all_check
                    ok=~F.coalesce(fires, F.lit(False)),
                    branch=self._branch_key,
                    guard=self._optional_guard,
                )
            )
        return self

    def each_nested(self, child: ElementSuite, mode: str = "proof") -> "_Branch":
        """Validate every array element with a whole child suite — the two
        reference per-element composition shapes, selected by ``mode``:

        - ``"proof"`` (default) ≅ ``refuteEachWithProof`` (VCtx.fs:274-287):
          ANY element failure refutes this branch (an element's Invalid
          proof becomes element-Refuted, and ValidateEach's fold makes the
          list Refuted);
        - ``"validate"`` ≅ ``validateEach`` (VCtx.fs:136-181): element
          *disputes* accumulate while later branch constraints continue;
          only an element **refute** (a refute-kind child constraint
          firing) refutes this branch.

        Failure paths are ``field.[i].subfield`` in both modes (element
        apply_failures then list-scope prefix). Within one element, a
        child-branch refute skips that element's later checks in the same
        sub-branch (the child CE's bind chain), compiled to per-element
        mask expressions; the whole thing stays higher-order functions in
        one projection — no explode, no shuffle, no UDFs."""
        if mode not in ("proof", "validate"):
            raise ValueError(f"each_nested mode must be 'proof' or 'validate', got {mode!r}")
        # constraint-count suffix keeps repeated each_nested calls on one
        # field in distinct sub-branches; refute-kind child specs land in
        # their own sub-branch so the gate can target them alone
        n0 = len(self.suite._constraints)
        branch_d = f"{self._branch_key}$each{n0}"
        branch_r = f"{self._branch_key}$each{n0}r"
        used: List[str] = []
        # per-(child sub-branch) cumulative element-level refute chains
        chains: dict[Tuple[str, ...], Callable[[Column], Column]] = {}
        for subpath, code, kind, ok_fn in child._specs:
            prev = chains.get(subpath, lambda x, i: F.lit(False))

            def wrapped(x, i, ok_fn=ok_fn, prev=prev):
                # element skipped (NULL => no failure) once its sub-branch
                # is refuted for this element
                return F.when(prev(x, i), F.lit(None).cast("boolean")).otherwise(
                    ok_fn(x, i)
                )

            b = branch_r if kind == REFUTE else branch_d
            if b not in used:
                used.append(b)
            self.suite._constraints.append(
                Constraint(
                    code=code,
                    kind=EACH_DISPUTE,
                    path=self._path,
                    ok=None,
                    branch=b,
                    guard=self._optional_guard,
                    array_col=self.column,
                    elem_ok=wrapped,
                    elem_subpath=subpath,
                    parent_branch=self._branch_key,
                )
            )
            if kind == REFUTE:
                chains[subpath] = lambda x, i, ok_fn=ok_fn, prev=prev: prev(
                    x, i
                ) | ~F.coalesce(ok_fn(x, i), F.lit(True))
        gate_children = used if mode == "proof" else [b for b in used if b == branch_r]
        self.suite._constraints.append(
            Constraint(
                code=f"{self._branch_key}$__each_gate",
                kind=PROOF_GATE,
                path=self._path,
                ok=None,
                branch=self._branch_key,
                child_branches=gate_children,
                gate_on="any",
            )
        )
        return self

    # -- optional --------------------------------------------------------------
    def optional(self) -> "_Branch":
        """Subsequent checks in this branch skip NULL values
        (``optional``, VCtx.fs:110-133: None passes through untouched)."""
        g = self.column.isNotNull()
        self._optional_guard = g if self._optional_guard is None else (self._optional_guard & g)
        return self

    # -- chain back to suite ------------------------------------------------------
    def field(self, name: str, column: Optional[ColumnLike] = None) -> "_Branch":
        return self.suite.field(name, column)

    def global_(self) -> "_Branch":
        return self.suite.global_()

    def done(self) -> "Suite":
        return self.suite


FAILURE_STRUCT = "struct<path:string,code:string>"


class Suite:
    """An ordered constraint suite over one table — the engine equivalent of
    a whole ``validation { ... }`` record CE with one branch per field.

    Build with the fluent API, then ``with_failures`` / ``run``. The suite is
    a *logical plan builder*: nothing executes until the returned DataFrames
    are acted on, so Catalyst sees every predicate at once.
    """

    def __init__(self):
        self._constraints: List[Constraint] = []
        # (constraint count, {key: compile pass or Column}) — see _memoized
        self._memo: Tuple[int, dict] = (-1, {})

    # -- builders -----------------------------------------------------------
    def field(self, name: str, column: Optional[ColumnLike] = None) -> _Branch:
        return _Branch(self, _name(name), column if column is not None else name)

    def global_(self) -> _Branch:
        return _Branch(self, None, None)

    def nested(
        self,
        name: str,
        child: "Suite",
        guard: Optional[Column] = None,
        mode: str = "apply",
    ) -> "Suite":
        """Compose a whole child suite under field ``name`` — the two
        reference composition shapes, selected by ``mode``:

        - ``"apply"`` (default) ≅ ``applyFailures``-style nesting as used by
          ``optional``/``validateEach`` (VCtx.fs:36-47,110-133): child field
          failures are path-prefixed with ``name`` (nested dotted
          provenance, e.g. ``meta.role``), child *global* failures are filed
          under ``[name]``, and only a child **refute** refutes the parent
          branch — child disputes accumulate and later parent checks still
          run (DisputedCtx carries the value forward).
        - ``"proof"`` ≅ ``refuteWithProof`` (VCtx.fs:253-269): child field
          failures keep their own paths (the reference does NOT prefix
          them), child global failures are filed under ``[name]``, and ANY
          child failure refutes the parent branch (an Invalid proof ends
          the branch). Divergence note: the reference's ``Map.add [n] gfs``
          *replaces* an existing ``[n]`` entry and files it even when empty;
          the engine unions violation rows instead (no observable
          difference unless a child field shadows the parent's name).

        In both modes, sibling branches keep evaluating (applicative
        independence), and if the parent branch is already refuted at the
        nesting point no child constraint runs (bind short-circuit,
        VCtx.fs:15-18). The child suite must reference columns by full
        expression (e.g. ``F.col("meta.role")``); ``guard`` (e.g.
        struct-NOT-NULL) gates every child check. Everything stays a
        compile-time mask — one projection, no extra pass, no UDFs."""
        if mode not in ("apply", "proof"):
            raise ValueError(f"nested mode must be 'apply' or 'proof', got {mode!r}")
        _name(name)
        child_keys: List[str] = []
        for c in child._constraints:
            nb = f"{name}${c.branch}"
            if nb not in child_keys:
                child_keys.append(nb)
            g = c.guard
            if guard is not None:
                g = guard if g is None else (g & guard)
            if mode == "apply":
                new_path = (name,) + c.path
            else:
                new_path = (name,) if not c.path else c.path
            self._constraints.append(
                dc_replace(
                    c,
                    path=new_path,
                    branch=nb,
                    guard=g,
                    parent_branch=(
                        f"{name}${c.parent_branch}" if c.parent_branch else name
                    ),
                    child_branches=(
                        [f"{name}${b}" for b in c.child_branches]
                        if c.child_branches
                        else None
                    ),
                )
            )
        self._constraints.append(
            Constraint(
                code=f"{name}$__proof_gate",
                kind=PROOF_GATE,
                path=(name,),
                ok=None,
                branch=name,
                child_branches=child_keys,
                gate_on="refute" if mode == "apply" else "any",
            )
        )
        return self

    @property
    def codes(self) -> List[str]:
        return [c.code for c in self._constraints if c.kind != PROOF_GATE]

    # -- compilation ----------------------------------------------------------
    def _memoized(self, key, build: Callable):
        """``build()`` once per ``key`` for the suite as it stands. The
        builders only append, so the constraint count identifies the suite's
        state: a suite compiles once, and builds each output column once
        (every py4j call of a build is paid once, not once per batch),
        however many consumers (split, verdict, reports) read them."""
        n = len(self._constraints)
        if self._memo[0] != n:
            self._memo = (n, {})
        built = self._memo[1]
        if key not in built:
            built[key] = build()
        return built[key]

    def _compiled(self) -> tuple:
        return self._memoized("compiled", self._compile)

    def _compile(self) -> tuple:
        """Shared compile pass: ``(constraint, fail, n_failures,
        prev_refuted)`` for every non-gate constraint, in evaluation order,
        applying the full mask algebra exactly once for all consumers:

        - cumulative per-branch refute masks (bind short-circuit,
          VCtx.fs:15-18);
        - nested child branches inherit the parent's mask as of the nesting
          point (a child under an already-refuted field never runs);
        - PROOF_GATEs refute their branch when child branches failed
          (``gate_on="any"`` ≅ refuteWithProof) or were refuted
          (``gate_on="refute"`` ≅ applyFailures/optional composition); the
          gate itself files nothing.

        ``fail``/``n_failures`` are pure boolean/int algebra, no array or
        struct allocation (they stay inside whole-stage codegen).
        """
        out = []
        refuted: dict[str, Column] = {}
        br_any: dict[str, Column] = {}
        br_refute: dict[str, Column] = {}
        for c in self._constraints:
            if c.branch not in refuted and c.parent_branch is not None:
                refuted[c.branch] = refuted.get(c.parent_branch, F.lit(False))
            prev_refuted = refuted.get(c.branch, F.lit(False))
            if c.kind == PROOF_GATE:
                src = br_refute if c.gate_on == "refute" else br_any
                fire = F.lit(False)
                for b in c.child_branches or []:
                    fire = fire | src.get(b, F.lit(False))
                fire = fire & ~prev_refuted
                refuted[c.branch] = prev_refuted | fire
                br_refute[c.branch] = br_refute.get(c.branch, F.lit(False)) | fire
                continue
            if c.kind in (REFUTE, DISPUTE):
                fail = ~F.coalesce(c.ok, F.lit(True))  # NULL check => skipped
                if c.guard is not None:
                    fail = fail & c.guard
                fail = fail & ~prev_refuted
                n = fail.cast("int")
            else:  # element constraints
                n_elem = F.size(
                    F.filter(
                        c.array_col,
                        # two-arg filter lambda: (element, index) — the
                        # index must be real for indexed validators
                        lambda x, i: ~F.coalesce(c.elem_ok(x, i), F.lit(True)),
                    )
                )
                applicable = c.array_col.isNotNull()
                if c.guard is not None:
                    applicable = applicable & c.guard
                applicable = applicable & ~prev_refuted
                n = F.when(applicable, F.greatest(n_elem, F.lit(0))).otherwise(
                    F.lit(0)
                )
                fail = n > 0
            br_any[c.branch] = br_any.get(c.branch, F.lit(False)) | fail
            if c.kind in (REFUTE, EACH_REFUTE):
                refuted[c.branch] = prev_refuted | fail
                br_refute[c.branch] = br_refute.get(c.branch, F.lit(False)) | fail
            out.append((c, fail, n, prev_refuted))
        return tuple(out)

    def any_failure_column(self) -> Column:
        """Boolean 'row emits at least one failure' — used as the split
        predicate in ``run`` so the failure-array construction cost is paid
        only for rows that already failed (typically a few percent)."""
        flags = [fail for _, fail, _, _ in self._compiled()]
        return self._memoized("any", lambda: reduce(or_, flags) if flags else F.lit(False))

    def failure_count_column(self) -> Column:
        """Total failures emitted for the row (== size of the failures
        array) without building the array — for verdict aggregation."""
        counts = [n for _, _, n, _ in self._compiled()]
        return self._memoized("count", lambda: reduce(add, counts) if counts else F.lit(0))

    def failures_column(self, for_report: bool = False) -> Column:
        """Compile the whole suite into ONE array<struct<path,code>>
        expression, in evaluation order (built once per ``for_report``, see
        ``_memoized``).

        With ``for_report`` the compile-time literals (rendered paths and
        codes) are escaped with the kernel's System.Text.Json-compatible
        encoder (``escape_json``), so ``report_json_column`` can splice them
        into JSON verbatim. Escaping is per character and leaves ``.``,
        ``[``, ``]`` and digits alone, so an element path's dynamic index
        needs none. Default (data-facing) output keeps raw paths/codes."""
        return self._memoized(("failures", for_report), lambda: self._failures(for_report))

    def _failures(self, for_report: bool) -> Column:
        lit = (lambda s: F.lit(escape_json(s))) if for_report else F.lit
        contributions: List[Column] = []
        for c, fail, _n, prev_refuted in self._compiled():
            code = lit(c.code).alias("code")
            if c.kind in (REFUTE, DISPUTE):
                entry = F.struct(lit(render_path(c.path)).alias("path"), code)
                contributions.append(F.array(F.when(fail, entry)))
                continue
            # element constraints: the chain path + "[i]" + elem_subpath,
            # rendered with the "[" and "]" of the index as its own segments
            pre = lit(render_path(c.path + ("[",)))
            post = lit(render_path(("]",) + c.elem_subpath))

            def mk_entries(arr: Column, c=c, code=code, pre=pre, post=post) -> Column:
                return F.transform(
                    arr,
                    lambda x, i: F.when(
                        ~F.coalesce(c.elem_ok(x, i), F.lit(True)),
                        F.struct(F.concat(pre, i.cast("string"), post).alias("path"), code),
                    ),
                )

            arr_guard = c.array_col.isNotNull()
            if c.guard is not None:
                arr_guard = arr_guard & c.guard
            entries = F.when(
                arr_guard & ~prev_refuted, mk_entries(c.array_col)
            ).otherwise(F.array().cast(f"array<{FAILURE_STRUCT}>"))
            contributions.append(entries)
        if not contributions:
            return F.array().cast(f"array<{FAILURE_STRUCT}>")
        return F.array_compact(F.concat(*contributions)).alias("failures")

    def with_failures(self, df: DataFrame) -> DataFrame:
        """df + ``failures`` column (array<struct<path,code>>), one pass."""
        return df.select("*", self.failures_column().alias("failures"))

    def report_json_column(self) -> Column:
        """Per-row violation report in the reference's wire format
        (``ValidationFailuresConverter.Write``, Proof.fs:28-45):
        ``{"failures":["code",...],"fields":{"camelCase.dotted.path":
        ["code",...],...}}`` — global (empty-path) failures in the list,
        field failures grouped under their rendered path, field keys in
        sorted order (F# Map iteration), codes in evaluation order.

        Built entirely from the compiled failures array with higher-order
        functions — interpreted expressions, but only ever evaluated on the
        failing slice (report emission), so the hot path stays codegen'd.
        Escaping: codes and rendered paths are compile-time literals,
        escaped (kernel ``escape_json``) by
        ``failures_column(for_report=True)`` — a quote/backslash/HTML-
        sensitive/non-ASCII char in a code or field name serializes exactly
        like the byte-pinned kernel serializer. Segment-sort note: keys sort
        by the escaped dotted string; this matches the reference's
        Name-list sort for all path alphabets without ``.``/``-``/escaped
        chars inside a segment (codes here are identifier-like). Built once
        (see ``_memoized``)."""
        return self._memoized(
            "report", lambda: self._report_json(self.failures_column(for_report=True))
        )

    @staticmethod
    def _report_json(f: Column) -> Column:
        """The report of the ``failures_column(for_report=True)`` array
        ``f``, which three of its lambdas read. ``run`` projects the array
        first and passes a column reference, so each failing row builds the
        array once (Spark keeps the two projections apart)."""

        gcodes = F.transform(F.filter(f, lambda x: x["path"] == ""), lambda x: x["code"])
        globals_json = F.concat_ws(
            ",", F.transform(gcodes, lambda c: F.concat(F.lit('"'), c, F.lit('"')))
        )
        fpaths = F.array_sort(
            F.array_distinct(
                F.transform(F.filter(f, lambda x: x["path"] != ""), lambda x: x["path"])
            )
        )
        field_entries = F.transform(
            fpaths,
            lambda p: F.concat(
                F.lit('"'),
                p,
                F.lit('":['),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.filter(f, lambda x: x["path"] == p),
                        lambda x: F.concat(F.lit('"'), x["code"], F.lit('"')),
                    ),
                ),
                F.lit("]"),
            ),
        )
        return F.concat(
            F.lit('{"failures":['),
            globals_json,
            F.lit('],"fields":{'),
            F.concat_ws(",", field_entries),
            F.lit("}}"),
        )

    def run(self, df: DataFrame, key_cols: Sequence[str]) -> "SuiteResult":
        """Split into (valid_df, failing slice) — the vectorized
        ``fromVCtx`` + MergeSources collapse (Library.fs:8-12, VCtx.fs:53-63):
        a row with ANY failure produces no valid-output row.

        Plan shape: both outputs filter on the allocation-free boolean
        ``any_failure_column`` (whole-stage codegen over the scan); the
        failure array+structs and the report are constructed only for the
        failing slice, and only when a consumer selects them (column
        pruning drops an unused one)."""
        any_fail = self.any_failure_column()
        failing = (
            df.filter(any_fail)
            .select(
                *key_cols,
                self.failures_column().alias("failures"),
                self.failures_column(for_report=True).alias("report_failures"),
            )
            .select(
                *key_cols,
                "failures",
                self._memoized(
                    "report_of_column",
                    lambda: self._report_json(F.col("report_failures")),
                ).alias("report"),
            )
        )
        return SuiteResult(df.filter(~any_fail), failing, list(key_cols), self)


@dataclass
class SuiteResult:
    """(valid_df, violations_df) pair ≅ Proof.toResult (Proof.fs:120-123);
    the pipeline-gate shape of the Giraffe integration
    (src/FSharp.Data.Validation.Giraffe/Library.fs:15-36).

    ``failing`` is the one suite evaluation the violation outputs share:
    ``(key..., failures, report)``, one row per failing row. ``violations``,
    ``reports`` and ``failing_counts`` are derived from it, so a caller
    that persists ``failing`` (``dataclasses.replace(res, failing=...)``)
    derives all three from the persisted rows."""

    valid: DataFrame
    failing: DataFrame
    key_cols: List[str]
    suite: Suite

    @property
    def violations(self) -> DataFrame:
        """(key..., path, code), one row per failure; ``path`` is the
        camelCase-dotted rendering, ``""`` for a global failure."""
        return self.failing.select(*self.key_cols, F.inline("failures"))

    @property
    def reports(self) -> DataFrame:
        """(key..., report) for every failing row — the reference's JSON
        violation document per row (see ``Suite.report_json_column``)."""
        return self.failing.select(*self.key_cols, "report")

    def failing_counts(self, group_col: str, groups: Sequence[str]) -> List[Column]:
        """Aggregates over ``failing`` for the i-th value of ``groups``:
        ``rows_with_violations_i`` (its failing rows) and ``violations_i``
        (their ``sum(size(failures))``, NULL when it has none). Observed
        (``DataFrame.observe``) on a write that reads ``failing`` anyway,
        they cost no job of their own."""
        out = []
        for i, g in enumerate(groups):
            hit = F.col(group_col) == g
            out += [
                F.count(F.when(hit, F.lit(1))).alias(f"rows_with_violations_{i}"),
                F.sum(F.when(hit, F.size("failures"))).alias(f"violations_{i}"),
            ]
        return out

    def verdict(self, partition_cols: Sequence[str], df: DataFrame) -> DataFrame:
        """Per-partition pass/fail + metrics (north rule): rows scanned,
        violations, pass = no violations, over every row of ``df`` (one
        all-rows job; ``ValidationRun`` takes the same counts from
        ``failing_counts`` and its pending scan instead). Partial
        aggregation (map-side combine) keeps this a single shuffle at any
        scale."""
        nf = self.suite.failure_count_column()
        flagged = df.select(*partition_cols, nf.alias("_nf"))
        return flagged.groupBy(*partition_cols).agg(
            F.count(F.lit(1)).alias("rows_scanned"),
            F.sum((F.col("_nf") > 0).cast("long")).alias("rows_with_violations"),
            F.sum("_nf").cast("long").alias("violations"),
            F.lit(len(self.suite.codes)).alias("constraints_evaluated"),
            (F.sum("_nf") == 0).alias("pass"),
        )

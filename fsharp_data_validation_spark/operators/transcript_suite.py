"""The standard constraint suite for the transcripts table — the engine's
flagship workload (BASELINE.json north_star): required fields, role-enum
membership, format patterns, length bounds, conditional tool presence.

Each constraint cites the reference validator it re-expresses. The DuckDB
oracle for this suite lives in __spark_entry__.oracle_sql()["row_suite"];
the guards there replicate the refute masks exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.compiler import Suite
from ..sources.transcripts import ROLES

TEXT_MAX = 10_000


def transcript_row_suite() -> Suite:
    return (
        Suite()
        # conv_id: refuteWith(isRequired) then format pattern
        .field("conv_id")
        .required("conv_id_required")
        .rlike("conv_id_format", "^c[0-9]+$")
        # turn_idx: required; >= 0 (isGreaterThanOrEqual 0, Library.fs:93)
        .field("turn_idx")
        .required("turn_idx_required")
        .check("turn_idx_negative", F.col("turn_idx") >= 0)
        # role: required; enum membership (hasElem flipped, Library.fs:97)
        .field("role")
        .required("role_required")
        .isin("role_enum", list(ROLES))
        # text: required (refute gates the length checks); minLength/maxLength
        .field("text")
        .required("text_required")
        .min_length("text_empty", 1)
        .max_length("text_too_long", TEXT_MAX)
        # tool: optional (NULL passes, VCtx.fs:110-133); format when present;
        # conditionally required for tool turns (isRequiredWhen, Library.fs:24-30)
        .field("tool")
        .optional()
        .rlike("tool_format", "^tool_[0-9]+$")
        .field("tool")
        .required_when("tool_missing_for_tool_role", F.col("role") == "tool")
        # global cross-field rule (withValue + disputeWithFact, ≅ the
        # OtherFailure rule in tests/.../Tests/Fixtures.fs:151-155)
        .global_()
        .check(
            "tool_on_non_tool_role",
            (F.col("role") == "tool") | F.col("tool").isNull(),
        )
        .done()
    )

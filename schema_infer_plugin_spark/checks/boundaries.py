"""Conversation boundary-role validation.

A transcript is not just a bag of valid turns — it has a shape: a
conversation should OPEN with a user or system turn (an assistant speaking
first means a lost prompt upstream) and CLOSE with an assistant or tool turn
(ending on a user turn is a dangling question — the tail of the conversation
was truncated in ingest). Neither defect is visible to any per-turn check:
every row can individually pass nulls/domains/contiguity while the
conversation as a whole is broken. This is the conversation-level analog of
the reference's per-message validity ladder (core/inferrer.py:199-261).

The check is two conversation rules (checks/custom.Rule) that ride the fused
plan (plans/validate.py) when ``validation.boundary_*_roles`` are set: the
first/last flags of its one annotated frame come from lag/lead over the
engine's turn order (schema.conv_order — the role tie-breaker makes the
boundary turn deterministic on full duplicate rows in both engines), so
the check adds no scan and no exchange.

NULL semantics: a NULL boundary role FAILS membership (quality_funnel
posture — an unevaluable constraint is a data defect).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .custom import Rule, unless

DEFAULT_FIRST_ROLES = ("user", "system")
DEFAULT_LAST_ROLES = ("assistant", "tool")


def boundary_rules(
    allowed_first: tuple[str, ...] = DEFAULT_FIRST_ROLES,
    allowed_last: tuple[str, ...] = DEFAULT_LAST_ROLES,
) -> list[Rule]:
    """Rules ``conv_start_role`` / ``conv_end_role``: a conversation's first /
    last turn must have a role in the allowed set (column='role', observed
    the role or 'NULL', expected 'in {sorted roles}')."""
    if not allowed_first or not allowed_last:
        raise ValueError("boundary_rules: role sets must be non-empty")
    role = F.col("role")

    def rule(name: str, at: str, allowed) -> Rule:
        bad = F.col(at) & ~F.coalesce(role.isin(*allowed), F.lit(False))
        expected = "in {" + ",".join(sorted(allowed)) + "}"
        return Rule(name, unless(bad), "role", role, expected, conv=True)

    return [
        rule("conv_start_role", "is_first", allowed_first),
        rule("conv_end_role", "is_last", allowed_last),
    ]

"""Broadcast-join enrichment (north rule: "broadcast-join enrichment
against role/tool lookup tables") and positional label alignment
(SURVEY.md O4: the reference aligns labels to events by index,
/root/reference/src/stream.py:342-343; our table has real keys, so
the join is an equi left join on (conv_id, turn_idx)).

Dimension tables are a few rows — F.broadcast() pins the plan to
BroadcastHashJoin so the 10^12-row fact side never shuffles for the
join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_roles_tools(
    df: DataFrame, role_dim: DataFrame, tool_dim: DataFrame
) -> DataFrame:
    """Left broadcast joins; unmatched roles/tools keep null attrs."""
    out = df.join(F.broadcast(role_dim), on="role", how="left")
    out = out.join(F.broadcast(tool_dim), on="tool", how="left")
    return out

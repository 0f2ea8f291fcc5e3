"""Role/tool filter stage (SURVEY.md §2.2).

A pure-Catalyst predicate: it stays pushdown-eligible and inside JVM
codegen at any scale. The other text stages (normalize, the 15-rule
keep conjunction, text stats) are SQL expressions from ``functions/``
that the contract queries and the streaming pipeline apply directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def role_tool_filter(
    df: DataFrame,
    roles: tuple[str, ...] = ("system", "human", "assistant"),
    keep_tools: tuple[str, ...] | None = None,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Role/tool predicate stage (the explicit form of the implicit
    role selection in conversation_to_message.py:76-102): keep whitelisted
    roles; optionally also keep tool turns whose tool is whitelisted."""
    pred = F.col(role_col).isin(*roles)
    if keep_tools:
        pred = pred | (F.col(role_col).eqNullSafe("tool")
                       & F.col(tool_col).isin(*keep_tools))
    return df.filter(pred)

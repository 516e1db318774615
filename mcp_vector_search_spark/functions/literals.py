"""Python values as exact Spark SQL literals.

Plans that are rebuilt on every call write their expressions as SQL
text: one parse on the JVM instead of a py4j round trip per Column
operation. Served scores are compared bit for bit with the Column
paths, so every literal must parse back to exactly the Python value.
"""

from __future__ import annotations

import math
from collections.abc import Iterable


def sql_double(x: float) -> str:
    """A double as an exact SQL literal: Spark parses the decimal back
    with `Double.parseDouble`, which returns the double `repr` came
    from. NaN and the infinities have no literal and go through a cast."""
    x = float(x)
    if not math.isfinite(x):
        return f"CAST('{x!r}' AS DOUBLE)"
    return f"({x!r}D)".replace("e", "E")


def sql_string(s: str) -> str:
    """A string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_array(items: Iterable[str]) -> str:
    """`array(...)` over literals already written as SQL text."""
    return f"array({', '.join(items)})"

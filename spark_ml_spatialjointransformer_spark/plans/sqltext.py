"""SQL text that parses to exactly the expressions the Column API builds.

The spatial join builds its derived columns as SQL text and applies each
projection in one ``selectExpr``: one Py4J round trip per projection
instead of one per Column node.  These helpers keep that text faithful:

- :func:`sql_double` — a double literal equal to ``F.lit(v)`` for every
  float, the shortest round-tripping ``repr`` plus Spark's ``D`` suffix;
- :func:`sql_ident` — one exact column name, backtick-quoted (what
  ``.alias(name)`` gives);
- :func:`sql_col` — a column reference parsed the way ``F.col(name)``
  parses it (dots separate nested fields, backticks quote);
  :func:`name_parts` gives the names it is made of.
"""

from __future__ import annotations

import math


def sql_double(v: float) -> str:
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{v!r}' AS DOUBLE)"  # 'inf', '-inf', 'nan'


def sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def name_parts(name: str) -> list[str]:
    """Spark's ``UnresolvedAttribute.parseAttributeName``, which ``F.col``
    applies to its argument."""
    bad = ValueError(f"syntax error in attribute name: {name!r}")
    parts: list[str] = []
    tmp: list[str] = []
    in_tick = False
    i = 0
    while i < len(name):
        ch = name[i]
        if in_tick:
            if ch != "`":
                tmp.append(ch)
            elif i + 1 < len(name) and name[i + 1] == "`":
                tmp.append("`")
                i += 1
            else:
                in_tick = False
                if i + 1 < len(name) and name[i + 1] != ".":
                    raise bad
        elif ch == "`":
            if tmp:
                raise bad
            in_tick = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise bad
            parts.append("".join(tmp))
            tmp = []
        else:
            tmp.append(ch)
        i += 1
    if in_tick:
        raise bad
    parts.append("".join(tmp))
    return parts


def sql_col(name: str) -> str:
    return ".".join(sql_ident(p) for p in name_parts(name))

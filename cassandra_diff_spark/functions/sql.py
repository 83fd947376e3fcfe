"""SQL text for plans built from expression strings.

The diff and digest plans are built as SQL expression strings handed to
``selectExpr`` / ``F.expr`` (see the ``operators/diff.py`` module
docstring for why). These helpers make user-supplied names and values
safe to splice into that text.
"""

from __future__ import annotations

from typing import Iterable


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: a dotted or
    keyword-named column stays one top-level column."""
    return "`" + name.replace("`", "``") + "`"


def idents(names: Iterable[str]) -> str:
    """Comma-separated :func:`ident` list, e.g. for ``struct(...)``."""
    return ", ".join(ident(n) for n in names)


def string_lit(value: str) -> str:
    """``value`` as a single-quoted SQL string literal, escaped with
    backslashes as Spark's parser reads them by default."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

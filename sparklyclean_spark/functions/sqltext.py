"""SQL text for building plans: an expression crosses py4j once.

Every ``F.*`` call (``F.col``, ``F.when``) is about three Python→JVM
round trips (function lookup, call, and a GC-delete of the discarded
wrapper), and every Column method (``.alias``, ``.cast``,
``.otherwise``) about ten, since PySpark records its call site in the
JVM; each is ~0.1 ms. A projection written as SQL text is one
``selectExpr``/``where``/``F.expr`` crossing whatever its size (plus
one round trip per list element). Identifiers in that text are
backtick-quoted, so any column name is safe to splice in.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def col_sql(c: Column | str) -> str:
    """A column reference as SQL text: a name, or a plain ``F.col``
    reference (its name parts, each quoted). Any other Column has no
    name parts and is refused: a computed one has no name to splice
    in, and a DataFrame-bound one (``df["x"]``, already resolved
    against its plan) would lose that binding as text and could
    resolve to the other side of a self-join."""
    if isinstance(c, str):
        return ident(c)
    try:
        parts = c._jc.node().nameParts().mkString("\0").split("\0")
    except Py4JError:
        raise TypeError(f"expected a column name or F.col(name), got {c}") from None
    return ".".join(ident(p) for p in parts)

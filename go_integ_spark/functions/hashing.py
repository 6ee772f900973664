"""Engine-portable 60-bit hashing.

Spark's ``xxhash64`` has no DuckDB twin, so any result derived from it
can only get a rows-only driver check. ``h60`` is the portable
replacement used wherever the hash VALUE reaches query output: the
leading 15 hex chars of md5 parsed as an integer — 60 bits, fits a
signed BIGINT in both engines with no overflow (relevant under Spark 4
ANSI mode, which forbids wrap-around), and bit-identical everywhere
because md5 is md5. ``xxhash64`` remains the right choice for purely
internal keys (minhash permutations, salts) where only equality
matters and the extra speed counts.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def h60(col: Column | str) -> Column:
    """60-bit engine-portable hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# Spark SQL-expression spelling (for use inside F.expr strings); the
# argument is a SQL expression producing a string.
def h60_expr(expr: str) -> str:
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


# DuckDB spelling of the identical value, for oracle strings.
def h60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# Pure-Python spelling of the identical value, for Arrow-batched
# kernels and driver-side model builders. md5 of the UTF-8 bytes ==
# Spark md5 of the string == DuckDB md5.
_md5 = hashlib.md5


def h60_py(s: str) -> int:
    return int(_md5(s.encode("utf-8")).hexdigest()[:15], 16)

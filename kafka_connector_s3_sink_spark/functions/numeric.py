"""Engine-portable numeric helpers.

``stable_round``: round-half-up implemented as ``floor(x * 10^d + 0.5) / 10^d``.

Why not the built-in ``round``: Spark rounds a double via its *shortest decimal
representation* (BigDecimal.valueOf) with HALF_UP, while DuckDB (and most C
engines) round the *binary* value — for results whose shortest repr terminates
in a 5 (systematic for decimal-weighted arithmetic, e.g. 0.60225) the two
disagree by one ulp of the last kept digit. ``floor``-based rounding performs
identical IEEE-754 operations on identical inputs in every engine, so results
are bit-identical wherever the inputs are — which is what an oracle hash-match
needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column, digits: int) -> Column:
    scale = float(10**digits)
    return F.floor(col * scale + F.lit(0.5)) / scale

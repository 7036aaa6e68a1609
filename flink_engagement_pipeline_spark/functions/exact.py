"""Cross-engine-exact numeric helpers for the hash-matching oracle.

Floating-point SUM is order-dependent: Spark's partial aggregation and
DuckDB's single-threaded scan add the same doubles in different orders
and can disagree in the last ulp, which fails a value-hash comparison.
The fixture money-like columns (``events.value``, lineitem prices /
discounts / taxes, quantities) are all exactly 2-decimal, so routing
them through DECIMAL makes every sum exact and order-independent; the
final cast back to DOUBLE is then a deterministic conversion of the
same exact value in both engines.

At 100 TB this also matters for *Spark-internal* determinism: AQE can
change partial-aggregation order between runs, so decimal-summed
metrics are stable run-to-run while double sums are not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Enough integer headroom for 2-decimal money columns summed over ~1e12
# rows per group (38-digit Spark/DuckDB decimal cap is far above this).
MONEY = "decimal(18,2)"


def dec(col: Column | str, typ: str = MONEY) -> Column:
    """Exact decimal view of a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)

"""Exact (order-independent) numeric aggregation helpers.

Floating-point SUM is not associative: a distributed sum over N
partitions returns different low-order bits than a serial sum, which
breaks exact value comparison against any single-node oracle and makes
results depend on partitioning — unacceptable for an engine whose results
must be stable across cluster sizes (the 100 TB rule: a correct answer at
32 tasks must be bit-identical at 10 000 tasks).

The fixture money columns carry exactly 2 decimal digits (verified in
FIXTURES/TESTDATA), so we aggregate in integer cents: ``round(x*100)`` is
exact in IEEE double for these values, int64 SUM is associative and
exact, and the final re-scale division is a single deterministic IEEE op.
The same expressions are emitted on the oracle (DuckDB) side, giving
bit-identical results by construction.

Scale note: int64 holds ~9.2e18. Summing cents (1e2 units) overflows
only past ~9e16 currency units; the 3-factor "charge" products use 1e-6
units and would need decimal(38,0) sums at extreme scale — switch
``sum_cents``'s cast to ``decimal(38,0)`` if a deployment approaches it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer representation of a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale), 0).cast("long")


def cents_np(values, scale: int = 100):
    """Numpy twin of :func:`cents` for Arrow-batched kernels.

    ``np.round``/pandas ``.round()`` are banker's half-even; Spark's
    ``F.round`` (and the SQL oracles' ROUND) are HALF_UP away from zero.
    They disagree on exact .5 products, so Python kernels must use this
    sign-aware floor(|v|*scale + 0.5) to stay bit-identical to the JVM
    and SQL paths.
    """
    import numpy as np

    v = np.asarray(values, dtype=np.float64)
    return (np.sign(v) * np.floor(np.abs(v) * scale + 0.5)).astype(np.int64)

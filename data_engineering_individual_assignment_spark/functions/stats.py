"""Grouped-aggregate (UDAF-style) pandas UDFs — the third pandas-UDF
API surface next to the scalar UDFs (functions/vectors.py, text.py) and
the grouped-map/cogroup paths (operators/regression.py, similarity.py).

A GROUPED_AGG pandas UDF receives each group's column as ONE pandas
Series (Arrow-transferred) and returns a scalar — Spark runs it inside
a regular aggregation, so it composes with groupBy and bounded windows.
Partial aggregation does NOT apply (the whole group's values ship to
one task), which is exactly the right trade for order-statistics
aggregates that cannot be computed from mergeable partials — and the
reason the group key must be well-distributed (per-key cardinality
bounded), not a skew key.
"""

# NOTE: no `from __future__ import annotations` here — PEP 563 string
# annotations break pandas_udf's type-hint resolution (same gotcha as
# functions/text.py); the inner function needs REAL class annotations.


def trimmed_mean_udaf(trim: float = 0.1):
    """10%-trimmed mean (by default): drop the floor(trim*n) smallest
    and largest values, average the interior.  Robust to the heavy
    tails that make a plain mean useless for latency/price columns.

    Deterministic and ORACLE-EXACT: slicing sorted values by COUNT
    (not by value threshold) matches a rank-filtered SQL twin even
    when values tie at the trim boundary, because tied values
    contribute the same amount to the mean regardless of which copy
    the slice keeps."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _trimmed(v: pd.Series) -> float:
        x = np.sort(v.to_numpy(dtype="float64"))
        k = int(len(x) * trim)
        inner = x[k : len(x) - k] if len(x) > 2 * k else x
        return float(inner.mean()) if len(inner) else float("nan")

    return pandas_udf(_trimmed, "double")

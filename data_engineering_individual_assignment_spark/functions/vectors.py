"""Vector math over array<float|double> columns, used by the similarity
search operators (SURVEY §2.11).

``dot`` / ``norm`` / ``cosine`` are pure Column expressions via
higher-order functions (zip_with/aggregate), evaluated JVM-side: no
Python round-trip, sums accumulated in double sequentially over the
array, which keeps results deterministic for the oracle comparison.
``cosine_pandas`` is the Arrow form: one numpy block computation per
batch, for the pair-scoring hot paths (round its results before
comparing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm.

    Pure-expression form: exactly deterministic (sequential accumulation)
    but higher-order functions run interpreted.  Use ``cosine_pandas``
    in O(n·q)-pair hot paths — ~10× faster via Arrow+numpy."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_pandas(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized cosine: batches of array pairs cross into numpy,
    one BLAS-ish block computation per batch instead of an interpreted
    expression tree per row.  fp differences vs the sequential form are
    ~1e-15 relative — round results before hashing/comparison."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(x: pd.Series, y: pd.Series) -> pd.Series:
        A = np.stack(x.to_numpy()).astype(np.float64)
        B = np.stack(y.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        out = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
        return pd.Series(out)

    return _cos(_col(a), _col(b))

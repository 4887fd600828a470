"""Vector (embedding) column expressions: dot, norm, cosine — JVM-side via
zip_with/aggregate (stays in codegen, no Python), plus an Arrow-batched
pandas UDF twin for the cases where numpy wins (very high dims).

All arithmetic is done in DOUBLE regardless of the (float32) storage type:
float accumulation drifts between engines; double accumulation over 64-dim
vectors is deterministic enough to oracle-compare after round(4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

__all__ = ["dot", "norm", "cosine", "cosine_pandas", "cosine_all_pandas"]


def dot(a, b) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


@F.pandas_udf(T.DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine, BIT-IDENTICAL to the ``cosine`` expression.

    The sums accumulate sequentially over dimensions (vectorized across the
    rows of the batch): per row this is exactly the fold
    ``(((0.0 + x0) + x1) + ...)`` that both ``F.aggregate`` and DuckDB's
    list fold perform, so results match the oracle to the last ulp. numpy's
    pairwise ``.sum(axis=1)`` would be faster per batch but sums in a
    different association order — last-ulp drift that round(4) can flip on a
    boundary-landing value, making oracle parity data-dependent. The
    dim-loop keeps the batch-vectorized speed (dim ops per
    batch, never per-row Python) AND the exact fold semantics."""
    import numpy as np

    # float64 accumulation regardless of (float32) storage — matches the
    # expression twin and the DuckDB oracle's double arithmetic, so round(4)
    # never flips on a float32-accumulation boundary.
    av = np.stack(a.to_numpy()).astype(np.float64, copy=False)
    bv = np.stack(b.to_numpy()).astype(np.float64, copy=False)
    n, dim = av.shape
    num = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for i in range(dim):
        x, y = av[:, i], bv[:, i]
        num = num + x * y
        na = na + x * x
        nb = nb + y * y
    return pd.Series(num / (np.sqrt(na) * np.sqrt(nb)))


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def cosine_all_pandas(a: pd.Series, cents_flat: pd.Series) -> pd.Series:
    """Per row: the cosines against EVERY centroid of a BATCH-CONSTANT
    flattened codebook column (the similarity._centroids_row 1-row fold,
    cross-joined onto the corpus and flattened k*dim row-major so the
    Arrow -> pandas conversion stays numeric — a nested array<struct>
    column here materializes millions of per-element Python objects and
    costs more than the maths). output[i] pairs with centroid i in
    flatten order.

    This is the nearest-centroid hot path: one Arrow batch crosses
    the boundary per corpus partition and numpy computes the n x k cosine
    matrix — replacing a k-way row explosion through the pairwise kernel
    followed by a corpus-wide argmax shuffle.

    BIT-IDENTICAL to ``cosine_pandas`` per (row, centroid) pair: the
    accumulators run the same sequential dim-order fold
    ``(((0 + x0*c0) + x1*c1) + ...)`` — ``num`` accumulates one outer
    product per dimension, ``na``/``nc`` the squared terms — followed by
    the same single sqrt-product divide, so round(4) downstream cannot
    diverge. Rounding and the argmax tie-break deliberately stay on the
    JVM side (similarity._nearest_centroid_struct) where their semantics
    are already oracle-proven."""
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype=object)
    av = np.stack(a.to_numpy()).astype(np.float64, copy=False)
    n, dim = av.shape
    C = np.asarray(cents_flat.iloc[0], dtype=np.float64).reshape(-1, dim)
    k = C.shape[0]
    nc = np.zeros(k)
    for i in range(dim):
        nc = nc + C[:, i] * C[:, i]
    snc = np.sqrt(nc)
    num = np.zeros((n, k))
    na = np.zeros(n)
    for i in range(dim):
        x = av[:, i]
        num = num + x[:, None] * C[None, :, i]
        na = na + x * x
    res = num / (np.sqrt(na)[:, None] * snc[None, :])
    return pd.Series(list(res))

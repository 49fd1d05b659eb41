"""Vector math over ArrayType(FloatType) embedding columns — JVM-side.

Charter extension (SURVEY.md §2B): similarity search needs dot/norm/cosine
over ``array<float>``. All of these compile to Catalyst higher-order
functions (``zip_with`` + ``aggregate``): no Python, no UDF serialization.
Their lambdas run interpreted, outside whole-stage codegen, so every pass
over a vector costs real time; a kernel makes each pass once per row.
Elementwise math is done in DOUBLE so results are deterministic and
oracle-comparable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import _let


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a, b) -> Column:
    """Sum_i a[i]*b[i], accumulated left-to-right in double."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a, b) -> Column:
    """Cosine similarity; 0.0 when either side has zero norm."""
    return _let(norm(a), lambda na: _let(norm(b), lambda nb: _cosine_normed(a, b, na, nb)))


def _cosine_normed(a, b, na, nb) -> Column:
    """:func:`cosine` of ``a`` and ``b`` given their norms ``na`` and
    ``nb`` — bitwise the same value. A caller scoring one vector against
    many computes each norm once per row and pays one dot product per
    pair."""
    na, nb = _c(na), _c(nb)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def seeded_band_hashes_udf(seed: int, num_planes: int, bands: int):
    """Arrow-vectorized random-hyperplane band hashes.

    Returns a pandas_udf: array<float> -> array<long> of ``bands`` band
    hashes, where each band hash packs the sign bits of dot(vec, plane)
    for its slice of ``num_planes`` planes (first plane = MSB). The plane
    matrix is derived lazily from the FIRST Arrow batch's vector
    dimension (deterministic ``RandomState(seed)``), so callers don't
    need a driver-side ``.first()`` job just to learn the embedding dim —
    one fewer job per query, and no driver/executor dim mismatch at
    scale.

    Dense projections are linear algebra — a numpy matmul over the whole
    Arrow batch beats per-row Catalyst higher-order lambdas by ~10x
    (measured at sf0.1); this is the documented exception to the
    JVM-only rule (pyspark_guide: vectorized pandas UDFs for custom
    numeric kernels).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    if num_planes % bands:
        raise ValueError("num_planes must be divisible by bands")
    per_band = num_planes // bands
    pw = (1 << np.arange(per_band - 1, -1, -1)).astype(np.int64)
    state: dict = {}

    @pandas_udf("array<bigint>")
    def band_hashes(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy()).astype(np.float64)  # batch x dim
        if "P" not in state:
            state["P"] = np.random.RandomState(seed).randn(num_planes, M.shape[1]).T
        bits = (M @ state["P"]) >= 0.0  # batch x planes
        hashes = np.stack(
            [bits[:, b * per_band : (b + 1) * per_band].astype(np.int64) @ pw for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(hashes))

    return band_hashes

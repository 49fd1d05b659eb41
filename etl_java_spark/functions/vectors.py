"""Vector math over ArrayType(FloatType) embedding columns — JVM-side.

Charter extension (SURVEY.md §2B): similarity search needs dot/norm/cosine
over ``array<float>``. All of these compile to Catalyst higher-order
functions (``zip_with`` + ``aggregate``) — whole-stage codegen, no Python,
no UDF serialization. Elementwise math is done in DOUBLE so results are
deterministic and oracle-comparable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


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
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def plane_band_hashes_udf(planes: list[list[float]], bands: int):
    """Arrow-vectorized random-hyperplane band hashes.

    Returns a pandas_udf: array<float> -> array<long> of ``bands`` band
    hashes, where each band hash packs the sign bits of dot(vec, plane)
    for its slice of planes (first plane = MSB).

    Dense projections are linear algebra — a numpy matmul over the whole
    Arrow batch beats per-row Catalyst higher-order lambdas by ~10x
    (measured at sf0.1); this is the documented exception to the
    JVM-only rule (pyspark_guide: vectorized pandas UDFs for custom
    numeric kernels).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    num_planes = len(planes)
    if num_planes % bands:
        raise ValueError("num_planes must be divisible by bands")
    per_band = num_planes // bands
    P = np.asarray(planes, dtype=np.float64).T  # dim x planes
    pw = (1 << np.arange(per_band - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<bigint>")
    def band_hashes(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy()).astype(np.float64)  # batch x dim
        bits = (M @ P) >= 0.0  # batch x planes
        hashes = np.stack(
            [bits[:, b * per_band : (b + 1) * per_band].astype(np.int64) @ pw for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(hashes))

    return band_hashes


def seeded_band_hashes_udf(seed: int, num_planes: int, bands: int):
    """Like :func:`plane_band_hashes_udf`, but derives the plane matrix
    lazily from the FIRST Arrow batch's vector dimension (deterministic
    ``RandomState(seed)``), so callers don't need a driver-side
    ``.first()`` job just to learn the embedding dim — one fewer job per
    query, and no driver/executor dim mismatch at scale.
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

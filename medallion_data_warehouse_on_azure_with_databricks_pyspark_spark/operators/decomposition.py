"""Distributed PCA for embedding corpora: exact Gram/moment aggregation
plus a deterministic top-principal-component solve.

The training-data uses: embedding whitening/centering before indexing,
corpus drift monitoring (the top PC of today's crawl vs yesterday's),
and cheap 1-D projections for stratified sampling.  The expensive part —
the second-moment (Gram) matrix — is the only corpus-sized computation,
and it is a pure commutative aggregation; the eigen-solve runs on the
driver over a ``dim × dim`` matrix (64×64 here), which is the standard
split (Spark MLlib's PCA collects the Gram the same way: the ROW
dimension is distributed, the COLUMN dimension must fit one machine).

Determinism is the design constraint everything else follows from:

* **Fixed-point quantization makes the Gram order-independent.**  Float
  summation does not commute across partitions; ``floor(x * fp)``
  per-coordinate BIGINT quantization makes every per-row product an
  integer, and integer sums are exact in ANY order — the same trick the
  quantizer trainers use (``similarity.kmeans_pivots`` and
  ``pq_codebooks_kmeans``, whose ``_quantizer_kernel`` partials reduce
  like these, as BIGINT sums of ``floor(v·2³⁰)``).  The
  per-partition partial sums stay within int64 (|x| < 2 with the default
  ``fp = 2^20`` gives per-term bound 2^42; a partition would need ~2^21
  rows to threaten 2^63), and the cross-partition reduction runs in
  DECIMAL(38,0) so the TOTAL is exact at any corpus size.
* **The driver-side power iteration is ordered pure-Python floats.**
  Every fold (matvec accumulation, norm) runs ascending from a 0.0 seed
  — exactly replayable as DuckDB ``list_reduce(list_prepend(0.0, ...))``
  (the `oracle_fragments.fold_dot` convention), so the WHOLE pipeline —
  quantize → Gram → covariance → ``iters`` power steps → projection —
  is bit-exact across engines.  numpy would be faster and wrong for
  this: its pairwise/SIMD summation order is unspecified.

Scale: one corpus pass (``mapInPandas`` partial Gram per partition —
Arrow-batched numpy int64 matmuls, no per-row Python), a shuffle of
``partitions × dim²`` tiny rows, a driver collect of ``dim² + dim + 1``
values, and a second corpus pass for the projection (a Catalyst fold
expression, no UDF).  Nothing grows with corpus size except the two
scans.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_FP = 1 << 20


def gram_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    fp: int = DEFAULT_FP,
) -> DataFrame:
    """Exact quantized moments of the corpus in one pass:
    ``(i, j, s)`` rows where ``0 <= i <= j < dim`` carry the upper
    triangle of the quantized Gram ``Σ q_i·q_j``, ``(i, -1)`` the
    per-dimension sums ``Σ q_i``, and ``(-1, -1)`` the row count —
    everything an (optionally centered) covariance needs.

    Per-partition partials are int64 numpy matmuls; the global reduce
    sums DECIMAL(38,0) so totals are exact at any scale.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        g = np.zeros((dim, dim), dtype=np.int64)
        sums = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(x * fp).astype(np.int64)
            g += q.T @ q
            sums += q.sum(axis=0)
            n += len(pdf)
        iu, ju = np.triu_indices(dim)
        yield pd.DataFrame({
            "i": np.concatenate([iu, np.arange(dim), [-1]]),
            "j": np.concatenate([ju, np.full(dim, -1), [-1]]),
            "s": np.concatenate([g[iu, ju], sums, [n]]),
        })

    partial = df.select(vec_col).mapInPandas(
        partials, schema="i int, j int, s long"
    )
    return partial.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s")
    )


def top_principal_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    fp: int = DEFAULT_FP,
    iters: int = 12,
    center: bool = True,
) -> dict:
    """Top principal direction of the corpus via ``iters`` power-method
    steps on the (centered) second-moment matrix.

    Returns ``{"n": int, "mu": list, "pc": list}`` — the row count, the
    per-dimension mean (quantized-exact), and the unit principal
    direction.  The start vector is the exact constant ``1/sqrt(dim)``
    (dim a power of two ⇒ representable), and every float op is an
    ordered fold — see the module docstring for why that, not numpy.

    The power method needs no convergence test to be DETERMINISTIC: both
    engines run the same ``iters`` steps, so the lane's oracle matches
    bit-for-bit whether or not the iterate has settled; ``iters=12`` is
    plenty for a well-separated top eigenvalue (error ∝ (λ₂/λ₁)^k).
    Sign is pinned only by the arithmetic (±v are the same component).
    """
    rows = gram_moments(df, vec_col, dim, fp).collect()
    s = {}
    sums = [0] * dim
    n = 0
    for r in rows:
        i, j, v = r["i"], r["j"], int(r["s"])
        if i == -1:
            n = v
        elif j == -1:
            sums[i] = v
        else:
            s[(i, j)] = v
    if n == 0:
        raise ValueError("empty corpus")
    mu = [float(sums[i]) / fp / n for i in range(dim)]
    c = [[0.0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            g = float(s[(i, j)]) / fp / fp / n
            v = (g - mu[i] * mu[j]) if center else g
            c[i][j] = v
            c[j][i] = v
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(iters):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + c[i][j] * v[j]
            w.append(acc)
        nrm_acc = 0.0
        for x in w:
            nrm_acc = nrm_acc + x * x
        nrm = math.sqrt(nrm_acc)
        v = [x / nrm for x in w]
    return {"n": n, "mu": mu, "pc": v}


def project_onto(
    df: DataFrame,
    direction: list[float],
    mu: list[float] | None = None,
    vec_col: str = "embedding",
    out: str = "pc_coord",
) -> DataFrame:
    """Append the 1-D coordinate of each vector along ``direction``
    (centering by ``mu`` first when given): an ordered Catalyst fold over
    ``sequence(1, dim)`` — whole-stage-codegen arithmetic, no UDF, and
    the exact op order ``acc + (x_i - mu_i) * d_i`` the oracle replays."""
    dim = len(direction)
    zero = [0.0] * dim
    mu_arr = F.array(*[F.lit(float(x)) for x in (mu or zero)])
    d_arr = F.array(*[F.lit(float(x)) for x in direction])

    def step(acc: Column, i: Column) -> Column:
        term = (
            F.element_at(F.col(vec_col), i).cast("double")
            - F.element_at(mu_arr, i)
        ) * F.element_at(d_arr, i)
        return acc + term

    coord = F.aggregate(F.sequence(F.lit(1), F.lit(dim)), F.lit(0.0), step)
    return df.withColumn(out, coord)


def principal_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    fp: int = DEFAULT_FP,
    iters: int = 12,
    center: bool = True,
    out: str = "pc_coord",
) -> DataFrame:
    """Fit-and-transform convenience: :func:`top_principal_component`
    then :func:`project_onto` — two corpus passes total."""
    fit = top_principal_component(df, vec_col, dim, fp, iters, center)
    return project_onto(
        df, fit["pc"], fit["mu"] if center else None, vec_col, out
    )

"""Distributed linear algebra over embedding columns.

The 100 TB shape for second-moment statistics (covariance, PCA) is a
SINGLE pass that reduces each Arrow batch to one fixed-size partial —
``(n, sum_vec[d], outer[d*d])`` — then merges partials by elementwise
addition. The merge input is O(#batches) rows of d^2 longs, not
O(#rows), so a 100 TB embedding table reduces to a few thousand tiny
rows before the only shuffle. No per-row explode (a d^2-per-row
explode would be a 4096x row blowup), no driver-side loop over data.

All sums are exact int64 fixed-point (embeddings are quantized to
``floor(x * scale + 0.5)`` BEFORE any arithmetic), so the result is
bit-identical regardless of partitioning, batch boundaries, or engine
— the DuckDB oracle reproduces every column exactly.

Overflow bounds (int64): with |x| <= 1 and scale = 1e5, a product is
<= 1e10, so the int64 sums hold to ~9e8 rows; the derived ``cov``
numerator is computed in double (int64 would overflow at ~2e5 rows)
— deterministic, and bit-exact while the sums stay under 2^53
(beyond that both engines round identically). Larger corpora lower
``scale`` (1e4 buys 100x more rows at O(1/scale) quantization error,
orders below sampling noise at those counts).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import hold

_PARTIAL_SCHEMA = "n long, s array<long>, o array<long>"


def embedding_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 100_000,
) -> DataFrame:
    """Exact integer second moments of a vector column, one pass.

    Returns the upper triangle (i <= j): ``(i, j, n, sx, sy, sxy,
    cov)`` where ``sx/sy/sxy`` are int64 sums of the quantized
    components and ``cov = (sxy*n - sx*sy) / (n^2 * scale^2)`` is the
    derived population covariance (double; deterministic because both
    factors are exact integers).

    Plan shape: mapInPandas emits ONE ``(n, s[d], o[d^2])`` row per
    Arrow batch (numpy ``Q.T @ Q`` — vectorized, no Python per-row
    work); posexplode of those partials is O(#batches * d^2) rows;
    one small groupBy finishes the merge. The per-component sums and
    the 1-row total are broadcast back onto the d(d+1)/2 result rows.
    """

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(v * scale + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "n": [np.int64(len(q))],
                    "s": [q.sum(axis=0)],
                    "o": [(q.T @ q).ravel()],
                }
            )

    p = df.select(vec_col).mapInPandas(partials, _PARTIAL_SCHEMA)
    # the partial set is tiny (one row per Arrow batch) but feeds three
    # aggregations — persist so the scan+quantize pass runs once
    p = hold(p.persist())
    sxy = (
        p.select(F.posexplode("o").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("sxy"))
    )
    comp = (
        p.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("sx"))
    )
    total = p.agg(F.sum("n").alias("n"))
    tri = sxy.select(
        (F.col("idx") / dim).cast("int").alias("i"),
        (F.col("idx") % dim).cast("int").alias("j"),
        "sxy",
    ).filter(F.col("i") <= F.col("j"))
    out = (
        tri.join(F.broadcast(comp), "i")
        .join(
            F.broadcast(comp.select(F.col("i").alias("j"), F.col("sx").alias("sy"))),
            "j",
        )
        .crossJoin(F.broadcast(total))
    )
    denom = (
        F.col("n").cast("double")
        * F.col("n").cast("double")
        * F.lit(float(scale))
        * F.lit(float(scale))
    )
    # the derived numerator is computed in DOUBLE: sxy*n in int64
    # overflows at ~2e5 rows (ANSI would throw). The double ops run on
    # exact integer inputs with one expression shape, so the oracle
    # still matches bit-for-bit.
    num = (
        F.col("sxy").cast("double") * F.col("n").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    return out.select(
        "i",
        "j",
        "n",
        "sx",
        "sy",
        "sxy",
        (num / denom).alias("cov"),
    )


def gram_matrix_int(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000,
) -> DataFrame:
    """Exact int64 Gram matrix ``G = Q^T Q`` of the quantized embedding
    matrix (``q = floor(x * scale + 0.5)``), all ``d^2`` entries as
    ``(i, j, g)`` rows (0-based).

    Same partial-merge shape as :func:`embedding_moments`: one
    ``o[d^2]`` array per Arrow batch (vectorized ``q.T @ q``), then a
    single d^2-key sum — the only shuffle moves O(#batches * d^2)
    longs, never O(#rows). Exact integers end-to-end, so the result is
    independent of partitioning and engine.

    Overflow (int64): with |x| <= 1 and scale = 1e3 a product is
    <= 1e6, so the sums hold to ~9e12 rows per entry — far past any
    fixture; larger corpora lower ``scale``.
    """

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(v * scale + 0.5).astype(np.int64)
            yield pd.DataFrame({"o": [(q.T @ q).ravel()]})

    p = df.select(vec_col).mapInPandas(partials, "o array<long>")
    return (
        p.select(F.posexplode("o").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("g"))
        .select(
            (F.col("idx") / dim).cast("int").alias("i"),
            (F.col("idx") % dim).cast("int").alias("j"),
            "g",
        )
    )


def power_iteration_dominant(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000,
    iters: int = 32,
    v_scale: int = 1_000_000,
) -> list[int]:
    """Dominant principal direction (top right-singular vector of the
    uncentered data matrix) by ALL-INTEGER power iteration over the
    exact Gram matrix — the oracle-replayable form of a PCA's top
    component, which ``numpy.linalg.eigh`` would give on the driver (an
    eigendecomposition cannot be replayed relationally; a fixed-count
    integer iteration can, the pagerank_fixedpoint / Lloyd-replay
    recipe).

    The data-sized work is ONE distributed pass
    (:func:`gram_matrix_int`); the driver then holds d^2 longs —
    fixed-size, never O(rows) — and iterates ``w = G v`` with a
    deterministic integer renormalization: ``d0 = max|w| DIV v_scale
    + 1`` then ``v' = trunc_div(w, d0)`` (truncation toward zero,
    expressed identically as a sign-split floor-div here and a CASE in
    the DuckDB replay). Every intermediate is an exact int64 in both
    engines: |G_ij| <= n*scale^2, |w_i| <= dim * max|G| * v_scale —
    3.2e17 at n = 5e4, scale 1e3 — under 2^63. Convergence is
    irrelevant to CORRECTNESS (the oracle replays the SAME fixed
    ``iters`` steps, so outputs are bit-equal whether or not the
    iterate has settled) but matters for the semantic claim: with a
    clear spectral gap the iterate aligns with the dominant axis
    (planted-axis test); on near-flat spectra — the fixture's top
    eigenvalues sit within ~2% of each other — angular convergence to
    THE top vector is inherently ill-conditioned, and what converges
    fast is the ENERGY: after the default 32 steps the iterate's
    Rayleigh quotient is >= 95% of lambda_max at every fixture sf
    (pinned in tests), i.e. the vector lives in the top eigenspace.

    Returns the final iterate: ``dim`` ints at ~v_scale magnitude.
    """
    rows = gram_matrix_int(df, vec_col, dim, scale).collect()
    G = [[0] * dim for _ in range(dim)]
    for r in rows:
        G[r.i][r.j] = r.g

    def trunc_div(a: int, b: int) -> int:
        return a // b if a >= 0 else -((-a) // b)

    v = [v_scale] * dim
    for _ in range(iters):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        d0 = max(abs(x) for x in w) // v_scale + 1
        v = [trunc_div(x, d0) for x in w]
    return v

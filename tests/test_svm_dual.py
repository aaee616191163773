"""The SVM's dual solver (``ml._smo``) on its own, without Spark:
feasibility and the KKT stopping rule on seeded random problems, the
closed-form two-point solution, and the iteration-cap warning."""

from __future__ import annotations

import numpy as np
import pytest

from flink_luad_pipeline_spark.ml import _smo


def _problem(seed, n=40, d=5):
    rng = np.random.default_rng(seed)
    y = np.where(rng.random(n) < 0.5, 1.0, -1.0)
    x = rng.normal(size=(n, d)) + 0.5 * y[:, None]
    return x @ x.T, y


def _kkt_gap(k, y, a, c):
    """Maximal-violating-pair gap from a freshly computed gradient."""
    v = -y * ((k * np.outer(y, y)) @ a - 1.0)
    up = np.where(y > 0, a < c, a > 0)
    low = np.where(y > 0, a > 0, a < c)
    return v[up].max() - v[low].min()


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("c", [0.01, 1.0, 100.0])
def test_solution_is_feasible_and_optimal(seed, c):
    k, y = _problem(seed)
    a, rho = _smo(k, y, c)
    assert np.all(a >= 0.0) and np.all(a <= c)
    assert abs(a @ y) <= 1e-12 * max(1.0, c * len(y))
    assert _kkt_gap(k, y, a, c) <= 1e-9 + 1e-12
    assert np.isfinite(rho)


@pytest.mark.parametrize("c", [10.0, 0.05])
def test_two_points_match_the_closed_form(c):
    """One point per class: α = min(2/‖x₁−x₂‖², C) on both, and
    ρ = α·(K₁₁ − K₂₂)/2, whether α is free or at its bound."""
    x = np.array([[2.0, 1.0], [-1.0, 0.5]])
    k = x @ x.T
    a, rho = _smo(k, np.array([1.0, -1.0]), c)
    alpha = min(2.0 / np.sum((x[0] - x[1]) ** 2), c)
    assert a == pytest.approx([alpha, alpha], rel=1e-12)
    assert rho == pytest.approx(alpha * (k[0, 0] - k[1, 1]) / 2, rel=1e-12)


def test_iteration_cap_warns():
    k, y = _problem(0)
    with pytest.warns(RuntimeWarning, match="iteration cap"):
        _smo(k, y, 1.0, max_iter=2)

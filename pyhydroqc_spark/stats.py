"""Small numeric helpers (no scipy in the runtime image).

``z_for_alpha`` replaces the ``scipy.stats.norm.ppf`` call of the
reference's dynamic threshold (`pyhydroqc/anomaly_utilities.py:394`);
stdlib ``NormalDist`` is exact to double precision.
"""

from __future__ import annotations

from statistics import NormalDist

_ND = NormalDist()


def z_for_alpha(alpha: float) -> float:
    """z = Φ⁻¹(1 − α/2) (`anomaly_utilities.py:394`)."""
    return _ND.inv_cdf(1.0 - alpha / 2.0)

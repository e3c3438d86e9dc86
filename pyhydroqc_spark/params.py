"""Per-series QC parameters.

Mirrors the *semantics* of the reference's parameter objects
(`/root/reference/pyhydroqc/parameters.py:23-67`): each series (site×sensor in
the reference; ``doc_id`` prefix here) carries range bounds, a persistence
length, dynamic-threshold settings, a widening factor, and an ARIMA order.

At scale the parameter set is tiny relative to the data, so it travels as a
broadcast dict into UDF closures (J5, `Examples/detect_script.py:52-54`).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CalibParams:
    """Calibration-candidate gating (`parameters.py:23-34`)."""

    hour_low: int = 7
    hour_high: int = 17
    persist_low: int = 3
    persist_high: int = 7


@dataclass(frozen=True)
class SeriesParams:
    """QC knobs for one series group (`parameters.py:57-67`)."""

    max_range: float = float("inf")
    min_range: float = float("-inf")
    persist: int = 30
    window_sz: int = 96
    alpha: float = 0.0001
    threshold_min: float = 0.0
    widen: int = 1
    pdq: tuple[int, int, int] = (1, 1, 1)
    calib_threshold: float | None = None
    calib: CalibParams = field(default_factory=CalibParams)


DEFAULT_PARAMS = SeriesParams()


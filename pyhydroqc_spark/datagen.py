"""Deterministic synthetic token-table generator (FIXTURES.md §F1/§F3).

Produces LRO-like series — diurnal sinusoid + AR(1) noise at 15-minute
cadence — with injected defects at known positions:

* out-of-range spikes            → exercises range_check (`rules_detect.py:11-27`)
* flat runs (len > persist)      → persistence (`rules_detect.py:30-52`)
* flat runs in [persist_low, persist_high] during business hours
                                 → calib_persist_detect (`calibration.py:54-97`)
* step offsets + linear drift    → find_gap / lin_drift_cor (`calibration.py:144-210`)
* NaN holes (sentinel -1 tokens) → interpolate (`rules_detect.py:75-87`)

Everything is keyed off a single integer seed (PCG64), so both the pytest
fixtures and the bench harness regenerate identical inputs. Hot-key skew is
injected: ``source=src0`` owns ~half of all series (FIXTURES.md F3) to
exercise the salting/repartition path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .quantize import quantize

T0 = pd.Timestamp("2022-01-01 00:00:00")
CADENCE_S = 900  # 15 minutes
VAL_LO, VAL_HI = -5.0, 30.0  # shared quantizer band


@dataclass
class Defects:
    spike_pos: list
    flat: list          # (start, length) with length > persist
    calib_flat: list    # (start, length) in [persist_low, persist_high]
    drift: list         # (start, end, gap) step offsets with linear ramp
    holes: list         # (start, length) NaN runs


def gen_series(rng: np.random.Generator, n: int):
    """One float series + its injected-defect positions."""
    t = np.arange(n)
    base = 10.0 + 4.0 * np.sin(2 * np.pi * t / 96.0)  # diurnal, 96 pts/day
    ar = np.empty(n)
    eps = rng.normal(0, 0.25, n)
    ar[0] = eps[0]
    phi = 0.8
    for i in range(1, n):
        ar[i] = phi * ar[i - 1] + eps[i]
    x = base + ar
    d = Defects([], [], [], [], [])
    if n >= 400:
        k = max(1, n // 2000)
        for pos in rng.integers(50, n - 50, size=k):
            x[pos] = VAL_HI + 10.0 + float(rng.normal(0, 2))
            d.spike_pos.append(int(pos))
        for _ in range(k):
            s = int(rng.integers(100, n - 120))
            ln = int(rng.integers(35, 60))
            x[s : s + ln] = x[s]
            d.flat.append((s, ln))
        for _ in range(k):
            s = int(rng.integers(100, n - 40))
            ln = int(rng.integers(3, 8))
            x[s : s + ln] = x[s]
            d.calib_flat.append((s, ln))
        for _ in range(k):
            s = int(rng.integers(200, n - 300))
            e = s + int(rng.integers(96, 192))
            gap = float(rng.choice([-1.5, 1.5]) * (1 + rng.random()))
            ramp = np.linspace(0, gap, e - s + 1)
            x[s : e + 1] += ramp
            x[e + 1 :] += gap
            d.drift.append((s, e, gap))
        for _ in range(k):
            s = int(rng.integers(60, n - 80))
            ln = int(rng.integers(2, 12))
            x[s : s + ln] = np.nan
            d.holes.append((s, ln))
    return x, d


def gen_token_table(
    n_series: int = 8,
    n_tok: int = 2000,
    seed: int = 42,
    skew: bool = True,
    n_sources: int = 4,
) -> pd.DataFrame:
    """pandas frame of (doc_id, tokens, n_tok, source) — write with
    spark.createDataFrame or to parquet. Deterministic in (seed, shape)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_series):
        x, _ = gen_series(rng, n_tok)
        toks = quantize(x, VAL_LO, VAL_HI)
        # hot-source skew: ~half of all series land on src0
        src = "src0" if (skew and i % 2 == 0) else f"src{1 + i % max(1, n_sources - 1)}"
        rows.append(
            {
                "doc_id": f"{src}:series{i:05d}",
                "tokens": toks.tolist(),
                "n_tok": int(len(toks)),
                "source": src,
            }
        )
    return pd.DataFrame(rows)


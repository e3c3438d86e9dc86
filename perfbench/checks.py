"""Output checks, run outside the timed sections.

Each check returns a list of problems (empty when the output is right), so
a workload can count every failing check against ``failed``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TIERS = (900, 3600, 86400)
CELL_KEY = ["tier", "doc_id", "bucket_s"]
VALUES = ["sum_val", "min_val", "max_val"]


def _epoch_s(col: pa.ChunkedArray) -> np.ndarray:
    unit = col.type.unit
    per_s = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}[unit]
    return pc.cast(col, pa.int64()).to_numpy(zero_copy_only=False) // per_s


def read_cells(files: list[str], tier: int) -> pd.DataFrame:
    """Rollup cells from parquet files as (tier, doc_id, bucket_s, cnt, ...)."""
    cols = ["doc_id", "bucket_start", "cnt", "sum_val", "min_val", "max_val"]
    frames = [pd.DataFrame(columns=CELL_KEY + ["cnt"] + VALUES)]
    for f in files:
        t = pq.read_table(f, columns=cols)
        frames.append(pd.DataFrame({
            "tier": tier,
            "doc_id": t.column("doc_id").to_pylist(),
            "bucket_s": _epoch_s(t.column("bucket_start")),
            "cnt": t.column("cnt").to_numpy(zero_copy_only=False).astype(np.int64),
            **{c: t.column(c).to_numpy(zero_copy_only=False).astype(float) for c in VALUES},
        }))
    out = pd.concat(frames, ignore_index=True)
    return out.astype({"tier": np.int64, "bucket_s": np.int64, "cnt": np.int64,
                       **{c: float for c in VALUES}})


def read_tier_tables(out_root: str, tiers=TIERS) -> pd.DataFrame:
    """Every ``run_pipeline`` tier table's current snapshot under ``out_root``."""
    import os

    from pyhydroqc_spark.tables import SnapshotTable

    parts = [
        read_cells(SnapshotTable(os.path.join(out_root, f"rollup_{t}s")).files(), t)
        for t in tiers
    ]
    return pd.concat(parts, ignore_index=True)


def oracle_cells(tokens: pd.DataFrame, tiers=TIERS) -> pd.DataFrame:
    """Driver-side oracle: ``fused_series_kernel`` per series, then a numpy
    bucket reduction (bincount / ufunc.at, not the kernel's reduceat)."""
    from pyhydroqc_spark.datagen import CADENCE_S, T0, VAL_HI, VAL_LO
    from pyhydroqc_spark.operators.fused import fused_series_kernel
    from pyhydroqc_spark.params import DEFAULT_PARAMS
    from pyhydroqc_spark.quantize import dequantize

    t0 = int(T0.timestamp())
    frames = []
    for doc_id, toks in zip(tokens["doc_id"], tokens["tokens"]):
        x = dequantize(np.asarray(toks), VAL_LO, VAL_HI)
        epochs = t0 + np.arange(len(x), dtype=np.int64) * CADENCE_S
        v = fused_series_kernel(
            x, pd.DatetimeIndex(pd.to_datetime(epochs, unit="s")),
            DEFAULT_PARAMS, (1, 1, 0),
        )["det_cor"]
        ok = np.isfinite(v)
        for t in tiers:
            buckets, inv = np.unique(epochs // t * t, return_inverse=True)
            cnt = np.bincount(inv, weights=ok, minlength=len(buckets)).astype(np.int64)
            s = np.bincount(inv[ok], weights=v[ok], minlength=len(buckets))
            mn = np.full(len(buckets), np.inf)
            mx = np.full(len(buckets), -np.inf)
            np.minimum.at(mn, inv[ok], v[ok])
            np.maximum.at(mx, inv[ok], v[ok])
            empty = cnt == 0
            frames.append(
                pd.DataFrame(
                    {
                        "tier": t, "doc_id": doc_id, "bucket_s": buckets, "cnt": cnt,
                        "sum_val": np.where(empty, np.nan, s),
                        "min_val": np.where(empty, np.nan, mn),
                        "max_val": np.where(empty, np.nan, mx),
                    }
                )
            )
    return pd.concat(frames, ignore_index=True)


def compare_cells(got: pd.DataFrame, want: pd.DataFrame, what: str, rtol=1e-9, atol=1e-9) -> list[str]:
    """Same cell keys, equal counts, values equal within tolerance (NaN
    matches NaN: an all-missing bucket carries NULL aggregates)."""
    g = got.sort_values(CELL_KEY).reset_index(drop=True)
    w = want.sort_values(CELL_KEY).reset_index(drop=True)
    if len(g) != len(w):
        return [f"{what}: {len(g)} cells, expected {len(w)}"]
    for c in CELL_KEY:
        if not (g[c].to_numpy() == w[c].to_numpy()).all():
            return [f"{what}: cell keys differ in column {c}"]
    problems = []
    if not (g["cnt"].to_numpy() == w["cnt"].to_numpy()).all():
        problems.append(f"{what}: cnt differs in {(g['cnt'] != w['cnt']).sum()} cells")
    for c in VALUES:
        a, b = g[c].to_numpy(float), w[c].to_numpy(float)
        if not np.allclose(a, b, rtol=rtol, atol=atol, equal_nan=True):
            bad = ~np.isclose(a, b, rtol=rtol, atol=atol, equal_nan=True)
            problems.append(f"{what}: {c} differs in {int(bad.sum())} cells")
    return problems


def monoid_problems(cells: pd.DataFrame, tiers=TIERS) -> list[str]:
    """Coarser cnt and sum equal the sums over the finer tier's cells."""
    problems = []
    ts = sorted(tiers)
    for fine, coarse in zip(ts, ts[1:]):
        f = cells[cells.tier == fine].copy()
        f["bucket_s"] = f["bucket_s"] // coarse * coarse
        f["sum_val"] = f["sum_val"].fillna(0.0)
        folded = f.groupby(["doc_id", "bucket_s"], as_index=False)[["cnt", "sum_val"]].sum()
        c = cells[cells.tier == coarse][["doc_id", "bucket_s", "cnt", "sum_val"]].copy()
        c["sum_val"] = c["sum_val"].fillna(0.0)
        m = folded.merge(c, on=["doc_id", "bucket_s"], how="outer", suffixes=("_f", "_c"))
        if m.isna().any().any():
            problems.append(f"monoid {fine}->{coarse}: bucket sets differ")
            continue
        if not (m["cnt_f"] == m["cnt_c"]).all():
            problems.append(f"monoid {fine}->{coarse}: cnt mismatch")
        if not np.allclose(m["sum_val_f"], m["sum_val_c"], rtol=1e-9, atol=1e-6):
            problems.append(f"monoid {fine}->{coarse}: sum mismatch")
    return problems


def digest(cells: pd.DataFrame) -> str:
    """sha256 over the cells sorted by key, floats rounded to 6 decimals
    (the rounding ``oracle_sql()`` applies)."""
    c = cells.sort_values(CELL_KEY).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(str(len(c)).encode())
    for col in CELL_KEY + ["cnt"]:
        h.update("|".join(map(str, c[col].tolist())).encode())
    for col in VALUES:
        h.update("|".join(f"{x:.6f}" for x in np.round(c[col].to_numpy(float), 6)).encode())
    return h.hexdigest()[:16]


def stream_problems(spark, stream_in: str, stream_out: str, tiers=TIERS) -> list[str]:
    """Stream stores equal a one-shot ``rollup_points`` of the same tokens."""
    import os

    from pyhydroqc_spark.ingest import explode_tokens
    from pyhydroqc_spark.operators.rollup import rollup_from_rollup, rollup_points
    from pyhydroqc_spark.streaming import TOKEN_SCHEMA
    from pyhydroqc_spark.tables import SnapshotTable

    long_df = explode_tokens(spark.read.schema(TOKEN_SCHEMA).parquet(stream_in))
    ts = sorted(tiers)
    agg = rollup_points(long_df, ts[0], value_col="value")
    problems = []
    for t in ts:
        if t != ts[0]:
            agg = rollup_from_rollup(agg.drop("tier"), t)
        want = agg.toPandas()
        want = pd.DataFrame(
            {
                "tier": t, "doc_id": want["doc_id"],
                "bucket_s": want["bucket_start"].to_numpy().astype("datetime64[s]").astype(np.int64),
                "cnt": want["cnt"].astype(np.int64),
                **{c: want[c].astype(float) for c in VALUES},
            }
        )
        got = read_cells(SnapshotTable(os.path.join(stream_out, f"agg_{t}s")).files(), t)
        problems += compare_cells(got, want, f"stream tier {t}", rtol=1e-9, atol=1e-6)
    return problems


def query_problems(name: str, mine: pd.DataFrame, theirs: pd.DataFrame) -> list[str]:
    """The query contract's comparison, as ``tools/check_contract.py``
    makes it: row count, column names, dtypes, then order-insensitive
    values."""
    from tools.check_contract import normalize

    if len(mine) != len(theirs):
        return [f"{name}: {len(mine)} rows, oracle {len(theirs)}"]
    if sorted(mine.columns) != sorted(theirs.columns):
        return [f"{name}: columns {sorted(mine.columns)} vs {sorted(theirs.columns)}"]
    da = {c: str(mine[c].dtype) for c in mine.columns}
    db = {c: str(theirs[c].dtype) for c in theirs.columns}
    if da != db:
        return [f"{name}: dtypes {({c: (da[c], db[c]) for c in da if da[c] != db[c]})}"]
    try:
        pd.testing.assert_frame_equal(
            normalize(mine), normalize(theirs),
            check_dtype=False, check_exact=False, atol=1e-9,
        )
    except AssertionError as e:
        return [f"{name}: values differ: {str(e).splitlines()[0]}"]
    return []

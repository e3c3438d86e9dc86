"""Seeded benchmark inputs.

Everything the program under test sees is generated here from the run's
``--seed``: the same seed gives byte-identical inputs, a different seed
gives different series values, landing contents and query tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

# landing_incremental: two source partitions of 7-day series (672 points
# at 15 min) with injected spikes, flat runs, drift steps and NaN holes.
# The landing brings new series with the first day of data. Per-partition
# fixed costs dominate the pipeline calls; the day span sets how many day
# partitions the stream stores write per tier, which dominates the drains.
LANDING_SHAPE = {
    "n_series": 48,
    "n_tok": 672,
    "n_sources": 2,
    "landings": 1,
    "series_per_landing": 4,
    "landing_tok": 96,
}

# query_mix: sizes of the generated events/documents tables, measured and
# warm-up scale (the warm-up pass runs on the smaller copy)
QUERY_SHAPE = {"events": 10_000, "users": 150, "documents": 500}
QUERY_WARM_SHAPE = {"events": 1_000, "users": 15, "documents": 500}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "fr", "es", "de", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def landing_initial(seed: int, shape: dict = LANDING_SHAPE) -> pd.DataFrame:
    """Initial token table: (doc_id, tokens, n_tok, source) rows."""
    from pyhydroqc_spark.datagen import gen_token_table

    return gen_token_table(
        n_series=shape["n_series"], n_tok=shape["n_tok"],
        seed=seed, n_sources=shape["n_sources"],
    )


def landing_batches(seed: int, shape: dict = LANDING_SHAPE) -> list[pd.DataFrame]:
    """New series for each landing; landing j goes to partition
    ``src{j mod n_sources}``, with doc ids that never collide with the
    initial table's."""
    from pyhydroqc_spark.datagen import gen_token_table

    out = []
    for j in range(shape["landings"]):
        src = f"src{j % shape['n_sources']}"
        pdf = gen_token_table(
            n_series=shape["series_per_landing"], n_tok=shape["landing_tok"],
            seed=seed * 1000 + 17 + j, skew=False, n_sources=1,
        )
        pdf["source"] = src
        pdf["doc_id"] = [f"{src}:land{j}_{i:03d}" for i in range(len(pdf))]
        out.append(pdf)
    return out


def write_token_partitions(spark, table, pdf: pd.DataFrame) -> None:
    """Append one file per source partition of ``pdf`` to a SnapshotTable."""
    df = spark.createDataFrame(pdf, schema=TOKEN_SCHEMA)
    for src in sorted(pdf["source"].unique()):
        table.append(df.where(df.source == src).coalesce(1), partition=src)


def query_tables(seed: int, shape: dict = QUERY_SHAPE) -> dict[str, pd.DataFrame]:
    """The ``events`` and ``documents`` tables the query mix reads, shaped
    like the repository's TPC-H-ish test tables (TESTDATA.md): a Poisson event stream over 30
    days with exponential values (a few beyond the 400 range bound, ~10%
    under the 5 floor), and documents of 10-99 words over a 30-word
    vocabulary where 5% are an earlier document plus " dup"."""
    rng = np.random.default_rng([seed, 7])
    n = shape["events"]
    gaps = rng.exponential(30 * 86400 / n, n)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, shape["users"], n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )
    texts = []
    for i in range(shape["documents"]):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, len(texts), p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {"events": events, "documents": documents}


def write_query_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """One parquet file per table, the layout ``queries()`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)

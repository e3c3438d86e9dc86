"""Token-table ↔ long-form conversions (SURVEY.md §1.4).

The engine's canonical input is ``(doc_id, tokens:array<int32>, n_tok,
source)``. All QC operators run on the long form ``(doc_id, source, pos, ts,
value)`` obtained by ``posexplode`` — cadence made explicit as
``ts = t0 + pos × 15min`` (the reference keeps it implicit in its
DatetimeIndex, `anomaly_utilities.py:41-47`).

Scale notes:
* ``posexplode`` is a narrow transformation — no shuffle; one token-table
  file partition explodes into the same task.
* ``collapse`` (long → tokens) groups by doc_id: one shuffle keyed on the
  series id. ``sort_array(collect_list(struct(pos, tok)))`` keeps order
  without a global sort.
* ``repartition_series`` defuses hot-source skew: series ids hash-spread
  across ``n`` partitions regardless of ``source`` hot keys (north_rule).
  A series always stays whole — required by the grouped-map QC UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .datagen import T0, CADENCE_S, VAL_LO, VAL_HI
from .quantize import TOKEN_MAX, SENTINEL

# the token table's schema: readers pass it instead of inferring it from
# parquet footers, which costs a Spark job per read
TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def token_count(paths: list) -> int:
    """Points held by token-table parquet files, read from their footers
    (the value count of the ``tokens`` leaf column): no Spark job."""
    import pyarrow.parquet as pq

    n = 0
    for path in paths:
        md = pq.ParquetFile(path).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            n += sum(
                rg.column(j).num_values for j in range(rg.num_columns)
                if rg.column(j).path_in_schema.split(".", 1)[0] == "tokens"
            )
    return n


def explode_tokens(
    tok_df: DataFrame,
    t0=None,
    cadence_s: int = CADENCE_S,
    lo: float = VAL_LO,
    hi: float = VAL_HI,
) -> DataFrame:
    """(doc_id, tokens, …) → (doc_id, source, pos, token, ts, value).

    Sentinel ``-1`` tokens become NULL values (missing observations,
    mirrors the reference's NaN handling at `rules_detect.py:90-104`).
    """
    t0 = t0 or T0.to_pydatetime()
    return (
        tok_df.select(
            "doc_id",
            "source",
            F.posexplode("tokens").alias("pos", "token"),
        )
        .withColumn(
            "ts",
            (F.lit(t0).cast("timestamp") + F.make_interval(secs=F.col("pos") * cadence_s)),
        )
        .withColumn(
            "value",
            F.when(F.col("token") == SENTINEL, F.lit(None).cast("double")).otherwise(
                F.lit(lo) + F.col("token").cast("double") / TOKEN_MAX * (hi - lo)
            ),
        )
    )


def collapse_to_tokens(
    long_df: DataFrame,
    value_col: str = "value",
    lo: float = VAL_LO,
    hi: float = VAL_HI,
) -> DataFrame:
    """(doc_id, pos, value) → (doc_id, tokens, n_tok, source): re-quantize with
    the shared quantizer (round-half-even, clip to [0, 65535], NULL→-1)."""
    tok = (
        F.when(F.col(value_col).isNull() | F.isnan(value_col), F.lit(SENTINEL))
        .otherwise(
            F.least(
                F.lit(TOKEN_MAX),
                F.greatest(
                    F.lit(0),
                    F.rint((F.col(value_col) - lo) / (hi - lo) * TOKEN_MAX),
                ),
            )
        )
        .cast("int")
    )
    return (
        long_df.withColumn("_tok", tok)
        .groupBy("doc_id", "source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_tok"))),
                lambda s: s["_tok"],
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens"))
        .select("doc_id", "tokens", "n_tok", "source")
    )


def repartition_series(df: DataFrame, n: int | None = None) -> DataFrame:
    """Hash-spread series across partitions (skew defusal, north_rule)."""
    if n:
        return df.repartition(n, "doc_id")
    return df.repartition("doc_id")


def tokenize_long_table(
    long_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lo: float,
    hi: float,
    source_col: str | None = None,
) -> DataFrame:
    """Generic ingest: any (key, ts, value) table → the canonical token table.

    Used by ``__spark_entry__`` to tokenize the driver's ``events`` table.
    pos = dense rank of ts within the series (cadence-agnostic).
    """
    from pyspark.sql import Window

    src = F.col(source_col) if source_col else F.lit("default")
    base = long_df.select(
        F.col(key_col).cast("string").alias("doc_id"),
        src.alias("source"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    w = Window.partitionBy("doc_id").orderBy("ts")
    ranked = base.withColumn("pos", F.row_number().over(w) - 1)
    return collapse_to_tokens(ranked, "value", lo, hi)

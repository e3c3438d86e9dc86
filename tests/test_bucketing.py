"""Bucketed (co-located) joins: the pre-shuffle lever for repeated
big-big joins at 100 TB — both sides written bucketed on the join key
join WITHOUT any Exchange in the plan."""

from pyspark.sql import functions as F


def test_bucketed_join_elides_both_exchanges(spark, tmp_path):
    # warehouse dir is a static conf on the shared session — managed
    # tables land in ./spark-warehouse and are dropped (files included)
    # at the end of the test; also sweep orphaned dirs from aborted runs
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_facts", "b_flags"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    facts = spark.range(0, 20_000).select(
        (F.col("id") % 500).cast("string").alias("doc_id"),
        F.col("id").alias("pos"),
        (F.rand(7) * 10).alias("value"),
    )
    flags = spark.range(0, 5_000).select(
        (F.col("id") % 500).cast("string").alias("doc_id"),
        F.col("id").alias("pos"),
        (F.col("id") % 3 == 0).alias("anomaly"),
    )
    # sortBy lets the join skip in-partition sorts too where possible
    facts.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_facts")
    flags.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_flags")

    # small tables would broadcast (BroadcastExchange is not a shuffle,
    # but it hides the bucketing story) — force the sort-merge path the
    # 100-TB big-big join would take
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = spark.table("b_facts").join(
        spark.table("b_flags").select("doc_id", "anomaly").distinct(),
        "doc_id",
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the bucketed FACT side (the 100-TB side at scale) must reach the
    # join without an Exchange; only the derived distinct side shuffles
    assert "Bucketed: true" in plan, plan[:1500]
    assert joined.count() > 0

    # both-bucketed join: ZERO exchanges anywhere in the plan
    j2 = spark.table("b_facts").alias("a").join(
        spark.table("b_flags").alias("b"), "doc_id"
    )
    plan2 = j2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2, plan2[:2000]
    assert j2.count() > 0

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    for t in ("b_facts", "b_flags"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)

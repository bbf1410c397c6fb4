"""Streaming record-high alerts == batch running_records across a
3-file time-ordered replay with carried running-max state."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from diive_spark.queries_trend import _hourly
from diive_spark.streaming.records import stream_record_highs


def test_stream_records_match_batch_window(spark, sf_dir, tmp_path):
    h = _hourly(spark, sf_dir).select("user_id", "t", "v")
    t0, t1 = h.agg(F.min("t"), F.max("t")).first()
    cut1, cut2 = t0 + (t1 - t0) // 3, t0 + 2 * (t1 - t0) // 3
    src = tmp_path / "recstream"
    src.mkdir()
    for i, cond in enumerate([
        F.col("t") < cut1,
        (F.col("t") >= cut1) & (F.col("t") < cut2),
        F.col("t") >= cut2,
    ]):
        h.filter(cond).coalesce(1).write.parquet(str(src / f"b{i}.parquet"))

    sdf = stream_record_highs(
        spark, str(src) + "/*", "user_id LONG, t LONG, v DOUBLE",
        max_files_per_trigger=1,
    )
    q = (
        sdf.writeStream.format("memory").queryName("recalerts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["t"]): (r["v"], r["record_no"])
        for r in spark.sql("SELECT * FROM recalerts").collect()
    }

    # batch truth: strict running-max records + their sequence numbers
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = h.withColumn(
        "is_rec",
        F.when(
            F.max("v").over(w).isNull() | (F.col("v") > F.max("v").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w2 = Window.partitionBy("user_id").orderBy("t")
    truth = (
        flagged.filter(F.col("is_rec") == 1)
        .withColumn("record_no", F.row_number().over(w2))
        .collect()
    )
    assert len(truth) == len(got)
    for r in truth:
        v, no = got[(r["user_id"], r["t"])]
        assert v == r["v"]
        assert no == r["record_no"]

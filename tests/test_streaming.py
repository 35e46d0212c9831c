"""Streaming: windowed event degrees aggregate with watermarks, and
stateful exact dedup across micro-batches."""

from pyspark.sql import functions as F

from peregrine_spark.streaming.ingest import windowed_event_degrees


def test_windowed_event_degrees(spark, tmp_path):
    ev_src = "/root/testdata/sf0.001/events.parquet"
    ev_path = str(tmp_path / "events")  # file source requires a directory
    spark.read.parquet(ev_src).write.parquet(ev_path)
    schema = spark.read.parquet(ev_path).schema
    stream = spark.readStream.schema(schema).parquet(ev_path)
    agg = windowed_event_degrees(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("windeg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from windeg")
    # append mode emits only watermark-closed windows; compare against the
    # batch aggregation restricted to emitted windows
    batch = (
        spark.read.parquet(ev_path)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("w.start").alias("window_start"), "user_id", "deg")
    )
    g = {(r.window_start, r.user_id): r.deg for r in got.collect()}
    b = {(r.window_start, r.user_id): r.deg for r in batch.collect()}
    assert g  # something was emitted
    for k, v in g.items():
        assert b[k] == v


def test_stateful_dedup_stream(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): first-seen-wins
    exact dedup across micro-batches — within-batch dups collapse to the
    min doc_id; cross-batch dups are suppressed by per-hash state."""
    from peregrine_spark.streaming.dedup import dedup_stream, write_dedup_log

    src = str(tmp_path / "docs")
    out, chk = str(tmp_path / "dedup_out"), str(tmp_path / "dedup_chk")
    schema = "doc_id long, text string"

    # drop 1: texts A (x2), B
    spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = write_dedup_log(dedup_stream(stream), out, chk)
    q.awaitTermination(120)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "alpha"), (3, "beta")}

    # drop 2: A again (new id), plus new text C
    spark.createDataFrame(
        [(4, "alpha"), (5, "gamma")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = write_dedup_log(
        dedup_stream(spark.readStream.schema(schema).parquet(src)), out, chk
    )
    q2.awaitTermination(120)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "alpha"), (3, "beta"), (5, "gamma")}

package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[Scratch.parquet]]: the per-session artifact the graph, dedup,
  * similarity and pipeline families materialize their shared builds with.
  */
class ScratchSpec extends SparkTestBase {

  test("parquet: content survives the round trip exactly") {
    val src = spark.range(1000).select(
      col("id").as("a"), (col("id") % 7).as("b"),
      concat(lit("k"), col("id")).as("s"))
    val out = Scratch.parquet(spark, src)
    // names+types survive; parquet normalizes nullability (expected —
    // the DuckDB gate compares names/types/values, never nullability)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(out.count() == 1000)
    assert(out.agg(sum("a"), sum("b")).head() == src.agg(sum("a"), sum("b")).head())
  }

  test("parquet: a one-file artifact reads back spread to defaultParallelism") {
    val out = Scratch.parquet(spark, spark.range(100).toDF("id").coalesce(1))
    assert(out.inputFiles.length == 1, out.inputFiles.mkString(","))
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.agg(sum("id")).head().getLong(0) == 4950L)
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scratch directories for round-trip queries and side stores:
  * created under the JVM temp root, registered for recursive deletion on
  * exit, so repeated bench/CI sessions never accumulate orphaned data.
  */
object Scratch {

  /** Create a temp directory that is deleted (recursively) on JVM exit. */
  def dir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally walk.close()
      }
    }))
    d.toString
  }

  /** Materialize a heavy shared build as a per-session parquet artifact:
    * `df` is written ONCE under a fresh [[dir]], and the returned frame
    * reads that file back. Three properties callers rely on:
    *  - the lineage is cut: consumers plan over a parquet scan, never the
    *    build's join/iteration chain;
    *  - the read-back is [[Tables.spread]]: a gate-scale artifact lands as
    *    ONE small file, and since the small side of each downstream join
    *    broadcasts, nothing downstream would re-spread a 1-partition frame
    *    (the graph family's triangle/BFS stages ran single-task off it);
    *  - lost cached blocks recompute from the file: a `localCheckpoint`
    *    block is gone for good when its executor dies, this artifact is
    *    not (MemoEvictionChaosSpec).
    * Callers keep their own `Memo`/`persist` for in-session reuse.
    */
  def parquet(spark: SparkSession, df: DataFrame): DataFrame = {
    val path = s"${dir("graft-artifact")}/data"
    df.write.parquet(path)
    Tables.spread(spark.read.parquet(path))
  }
}

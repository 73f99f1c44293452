package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The engine's Bench session config, plus what the benchmark needs to
  * stay inside its run directory and count file-system calls.
  */
object Session {
  def start(cores: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // session state is built lazily: plan one statement, so the engine's
    // extensions are installed now
    spark.sql("SELECT 1").queryExecution.executedPlan
    spark
  }
}

/** Order-independent digest of a query result: (row count, sum of a
  * 32-bit hash of each row's canonical binary form). Runs on the
  * DataFrame's own physical plan (`queryExecution.toRdd`), so a plan
  * built beforehand is executed as is, never planned again.
  */
object ResultHash {
  def apply(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        h += Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42) & 0xffffffffL
      }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

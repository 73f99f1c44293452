package graft

import graft.storage.FactTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

/** Reference read of a FactTable snapshot that shares nothing with the
  * table's own read path: every live data file is read on its own with
  * `spark.read.parquet(<that one file>)`, its `k=v` directory segments
  * are added back as columns cast to `partTypes(k)`, and the per-file
  * frames union by name (a file without a column reads it as NULL).
  * Tombstones are not applied.
  */
object FileByFile {
  import TestSpark.spark

  def read(t: FactTable, asOf: Long = Long.MaxValue,
      partTypes: Map[String, String] = Map("date" -> "date")): DataFrame =
    t.snapshot(asOf).dataFiles.map { f =>
      val segs = f.path.split('/').init.reverse.takeWhile(_.contains('='))
        .map(_.split("=", 2)).reverse
      segs.foldLeft(spark.read.parquet(f.path)) { case (df, Array(k, v)) =>
        val value = if (v == "__HIVE_DEFAULT_PARTITION__") lit(null) else lit(v)
        df.withColumn(k, value.cast(partTypes(k)))
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** None iff `got` and `want` have the same columns with the same types
    * (order aside) and the same rows as a multiset; else what differs.
    */
  def diff(got: DataFrame, want: DataFrame): Option[String] = {
    def types(d: DataFrame) = d.schema.map(f => f.name -> f.dataType).toMap
    if (types(got) != types(want))
      Some(s"schema ${got.schema.simpleString} vs ${want.schema.simpleString}")
    else {
      def rows(d: DataFrame) = d.select(got.columns.sorted.map(d.col): _*)
        .collect().toSeq.map((r: Row) => r.toSeq.map(String.valueOf).mkString("|")).sorted
      val (g, w) = (rows(got), rows(want))
      Option.when(g != w)(s"rows differ:\n got ${g.mkString("; ")}\nwant ${w.mkString("; ")}")
    }
  }
}

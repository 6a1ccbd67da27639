package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-file / per-row-group parquet footer statistics — the engine's
  * answer to the reference's `ttableindexstats` introspection
  * (`table_index_monitoring.sql:61-149`), reoriented for a columnar
  * lake: there are no B-tree indexes to monitor, the pruning power
  * lives in footer min/max ranges. This report makes that power
  * AUDITABLE: after a Z-order / sort-clustered rewrite
  * (`Maintenance.zorderWrite`), per-file ranges on the cluster keys
  * should be narrow and disjoint — which is exactly what lets a
  * predicate skip files at 100 TB. OpsSpec asserts clustered writes
  * actually produce disjoint ranges where unclustered ones overlap.
  */
object FileStats {

  final case class ColumnStats(
      file: String,
      row_group: Int,
      column: String,
      n_rows: Long,
      n_nulls: Long,
      min_value: String,
      max_value: String
  )

  /** A parquet footer reader with read options taken from `conf`.
    * `ParquetFileReader.open(InputFile)` alone builds a fresh Hadoop
    * `Configuration` per file, parsing `core-default.xml` again each time.
    */
  def footerReader(file: FileStatus, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), HadoopReadOptions.builder(conf).build())

  /** Footer stats for every parquet part-file under `path`.
    * Driver-side footer reads only (no data pages touched) — the same
    * cost profile Spark's own scan planning pays.
    */
  def parquetColumnStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).toSeq.filter(f => f.getPath.getName.endsWith(".parquet"))
    val rows = files.flatMap { f =>
      val reader = footerReader(f, conf)
      try {
        reader.getFooter.getBlocks.asScala.zipWithIndex.flatMap { case (block, gi) =>
          block.getColumns.asScala.map { c =>
            val st = c.getStatistics
            val (mn, mx, nulls) =
              if (st == null || st.isEmpty) ("", "", -1L)
              else (
                Option(st.minAsString).getOrElse(""),
                Option(st.maxAsString).getOrElse(""),
                st.getNumNulls)
            ColumnStats(
              f.getPath.getName, gi, c.getPath.toDotString, block.getRowCount, nulls, mn, mx)
          }
        }.toSeq
      } finally reader.close()
    }
    rows.toDF()
  }

  /** Pruning-effectiveness summary for one column: per-file [min,max]
    * ranges plus whether each file overlaps ANY preceding file (by
    * min) — all-false means the ranges are pairwise disjoint, so an
    * equality/range predicate touches at most one file.
    */
  def pruningReport(
      spark: SparkSession,
      path: String,
      colName: String,
      numeric: Boolean = true
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // footer stats surface as strings; numeric columns must be
    // compared numerically ("9" > "10" lexicographically)
    def v(c: String) = if (numeric) col(c).cast("double") else col(c)
    val stats = parquetColumnStats(spark, path)
      .filter(col("column") === colName && col("min_value") =!= "")
      .groupBy("file")
      .agg(min(v("min_value")).as("file_min"), max(v("max_value")).as("file_max"),
        sum("n_rows").as("n_rows"))
    // running max of ALL preceding files' maxima, not lag(1): a wide
    // range followed by two narrow nested ranges must flag the second
    // narrow file too (it overlaps the wide one, not its neighbor)
    val w = Window.orderBy("file_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    stats
      .withColumn("prev_max", max("file_max").over(w))
      .withColumn("overlaps_prev",
        coalesce(col("prev_max") >= col("file_min"), lit(false)))
      .select("file", "file_min", "file_max", "n_rows", "overlaps_prev")
  }
}

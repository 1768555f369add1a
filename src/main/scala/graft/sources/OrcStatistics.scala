package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.orc.OrcFile
import org.apache.spark.sql.SparkSession

import graft.sources.v2.GraftOrcFileIndex

/** Footer-only statistics — the Spark rebuild of `read_orc_statistics`
  * (reference src/metadata.rs:60-86, wired at src/file_format.rs:164-172):
  * exact row count + exact total byte size per file, no data read.
  *
  * The reference leaves column min/max as TODO; here `columnStats`
  * surfaces them from the ORC footer (orc-core ColumnStatistics), going
  * one step past the reference.
  */
object OrcStatistics {

  final case class TableStats(numRows: Long, totalBytes: Long, numFiles: Int)

  /** Recursive, bounded-parallel listing through the connector's file
    * index — a 100k-file nested tree costs O(depth) parallel listing waves
    * plus parallel footer reads, never 100k sequential driver RPCs (the
    * pre-round-4 version listed sequentially and only one level deep).
    */
  private def orcFiles(spark: SparkSession, path: String): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new GraftOrcFileIndex(conf, Seq(path))
      .entries.map(e => new Path(e.path))
  }

  /** Exact table statistics from ORC footers (no data decode); footer
    * reads run through the connector's bounded metadata pool like the
    * listing (the reference bounds footer fetches the same way:
    * src/file_format.rs:146-155).
    */
  def tableStats(spark: SparkSession, path: String): TableStats = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = orcFiles(spark, path)
    val perFile = GraftOrcFileIndex.parallelMap(files) { f =>
      val reader = OrcFile.createReader(f, OrcFile.readerOptions(conf))
      try (reader.getNumberOfRows, reader.getContentLength)
      finally reader.close()
    }
    TableStats(perFile.map(_._1).sum, perFile.map(_._2).sum, files.size)
  }

  /** Per-column footer statistics (beyond the reference's TODO):
    * (columnName, numValues, hasNull, min/max rendered) per top-level column.
    */
  def columnStats(spark: SparkSession, path: String): Seq[(String, Long, Boolean, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = orcFiles(spark, path)
    if (files.isEmpty) return Seq.empty
    val reader = OrcFile.createReader(files.head, OrcFile.readerOptions(conf))
    try {
      val schema = reader.getSchema
      val stats = reader.getStatistics // indexed by flattened column id
      val names = schema.getFieldNames
      val children = schema.getChildren
      (0 until names.size()).map { i =>
        // nested types occupy a range of flattened ids — getId gives the
        // top-level field's own id (i+1 is only correct for flat schemas)
        val s = stats(children.get(i).getId)
        (names.get(i), s.getNumberOfValues, s.hasNull, s.toString)
      }
    } finally reader.close()
  }

  /** Scan-efficiency metric from the reference (src/metrics.rs:203-217):
    * bytesRead / totalFileBytes for the last executed scan over `path`.
    * Computed from Spark task input metrics — 1.0 means the whole file
    * was read, < 1.0 means pruning (column projection / stripe skip)
    * saved I/O.
    */
  def scanEfficiency(spark: SparkSession, path: String)(scan: => Long): Double = {
    val sc = spark.sparkContext
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          acc.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    try {
      scan // force the action
      // listener delivery is async; drain the bus deterministically
      org.apache.spark.GraftSparkBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    val total = tableStats(spark, path).totalBytes.max(1L)
    acc.get().toDouble / total.toDouble
  }
}

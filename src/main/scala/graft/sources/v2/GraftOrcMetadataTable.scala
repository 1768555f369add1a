package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES over a graft-orc manifest table — the
  * observability surface a 100 TB table needs, answered entirely from
  * manifest state (zero data-file I/O):
  *
  *  - `SELECT * FROM cat.db.t.snapshots` — the retained history: seq,
  *    commit time, operation, file/byte accounting, schema version.
  *  - `... FROM cat.db.t.files` — the live files of the current
  *    snapshot: path, size, partition, per-file schema version, row
  *    count (from the stat sidecar when present).
  *  - `... FROM cat.db.t.partitions` — per-partition rollup: file
  *    count, row count, bytes. At scale this is the "which partitions
  *    are bloated / skewed / missing" query, priced as one metadata
  *    read instead of a full scan.
  *
  * Resolution: [[GraftOrcCatalog.loadTable]] maps `db.t.<kind>` to this
  * table when `db.t` is a manifest table (the same multipart-identifier
  * trick Iceberg uses). Execution is a DSv2 [[LocalScan]]: the rows are
  * computed on the driver from the snapshot log — they ARE driver-side
  * metadata; shipping a scan to executors would only add scheduling.
  * Path users get the same three frames via [[GraftOrcMetadata]].
  */
object GraftOrcMetadataTable {

  val Kinds: Set[String] = Set("snapshots", "files", "partitions",
    "history", "tags", "branches", "deletes", "refs", "manifests")

  private[v2] def snapshotsSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("op", StringType, nullable = true),
    StructField("data_files", IntegerType, nullable = false),
    StructField("delete_files", IntegerType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("schema_v", LongType, nullable = true),
    // per-commit diff vs the preceding RETAINED snapshot (the summary
    // an operator reads to see what each commit did); null on the
    // oldest retained row — its predecessor expired
    StructField("added_files", IntegerType, nullable = true),
    StructField("removed_files", IntegerType, nullable = true)))

  private[v2] def filesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("mtime_ms", LongType, nullable = false),
    StructField("schema_v", LongType, nullable = false),
    StructField("partition", StringType, nullable = false),
    StructField("row_count", LongType, nullable = true),
    StructField("has_stats", BooleanType, nullable = false)))

  /** Partition key columns (as raw strings, path order) + rollup. */
  private[v2] def partitionsSchema(partCols: Seq[String]) = StructType(
    partCols.map(c => StructField(c, StringType, nullable = true)) ++ Seq(
      StructField("file_count", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true),
      StructField("total_bytes", LongType, nullable = false)))

  private def rowsOf(e: OrcFileEntry): Option[Long] =
    e.stats.flatMap(OrcStatsEval.decodeSidecar).map(_._1)

  private[v2] def partColsOf(fs: org.apache.hadoop.fs.FileSystem,
                             table: Path): Seq[String] = {
    val snap = GraftOrcManifest.readSnapshot(fs, table)
    // DIRECTORY keys (ts_day for a transform field): the partitions
    // metadata table rolls up what is physically on disk — after spec
    // EVOLUTION that is the union over every spec that ever applied
    // (current spec's keys first; old files surface their historical
    // dirs, null where a file predates a field)
    snap.flatMap(_.meta).map { m =>
      GraftOrcPartitionSpec.allSpecs(m)
        .flatMap(p => GraftOrcPartitionSpec.parseCanonical(p)
          .map(_.dirName)).distinct
    }.filter(_.nonEmpty)
      .getOrElse(
        snap.map(_.entries).getOrElse(Nil)
          .map(_.partitionValues.keys.toSeq)
          .maxByOption(_.length).getOrElse(Nil))
  }

  /** Live delete sidecars of the current snapshot — the MoR debt an
    * operator sizes before scheduling a purge: kind (`deletion_vector`
    * or `equality`), bytes, deleted-position cardinality, referenced
    * data files. Cardinality decodes the deletion vectors
    * (purge-bounded small by construction); equality sidecars read only
    * the ORC footer row count.
    */
  private[v2] def deletesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("mtime_ms", LongType, nullable = false),
    StructField("cardinality", LongType, nullable = true),
    StructField("referenced_files", LongType, nullable = true)))

  private def orcRowCount(conf: Configuration, path: String): Option[Long] =
    try {
      val r = org.apache.orc.OrcFile.createReader(new Path(path),
        org.apache.orc.OrcFile.readerOptions(conf))
      try Some(r.getNumberOfRows) finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private[v2] def tagsSchema = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  private[v2] def branchesSchema = StructType(Seq(
    StructField("branch", StringType, nullable = false),
    StructField("base_seq", LongType, nullable = false),
    StructField("head_seq", LongType, nullable = false)))

  /** Iceberg's `refs` shape: every named pointer into the snapshot
    * graph in one frame — main, each branch (with its fork base), each
    * tag — the one table an operator lists to see "what states exist".
    */
  /** Segmented-manifest observability: how the CURRENT snapshot's
    * listing is physically stored — one row per write-once segment file
    * (name, entry count, bytes) plus an `<inline>` row for entries
    * serialized in the snapshot file itself. The table an operator
    * checks to see whether appends are O(adds) (carried refs) and when
    * the 64-segment re-segmentation will fire.
    */
  private[v2] def manifestsSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("entries", LongType, nullable = false),
    StructField("bytes", LongType, nullable = true)))

  private[v2] def refsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("base_seq", LongType, nullable = true)))

  private[v2] def computeRows(kind: String, conf: Configuration,
                              table: Path): (StructType, Seq[Seq[Any]]) = {
    val fs = table.getFileSystem(conf)
    val qt = fs.makeQualified(table)
    kind match {
      case "tags" =>
        (tagsSchema, GraftOrcManifest.listTags(fs, qt)
          .map { case (n, seq) => Seq[Any](n, seq) })
      case "branches" =>
        (branchesSchema, GraftOrcManifest.listBranches(fs, qt).map { n =>
          Seq[Any](n, GraftOrcManifest.branchBase(fs, qt, n),
            GraftOrcManifest.readSnapshot(fs, qt, Some(n))
              .map(_.seq).getOrElse(0L))
        })
      case "manifests" =>
        val s = GraftOrcManifest.readSnapshot(fs, qt)
          .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
        val segRows = s.segs.map { g =>
          val len =
            try fs.getFileStatus(g.path).getLen
            catch { case _: java.io.FileNotFoundException => -1L }
          Seq[Any](g.path.getName, g.entries.size.toLong, len)
        }
        val inline = s.entries.size - s.segs.map(_.entries.size).sum
        val rows = segRows ++
          (if (inline > 0 || segRows.isEmpty)
            Seq(Seq[Any]("<inline>", inline.toLong, null)) else Nil)
        (manifestsSchema, rows)
      case "refs" =>
        val main = GraftOrcManifest.readSnapshot(fs, qt)
          .map(snp => Seq[Any]("main", "branch", snp.seq, null)).toSeq
        val branches = GraftOrcManifest.listBranches(fs, qt).map { n =>
          Seq[Any](n, "branch",
            GraftOrcManifest.readSnapshot(fs, qt, Some(n))
              .map(_.seq).getOrElse(0L),
            GraftOrcManifest.branchBase(fs, qt, n))
        }
        val tags = GraftOrcManifest.listTags(fs, qt)
          .map { case (n, seq) => Seq[Any](n, "tag", seq, null) }
        (refsSchema, main ++ branches ++ tags)
      // `history` is the Iceberg-familiar alias of `snapshots`
      case "snapshots" | "history" =>
        val refs = GraftOrcManifest.listSnapshots(fs, qt).getOrElse(Nil)
        var prev: Option[Set[String]] = None
        val rows = refs.map { r =>
          val s = GraftOrcManifest.resolveSnapshot(fs, qt,
            GraftOrcManifest.Selector.ById(r.seq))
          val paths = s.entries.map(_.path).toSet
          val (added, removed) = prev match {
            case Some(p) => ((paths -- p).size, (p -- paths).size)
            case None => (null, null)
          }
          prev = Some(paths)
          Seq[Any](r.seq, r.commitMs * 1000L, s.op.orNull,
            s.entries.size, s.deletes.size,
            (s.entries ++ s.deletes).map(_.length).sum,
            s.meta.map(_.schemaV).orNull, added, removed)
        }
        (snapshotsSchema, rows)
      case "deletes" =>
        val s = GraftOrcManifest.readSnapshot(fs, qt)
          .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
        val rows = s.deletes.map { e =>
          val rel = GraftOrcManifest.relativize(qt, e.path)
          if (GraftOrcEqDelete.isEqualitySidecar(e.path))
            Seq[Any](rel, "equality", e.length, e.mtime,
              orcRowCount(conf, e.path).orNull, null)
          else {
            val stats =
              try {
                var card = 0L
                val refs = collection.mutable.HashSet.empty[String]
                GraftOrcDeleteVector.allPairs(conf, e.path).foreach {
                  case (f, _) => card += 1; refs += f
                }
                Some((card, refs.size.toLong))
              } catch { case scala.util.control.NonFatal(_) => None }
            Seq[Any](rel, "deletion_vector", e.length, e.mtime,
              stats.map(_._1).orNull, stats.map(_._2).orNull)
          }
        }
        (deletesSchema, rows)
      case "files" =>
        val s = GraftOrcManifest.readSnapshot(fs, qt)
          .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
        val rows = s.entries.map { e =>
          Seq[Any](GraftOrcManifest.relativize(qt, e.path), e.length,
            e.mtime, e.schemaV,
            e.partitionValues.map { case (k, v) => s"$k=$v" }
              .mkString("/"),
            rowsOf(e).orNull, e.stats.isDefined)
        }
        (filesSchema, rows)
      case "partitions" =>
        val s = GraftOrcManifest.readSnapshot(fs, qt)
          .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
        val partCols = partColsOf(fs, qt)
        val rows = s.entries.groupBy(e =>
          partCols.map(c => e.partitionValues.collectFirst {
            case (k, v) if k.equalsIgnoreCase(c) => v
          }.orNull)).toSeq.map { case (vals, es) =>
          val perFile = es.map(rowsOf)
          val rowCount =
            if (perFile.forall(_.isDefined)) perFile.flatten.sum else null
          vals ++ Seq[Any](es.size.toLong, rowCount,
            es.map(_.length).sum)
        }
        (partitionsSchema(partCols), rows)
      case other => throw new IllegalArgumentException(
        s"graft-orc: unknown metadata table '$other' " +
          s"(supported: ${Kinds.mkString(", ")})")
    }
  }

  private def toInternal(schema: StructType, row: Seq[Any]): InternalRow =
    new GenericInternalRow(row.zip(schema.fields).map {
      case (null, _) => null
      case (v: String, _) => UTF8String.fromString(v)
      case (v: Int, f) if f.dataType == LongType => v.toLong
      case (v, _) => v
    }.toArray[Any])

  private[v2] def internalRows(kind: String, conf: Configuration,
                               table: Path): (StructType, Array[InternalRow]) = {
    val (schema, rows) = computeRows(kind, conf, table)
    (schema, rows.map(toInternal(schema, _)).toArray)
  }
}

class GraftOrcMetadataTable(kind: String, tableDir: String)
    extends Table with SupportsRead {

  private def conf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  // schema computed on load (partitions columns are table-dependent)
  private lazy val tableSchema: StructType =
    GraftOrcMetadataTable.internalRows(kind, conf, new Path(tableDir))._1

  override def schema(): StructType = tableSchema
  override def name(): String = s"graft-orc-meta:$tableDir#$kind"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new LocalScan {
      // computed at EXECUTION, not load: a SELECT sees the state as of
      // the query, and repeated queries re-read the (one-file) log
      override def rows(): Array[InternalRow] =
        GraftOrcMetadataTable.internalRows(kind, conf,
          new Path(tableDir))._2
      override def readSchema(): StructType = tableSchema
      override def description(): String = name()
    }
  }
}

/** Path-API access to the same three metadata frames (no catalog
  * required): `GraftOrcMetadata.partitions(spark, dir)` etc.
  */
object GraftOrcMetadata {
  private def frame(spark: SparkSession, kind: String,
                    table: String): DataFrame = {
    val (schema, rows) = GraftOrcMetadataTable.computeRows(kind,
      spark.sparkContext.hadoopConfiguration, new Path(table))
    // timestamps were produced as epoch MICROS for InternalRow; convert
    // to java.sql.Timestamp for the external Row constructor
    val ext = rows.map { r =>
      Row.fromSeq(r.zip(schema.fields).map {
        case (us: Long, f) if f.dataType == TimestampType =>
          new java.sql.Timestamp(us / 1000L)
        case (v, _) => v
      })
    }
    spark.createDataFrame(ext.asJava, schema)
  }

  def snapshots(spark: SparkSession, table: String): DataFrame =
    frame(spark, "snapshots", table)
  def history(spark: SparkSession, table: String): DataFrame =
    frame(spark, "history", table)
  def files(spark: SparkSession, table: String): DataFrame =
    frame(spark, "files", table)
  def partitions(spark: SparkSession, table: String): DataFrame =
    frame(spark, "partitions", table)
  def tags(spark: SparkSession, table: String): DataFrame =
    frame(spark, "tags", table)
  def branches(spark: SparkSession, table: String): DataFrame =
    frame(spark, "branches", table)
  def refs(spark: SparkSession, table: String): DataFrame =
    frame(spark, "refs", table)
  def deletes(spark: SparkSession, table: String): DataFrame =
    frame(spark, "deletes", table)
}

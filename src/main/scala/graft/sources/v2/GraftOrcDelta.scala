package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.orc.GraftOrcShims
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Delta-based (merge-on-read) row-level operations — `UPDATE`, `MERGE
  * INTO`, and the non-metadata `DELETE` fallback — via DSv2
  * [[SupportsDelta]], the Iceberg position-delta shape. Opt-in per table
  * (`TBLPROPERTIES('graft.update_mode'='mor')` /
  * `'graft.merge_mode'='mor'` / `'graft.delete_mode'='mor'`) or per
  * session (`spark.graft.update_mode` etc.); default stays copy-on-write
  * ([[GraftOrcRowLevelOperation]]).
  *
  * Where the group-based CoW rewrite prices an UPDATE at a full rewrite
  * of every file the condition's rows sit in, the delta plan reads ONLY
  * the rows the operation changes and writes a DELTA: each changed row
  * becomes a position-delete of its old copy (`(_file, _pos)` — the
  * metadata columns double as the row id, which is why they exist) plus,
  * for UPDATE/MERGE-update/insert actions, a freshly written row in a
  * new data file. Both halves commit in ONE atomic manifest snapshot.
  * Cost scales with rows CHANGED, not bytes they sit in — at 100 TB,
  * a MERGE upserting 0.01% of rows stops costing a table rewrite.
  * Updates are represented as delete+insert
  * (`representUpdateAsDeleteAndInsert`), so a partition-value update
  * moves the row to its new partition directory for free.
  *
  * The position-delete sidecars are EXACTLY the [[GraftOrcMor]] shape:
  * every existing consistency surface applies unchanged — readers
  * subtract positions at scan time, aggregate pushdown and plan-time row
  * counts degrade while sidecars live, compaction purges them, time
  * travel applies the addressed snapshot's sidecars, incremental/
  * streaming reads classify the change under `graft.on_rewrite`, and
  * retention/vacuum account them like data files.
  *
  * Conflict safety: the commit re-validates that every data file its
  * sidecars reference is still in the (possibly raced-ahead) current
  * snapshot; a concurrent compaction/rewrite of a referenced file fails
  * the commit loudly instead of silently dropping the delete (positions
  * against a replaced file would be inert).
  *
  * Since the rowId includes `_pos`, the operation's scan automatically
  * runs with SearchArguments disabled (the `_pos`-exactness contract in
  * [[GraftOrcPartitionReaderFactory]]) — a SARG-skipped stripe would
  * shift nothing (positions are file-absolute) but pruning is refused
  * anyway to keep positions provably exact; file-level pruning from the
  * pushed condition still bounds the read.
  */
class GraftOrcDeltaOperation(tableSchema: StructType, tablePath: String,
                             partitionCols: Seq[String], cmd: Command,
                             branch: Option[String] = None,
                             consolidateAfter: Option[Int] = None,
                             distributionMode: String = "none",
                             writeSort: Seq[String] = Nil,
                             orcOpts: Map[String, String] =
                               Map.empty[String, String])
    extends RowLevelOperation with SupportsDelta {

  override def command(): Command = cmd

  override def description(): String =
    s"GraftOrcDeltaOperation($cmd, $tablePath)"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftOrcDataSource.FileMetaCol),
    Expressions.column(GraftOrcDataSource.PosMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](
      options.asCaseSensitiveMap())
    merged.put("path", tablePath)
    // a branch-scoped delta scans the BRANCH state; its positions and
    // inserts then commit to the same lineage
    branch.foreach(b => merged.put("graft.branch", b))
    new GraftOrcScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftOrcDeltaWrite(tablePath, info, partitionCols, branch,
          consolidateAfter, distributionMode, writeSort, orcOpts)
    }
}

/** The delta write: inserts ride the ordinary staged-file machinery
  * ([[GraftOrcWriterFactory]]); deletes accumulate into one per-task
  * deletion vector staged under `_staging/<writeId>/__deletes/`; the
  * driver commit publishes data waves, moves sidecars into
  * `_graft_deletes/`, and commits both in one snapshot
  * ([[GraftOrcWrite.publish]] delta mode).
  */
class GraftOrcDeltaWrite(path: String, info: LogicalWriteInfo,
                         partitionCols: Seq[String],
                         branch: Option[String] = None,
                         consolidateAfter: Option[Int] = None,
                         distributionMode: String = "none",
                         writeSort: Seq[String] = Nil,
                         orcOpts: Map[String, String] =
                           Map.empty[String, String])
    extends DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val rowSchema: StructType = info.schema()

  // ---- writer-requested distribution (the MERGE-ingest fanout fix) --
  // Without it a partitioned MoR MERGE's insert rows fan out from every
  // task to every partition dir — T x P files PER BATCH (the
  // streaming-ingest tables measured 512 files/batch at 32 tasks x 16
  // dirs). `graft.distribution_mode=hash` (same table property as the
  // batch write) clusters the delta rows by the identity partition
  // columns, so each partition lands in one task: ~P files per batch.
  // Delete-only deltas carry no row columns to cluster by — they stay
  // unspecified, as do tables that never opt in (byte-identical plans).
  require(distributionMode == "none" || distributionMode == "hash",
    s"graft-orc: invalid value '$distributionMode' for " +
      "'graft.distribution_mode', must be none or hash")
  private val clusterCols: Seq[String] = {
    if (distributionMode != "hash") Nil
    else {
      require(partitionCols.nonEmpty,
        "graft-orc: graft.distribution_mode=hash requires a " +
          "partitioned table (it clusters rows by the partition columns)")
      val fs = GraftOrcPartitionSpec.parseCanonical(partitionCols)
      require(fs.forall(_.isIdentity),
        "graft-orc: graft.distribution_mode=hash over transform " +
          "partitions is not supported yet — repartition on the source " +
          "columns before the write instead")
      val srcs = fs.map(_.source)
      // resolvable only when the delta carries the row columns (a pure
      // DELETE's schema is just the rowId — nothing to cluster).
      // `_file` (the rowId column, present in every delta plan's
      // output) rides along in the clustering tuple: INSERT rows carry
      // it as null, so their co-location by partition values is
      // unchanged — but a mixed MERGE's DELETE rows carry NULL
      // partition columns, and without `_file` they would all hash to
      // ONE task (a skew bottleneck for delete-heavy MERGEs). Hashed
      // with their file path they spread across tasks AND stay
      // file-local, which is also the sidecar writer's best case.
      // UPDATE-row tradeoff: an UPDATE's reinsert rows ALSO carry a
      // non-null _file, so a partition dir's updated rows spread
      // across tasks by their SOURCE file — an update-heavy MERGE can
      // emit up to files-touched-per-dir data files per partition dir
      // instead of ~1, partially re-opening the small-file fanout this
      // clustering exists to close. Accepted: file-locality is what the
      // sidecar writer needs for the co-travelling delete rows, the
      // fanout is bounded by files actually touched (not tasks x dirs),
      // and auto-compaction absorbs it. If the streaming-ingest
      // receipts ever show update-driven file regression, cluster
      // reinsert rows by partition columns alone (null out _file for
      // rows whose partition tuple is non-null) — at the cost of
      // splitting each touched file's delete rows across tasks.
      if (srcs.forall(c => info.schema().fields
          .exists(_.name.equalsIgnoreCase(c))))
        srcs :+ GraftOrcDataSource.FileMetaCol
      else Nil
    }
  }

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.Expressions
    if (clusterCols.nonEmpty)
      Distributions.clustered(clusterCols.toArray.map(c =>
        Expressions.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression))
    else Distributions.unspecified()
  }

  // `graft.write_sort=c1,c2`: within-task sort on the delta's INSERT
  // rows (same table property as the batch write, threaded through the
  // props-as-options default) — MoR MERGE/UPDATE output files then
  // carry tight min/max stat ranges on those columns between
  // compactions, instead of waiting for the next z-order pass.
  // Resolvable only when the delta carries the row columns.
  private val sortCols: Seq[String] = writeSort.filter(c =>
    info.schema().fields.exists(_.name.equalsIgnoreCase(c)))

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    // partition columns lead, so each task emits its dirs as contiguous
    // runs (one open writer at a time, not P); write_sort columns follow
    (clusterCols ++ sortCols.filterNot(s =>
      clusterCols.exists(_.equalsIgnoreCase(s)))).toArray.map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
  }
  private val rowIdSchema: StructType = {
    val o = info.rowIdSchema()
    require(o.isPresent, "graft-orc delta: write planned without a rowId " +
      "schema — the delta contract is broken")
    o.get()
  }
  private def idIdx(name: String): Int = {
    val i = rowIdSchema.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(i >= 0, s"graft-orc delta: rowId schema " +
      s"${rowIdSchema.simpleString} lacks $name")
    i
  }
  private val writeId = UUID.randomUUID().toString

  // driver-side: the reader emits _file as the QUALIFIED path; sidecars
  // store table-relative paths (the GraftOrcMor contract)
  private val tablePrefix: String = {
    val spark = SparkSession.active
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toString.stripSuffix("/") + "/"
  }

  // a pure DELETE delta carries no row columns — no data writer at all
  private def dataFactory(): Option[GraftOrcWriterFactory] = {
    if (rowSchema.isEmpty) return None
    GraftOrcWrite.validateAppend(path, rowSchema, partitionCols)
    val spark = SparkSession.active
    // canonical spec forms (identity = bare name; hidden transforms keep
    // their source IN the data file) — same contract as GraftOrcWrite
    val specFields = GraftOrcPartitionSpec.parseCanonical(partitionCols)
    GraftOrcPartitionSpec.validate(rowSchema, specFields)
    val partSet = specFields.filter(_.isIdentity)
      .map(_.source.toLowerCase).toSet
    val fileSchema = StructType(
      rowSchema.fields.filterNot(f => partSet(f.name.toLowerCase)))
    val partSpecs = specFields.map { f =>
      val i = rowSchema.fields.indexWhere(_.name.equalsIgnoreCase(f.source))
      GraftPartCol(f.copy(source = rowSchema.fields(i).name).dirName, i,
        rowSchema.fields(i).dataType, f.transform, f.param)
    }.toArray
    val fileFieldIdx = rowSchema.fields.zipWithIndex
      .filterNot { case (f, _) => partSet(f.name.toLowerCase) }.map(_._2)
    val (owf, conf) = GraftOrcShims.orcWriteSupport(spark,
      Map("compression" -> "snappy") ++ orcOpts, fileSchema)
    Some(GraftOrcWriterFactory(path, fileSchema, owf,
      GraftOrcConfShipping.broadcast(spark.sparkContext, conf), partSpecs,
      fileFieldIdx, writeId,
      // insert rows arrive as reused projection wrappers carrying exactly
      // rowSchema; partitioned tables project partition columns out, and
      // unpartitioned ones pass rows straight to the ORC serializer
      alwaysProject = partitionCols.nonEmpty))
  }

  private def deleteFactory(): GraftOrcDeltaSidecarFactory = {
    val spark = SparkSession.active
    GraftOrcDeltaSidecarFactory(path,
      GraftOrcConfShipping.broadcast(spark.sparkContext,
        spark.sessionState.newHadoopConf()),
      writeId, tablePrefix)
  }

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(
        i: PhysicalWriteInfo): DeltaWriterFactory =
      GraftOrcDeltaWriterFactory(dataFactory(), deleteFactory(),
        idIdx(GraftOrcDataSource.FileMetaCol),
        idIdx(GraftOrcDataSource.PosMetaCol))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val dels = Seq.newBuilder[String]
      val refs = Set.newBuilder[String]
      val dataMsgs = messages.toSeq.map {
        case GraftOrcDeltaCommitMessage(data, staged, referenced) =>
          dels ++= staged; refs ++= referenced
          data: WriterCommitMessage
        case other => throw new IllegalStateException(
          s"graft-orc delta: foreign message $other")
      }
      GraftOrcWrite.publish(path, writeId, dataMsgs.toArray,
        truncateExisting = false, writerPartitionCols = partitionCols,
        deltaDeletes = dels.result(), deltaRefs = Some(refs.result()),
        branch = branch, consolidateAfter = consolidateAfter)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftOrcWrite.discard(path, writeId, Array.empty)
  }
}

/** One delta task: an inner data writer for inserts (absent on pure
  * DELETE), per-file position bitmaps for deletes.
  */
case class GraftOrcDeltaWriterFactory(data: Option[GraftOrcWriterFactory],
                                      del: GraftOrcDeltaSidecarFactory,
                                      fileIdx: Int, posIdx: Int)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new GraftOrcDeltaWriter(this, partitionId, taskId)
}

case class GraftOrcDeltaSidecarFactory(
    table: String, conf: Broadcast[SerializableConfiguration],
    writeId: String, tablePrefix: String)

class GraftOrcDeltaWriter(f: GraftOrcDeltaWriterFactory, partitionId: Int,
                          taskId: Long)
    extends DeltaWriter[InternalRow] {

  private var inner: DataWriter[InternalRow] = _
  private def dataWriter: DataWriter[InternalRow] = {
    if (inner == null) inner = f.data.getOrElse(throw new IllegalStateException(
      "graft-orc delta: insert row in a delete-only delta")).createWriter(
      partitionId, taskId)
    inner
  }

  private val referenced = collection.mutable.HashSet.empty[String]
  // positions accumulate into per-file bitmaps (compressed, bounded by
  // this task's deleted rows) and ONE deletion vector writes at
  // commit; row order never matters
  private val bitmaps = collection.mutable.LinkedHashMap
    .empty[String, GraftOrcDeleteVector.PositionBitmap]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val abs = id.getUTF8String(f.fileIdx).toString
    val prefix = f.del.tablePrefix
    require(abs.startsWith(prefix),
      s"graft-orc delta: rowId file $abs is outside the table $prefix")
    val rel = abs.substring(prefix.length)
    referenced += rel
    bitmaps.getOrElseUpdate(rel, new GraftOrcDeleteVector.PositionBitmap)
      .add(id.getLong(f.posIdx))
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  // representUpdateAsDeleteAndInsert=true means Spark never calls this;
  // kept correct anyway
  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val dataMsg =
      if (inner != null)
        inner.commit().asInstanceOf[GraftOrcCommitMessage]
      else GraftOrcCommitMessage(Nil)
    val staged: Seq[String] =
      if (bitmaps.nonEmpty) {
        val d = f.del
        val dest = new Path(new Path(new Path(d.table,
          GraftOrcWrite.StagingDir), d.writeId),
          new Path(GraftOrcDeltaWriter.DeletesSubdir,
            s"del-$partitionId-${UUID.randomUUID()}.bin").toString)
        val fsx = dest.getFileSystem(d.conf.value.value)
        fsx.mkdirs(dest.getParent)
        GraftOrcDeleteVector.write(fsx, dest, bitmaps.iterator)
        Seq(dest.toString)
      } else Nil
    GraftOrcDeltaCommitMessage(dataMsg, staged, referenced.toSeq)
  }

  // the deletion vector is written only inside commit(); a failed
  // job's staged vectors go with its staging subtree (batch abort)
  override def abort(): Unit = if (inner != null) inner.abort()

  override def close(): Unit = if (inner != null) inner.close()
}

object GraftOrcDeltaWriter {
  /** Staging subdirectory separating sidecars from data waves; never a
    * k=v partition suffix, so the wave grouping cannot collide with it.
    */
  private[v2] val DeletesSubdir = "__deletes"
}

/** `data`: the staged data files (inserts); `deletes`: staged position
  * sidecars; `referenced`: table-relative data files the sidecars
  * address (the commit re-validates they are still live).
  */
case class GraftOrcDeltaCommitMessage(data: GraftOrcCommitMessage,
                                      deletes: Seq[String],
                                      referenced: Seq[String])
    extends WriterCommitMessage

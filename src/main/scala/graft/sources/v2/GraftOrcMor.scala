package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read row-level DELETE for manifest tables — the Iceberg-v2
  * position-delete shape, opt-in per table via
  * `TBLPROPERTIES('graft.delete_mode'='mor')` (or the session default
  * `spark.graft.delete_mode`).
  *
  * Copy-on-write ([[GraftOrcDelete]]) prices a DELETE at a full rewrite
  * of every file the predicate touches. At 100 TB that is the wrong
  * trade for the common case — a GDPR-style delete hitting 0.01% of the
  * rows of EVERY file would rewrite the entire table. Merge-on-read
  * instead writes tiny POSITION-DELETE sidecars — deletion vectors
  * ([[GraftOrcDeleteVector]]: one bitmap of deleted row ordinals per
  * data file, keyed by the file's path relative to the table) under
  * `_graft_deletes/` — and commits them in the next manifest
  * snapshot; readers subtract the positions at scan time
  * ([[GraftOrcPartitionReaderFactory]] flips the affected scan to
  * row-wise reads, filtering each file's rows against its sorted
  * position set). DELETE cost becomes proportional to the rows DELETED,
  * not the bytes they sit in.
  *
  * The read-side tax (row-wise instead of vectorized batches, one
  * sidecar read per task) accrues until [[purge]] — run automatically by
  * [[GraftOrcCompact.compact]] — rewrites the affected files without
  * their deleted rows and retires every sidecar in one atomic snapshot,
  * restoring the pure-columnar path. That bounds sidecar accumulation by
  * the compaction cadence, the same contract Iceberg's
  * rewrite-data-files maintenance provides.
  *
  * Interactions kept consistent elsewhere: aggregate pushdown and
  * plan-time row counts are refused/degraded while sidecars are live
  * (footer totals include deleted rows); copy-on-write rewrites of files
  * with live sidecars subtract positions first (no resurrection);
  * time-travel reads apply exactly the addressed snapshot's sidecars;
  * incremental/streaming reads classify a sidecar-set change under the
  * `graft.on_rewrite` policy (already-emitted rows are not retractable).
  */
object GraftOrcMor {

  /** Sidecars live here; the `_` prefix keeps them invisible to BFS
    * listings (only manifest snapshots reference them).
    */
  val DeletesDir = "_graft_deletes"

  private def prefixOf(table: Path): String =
    table.toString.stripSuffix("/") + "/"

  /** Evaluate `pred` over the still-live rows of `partials` and publish
    * the matching `(f, pos)` pairs as deletion-vector sidecars; returns
    * their manifest entries (the caller commits them). Partition values
    * bind as per-group literals exactly like the CoW rewrite, so mixed
    * predicates resolve. Sidecar cardinality = rows deleted — the whole
    * point: no data file is read beyond predicate evaluation, none is
    * rewritten.
    */
  def writeDeletes(spark: SparkSession, fs: FileSystem, table: Path,
                   partials: Seq[OrcFileEntry], pred: Column,
                   schema: org.apache.spark.sql.types.StructType)
      : Seq[OrcFileEntry] = {
    if (partials.isEmpty) return Nil
    val prefix = prefixOf(table)
    GraftOrcWrite.bumpPublishStamp(partials.map(_.mtime).max)
    // schema-version groups like the CoW rewrite: files of different
    // versions have different physical schemas, and the predicate
    // references CURRENT names — project each group before evaluating
    val evolved = GraftOrcSchema.hasEvolution(schema)
    val frames = partials.groupBy(e =>
      (e.partitionValues, if (evolved) e.schemaV else 0L)).toSeq.map {
      case ((parts, fileV), files) =>
        val loaded = spark.read.format("graft-orc")
          .load(files.map(_.path): _*)
          .select(col("*"), col(GraftOrcDataSource.FileMetaCol)
            .as("__mor_file"),
            col(GraftOrcDataSource.PosMetaCol).as("__mor_pos"))
        val raw =
          if (!evolved) loaded
          else GraftOrcSchema.projectToCurrent(loaded,
            schema.fields.toSeq.filterNot(f =>
              parts.keys.exists(_.equalsIgnoreCase(f.name))), fileV,
            extraCols = Seq("__mor_file", "__mor_pos"))
        val bound = parts.foldLeft(raw) { case (df, (k, v)) =>
          val dt = schema.fields.collectFirst {
            case f if f.name.equalsIgnoreCase(k) => f.dataType
          }.getOrElse(org.apache.spark.sql.types.StringType)
          df.withColumn(k, lit(v).cast(dt))
        }
        // DELETE semantics: a row is deleted when the predicate is TRUE;
        // NULL keeps the row (so it never enters a sidecar)
        bound.filter(coalesce(pred, lit(false)))
          .select(
            expr(s"substring(__mor_file, ${prefix.length + 1})").as("f"),
            col("__mor_pos").as("pos"))
    }
    val del = frames.reduce(_ union _)
    // bounded sidecar count, contiguous (f, pos) ranges per file: a
    // range partition by the pair, sorted within — readers scan sorted
    // position runs per data file
    val nOut = math.max(1, math.ceil(partials.size / 64.0).toInt)
    val sorted = del.repartitionByRange(nOut, col("f"), col("pos"))
      .sortWithinPartitions("f", "pos")
    publishDeleteVectors(spark, fs, table, sorted)
  }

  /** Stage one DELETION-VECTOR sidecar per (f, pos)-sorted partition —
    * each task streams its run into per-file bitmaps and writes ONE
    * `dv-*.bin` ([[GraftOrcDeleteVector]]) — then stamp + move them
    * into `_graft_deletes/`. A data file split by the range partitioner
    * appears in two sidecars; readers union positions across sidecars,
    * so that is correct (merely one entry less compact). A crash
    * mid-move leaves unmanifested sidecars [[GraftOrcManifest.vacuum]]
    * reclaims — never a half-applied delete.
    */
  private def publishDeleteVectors(spark: SparkSession, fs: FileSystem,
                                    table: Path,
                                    del: DataFrame): Seq[OrcFileEntry] = {
    val staging = new Path(table,
      s"${GraftOrcWrite.StagingDir}/mor-${UUID.randomUUID()}")
    fs.mkdirs(staging)
    val ser = GraftOrcConfShipping.broadcast(spark.sparkContext,
      spark.sparkContext.hadoopConfiguration)
    val stagingStr = staging.toString
    val written: Seq[String] = del.select(col("f"), col("pos")).rdd
      .map(r => (r.getString(0), r.getLong(1)))
      .mapPartitions { it0 =>
        if (it0.isEmpty) Iterator.empty
        else {
          val it = it0.buffered
          val grouped =
            new Iterator[(String, GraftOrcDeleteVector.PositionBitmap)] {
              override def hasNext: Boolean = it.hasNext
              override def next()
                  : (String, GraftOrcDeleteVector.PositionBitmap) = {
                val f = it.head._1
                val bm = new GraftOrcDeleteVector.PositionBitmap
                while (it.hasNext && it.head._1 == f) bm.add(it.next()._2)
                (f, bm)
              }
            }
          val dest = new Path(stagingStr,
            s"dv-${UUID.randomUUID()}.bin")
          GraftOrcDeleteVector.write(
            dest.getFileSystem(ser.value.value), dest, grouped)
          Iterator.single(dest.toString)
        }
      }.collect().toSeq
    val delDir = new Path(table, DeletesDir)
    fs.mkdirs(delDir)
    val entries = written.sorted.map { s =>
      val src = new Path(s)
      val stamp = GraftOrcWrite.nextPublishStamp()
      fs.setTimes(src, stamp, -1)
      val dest = new Path(delDir, src.getName)
      if (!fs.rename(src, dest))
        throw new java.io.IOException(
          s"graft-orc mor: failed to publish deletion vector $src")
      OrcFileEntry(fs.makeQualified(dest).toString,
        fs.getFileStatus(dest).getLen, Map.empty, stamp)
    }
    fs.delete(staging, true)
    entries
  }

  /** All live POSITION deletes as one (f, pos) DataFrame — rel paths,
    * decoded distributed, one deletion vector per input split. None
    * when empty.
    */
  def pairsDF(spark: SparkSession,
              posDels: Seq[OrcFileEntry]): Option[DataFrame] = {
    if (posDels.isEmpty) return None
    val ser = GraftOrcConfShipping.broadcast(spark.sparkContext,
      spark.sparkContext.hadoopConfiguration)
    val paths = posDels.map(_.path)
    Some(spark.createDataFrame(
      spark.sparkContext
        .parallelize(paths, math.min(paths.size, 32))
        .flatMap(p => GraftOrcDeleteVector.allPairs(ser.value.value, p))
        .map { case (f, pos) => org.apache.spark.sql.Row(f, pos) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("f",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, nullable = false)))))
  }

  /** Subtract live deletes — POSITION and EQUALITY sidecars — from `df`
    * (rows of data files under `table`, read RAW so the `_file`/`_pos`
    * metadata columns still resolve). Positions anti-join on
    * (file, pos); equality tuples drop rows of files strictly OLDER
    * than their sidecar ([[GraftOrcEqDelete]] applicability), with the
    * file mtimes supplied by the caller's manifest entries. Identity
    * when there are no sidecars — the common case pays nothing.
    */
  def minusDeleted(spark: SparkSession, df: DataFrame, table: Path,
                   deletes: Seq[OrcFileEntry],
                   fileMtimes: Seq[OrcFileEntry] = Nil): DataFrame = {
    if (deletes.isEmpty) return df
    val (eqDels, posDels) =
      deletes.partition(e => GraftOrcEqDelete.isEqualitySidecar(e.path))
    var acc = df.select(col("*"),
      col(GraftOrcDataSource.FileMetaCol).as("__mor_file"),
      col(GraftOrcDataSource.PosMetaCol).as("__mor_pos"))
    if (posDels.nonEmpty) {
      val dels = pairsDF(spark, posDels).get
        .select(concat(lit(prefixOf(table)), col("f")).as("__del_file"),
          col("pos").as("__del_pos"))
      acc = acc.join(dels,
        acc("__mor_file") === dels("__del_file") &&
          acc("__mor_pos") === dels("__del_pos"), "left_anti")
    }
    if (eqDels.nonEmpty) {
      require(fileMtimes.nonEmpty,
        "graft-orc: equality-delete subtraction needs the file mtimes")
      import spark.implicits._
      val mtimes = fileMtimes.map(e => (e.path, e.mtime))
        .toDF("__mor_file", "__eq_mtime")
      acc = acc.join(broadcast(mtimes), Seq("__mor_file"), "left")
      eqDels.foreach { sdel =>
        val keys = spark.read.orc(sdel.path).distinct()
        val keyCols = keys.columns.toSeq
        val renamed = keys.toDF(keyCols.map("__eqk_" + _): _*)
          .withColumn("__eq_hit", lit(true))
        // plain === (not null-safe): a NULL key never matches a delete
        val cond = keyCols.map(c =>
          acc(c) === renamed("__eqk_" + c)).reduce(_ && _)
        acc = acc.join(broadcast(renamed), cond, "left_outer")
          .filter(!(coalesce(col("__eq_hit"), lit(false)) &&
            col("__eq_mtime") < lit(sdel.mtime)))
          .drop("__eq_hit")
        keyCols.foreach(c => acc = acc.drop("__eqk_" + c))
      }
      acc = acc.drop("__eq_mtime")
    }
    acc.drop("__mor_file", "__mor_pos")
  }

  /** Executor-side: the sorted, distinct deleted positions of
    * `targetAbs` across `sidecars` (each paired with its table-root
    * prefix). Each deletion vector is a header walk plus a seek to
    * this file's payload — only that payload is decoded.
    */
  def positionsFor(conf: Configuration,
                   sidecars: Seq[(String, String)],
                   targetAbs: String): Array[Long] = {
    val out = collection.mutable.ArrayBuffer.empty[Long]
    sidecars.foreach { case (side, root) =>
      val prefix = root.stripSuffix("/") + "/"
      if (targetAbs.startsWith(prefix))
        GraftOrcDeleteVector.bitmapFor(conf, side,
            targetAbs.substring(prefix.length))
          .foreach(b => out ++= b.toSortedArray)
    }
    out.distinct.sorted.toArray
  }

  /** Driver-side: the ABSOLUTE data-file paths the position sidecars
    * reference — each deletion vector's header IS its referenced-file
    * index, so scan tasks over UNREFERENCED files skip per-task sidecar
    * I/O and per-row position checks entirely.
    */
  def referencedFiles(conf: Configuration,
                      sidecars: Seq[(String, String)]): Set[String] =
    sidecars.iterator.flatMap { case (side, root) =>
      val prefix = root.stripSuffix("/") + "/"
      GraftOrcDeleteVector.files(conf, side).map(prefix + _)
    }.toSet

  /** Consolidate live POSITION sidecars: union every live `(f, pos)`
    * pair into a minimal set of deletion-vector sidecars and commit ONE snapshot that swaps them in, retiring the
    * N accumulated per-commit sidecars. PURE METADATA + sidecar bytes:
    * no data file is read or rewritten, which is why this is the cheap
    * maintenance step between purges (Iceberg v3's DV maintenance has
    * the same shape). Each MoR DELETE/UPDATE/MERGE commit adds one
    * sidecar, and until a purge every scan task's header walk and
    * `bitmapFor` probe pays per live sidecar — consolidation restores
    * that to ONE seek per task at the cost of one small distributed
    * job over the (purge-bounded) pair set.
    *
    * Returns (sidecars retired, sidecars written); (0, 0) when there is
    * nothing to gain (fewer than two live position sidecars). Equality
    * sidecars are left alone — their mtime is an applicability
    * WATERMARK (files strictly older are subject), so re-stamping them
    * would change which files they delete from.
    *
    * Positions referencing data files no longer live (already replaced
    * by CoW/compact) are dropped during the union — the consolidated
    * vector carries only live-file payloads, so the per-scan
    * referenced-file index shrinks to what still matters.
    */
  def consolidate(spark: SparkSession, table: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    var attempt = 0
    while (true) {
      try return consolidateOnce(spark, fs, qt)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= GraftOrcWrite.ManifestCommitRetries) throw e
          attempt += 1
      }
    }
    (0, 0) // unreachable
  }

  private def consolidateOnce(spark: SparkSession, fs: FileSystem,
                              qt: Path): (Int, Int) = {
    val snap = GraftOrcManifest.readSnapshot(fs, qt)
      .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
    val (eqDels, posDels) = snap.deletes.partition(e =>
      GraftOrcEqDelete.isEqualitySidecar(e.path))
    if (posDels.size <= 1) return (0, 0)
    GraftOrcWrite.bumpPublishStamp(
      (snap.entries ++ snap.deletes).map(_.mtime).foldLeft(0L)(math.max))
    // live-file membership as a broadcast semi-join, not an In-list: the
    // manifest can hold 100k+ entries and the pair frame is the big side
    val liveRel = {
      import spark.implicits._
      snap.entries.map(e => GraftOrcManifest.relativize(qt, e.path))
        .toDF("f")
    }
    val pairs = pairsDF(spark, posDels).get
      .join(broadcast(liveRel), Seq("f"), "left_semi")
      .distinct()
    val nOut = math.max(1, math.ceil(posDels.size / 64.0).toInt)
    val sorted = pairs.repartitionByRange(nOut, col("f"), col("pos"))
      .sortWithinPartitions("f", "pos")
    val fresh = publishDeleteVectors(spark, fs, qt, sorted)
    try {
      GraftOrcManifest.commitSwap(fs, qt,
        remove = Set.empty, add = Nil,
        addDeletes = fresh, dropDeletes = posDels.map(_.path).toSet,
        op = "consolidate",
        expectDeletes = Some(snap.deletes.map(_.path).toSet))
    } catch {
      case e: java.util.ConcurrentModificationException =>
        // our fresh vectors were published under _graft_deletes/ but
        // never manifested — invisible; reclaim best-effort (vacuum
        // would too) before the caller re-plans
        fresh.foreach(f =>
          try fs.delete(new Path(f.path), false)
          catch { case _: java.io.IOException => })
        throw e
    }
    GraftOrcManifest.deleteUnreferenced(fs, qt, posDels)
    (posDels.size, fresh.size)
  }

  /** Property-gated AUTO-consolidation, run after a commit that added
    * position sidecars: when `TBLPROPERTIES('graft.consolidate_after'=N)`
    * is set and the live POSITION sidecar count reaches N, the commit's
    * writer consolidates inline — the same "hidden maintenance" posture
    * as the write-side purge compaction runs, keeping per-scan sidecar
    * probes bounded without a scheduler. Best-effort: the data commit
    * already succeeded, so a consolidation lost to a rival maintenance
    * run (ConcurrentModificationException after retries) is swallowed —
    * the rival did equivalent work or the next delete re-triggers.
    * Branch commits skip it (consolidation is a MAIN-lineage operation;
    * staged sidecars reach main at fast_forward and trigger there).
    */
  def parseConsolidateAfter(v: String): Int = {
    val n = try v.trim.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft-orc: invalid graft.consolidate_after '$v', must " +
            "be an integer >= 2")
    }
    require(n >= 2, s"graft-orc: graft.consolidate_after must be " +
      s">= 2 (1 would consolidate after every delete), got $n")
    n
  }

  def maybeAutoConsolidate(spark: SparkSession, fs: FileSystem, qt: Path,
                           branch: Option[String] = None,
                           explicit: Option[Int] = None): Unit = {
    if (branch.nonEmpty) return
    val snap = GraftOrcManifest.readSnapshot(fs, qt)
      .getOrElse { return }
    // resolution mirrors delete_mode: the caller's resolved table
    // property (TBLPROPERTIES travel as table options — a path table's
    // manifest meta never sees them), else the property a CATALOG table
    // persisted into its manifest meta, else the session default
    val limit = explicit
      .orElse(snap.meta.flatMap(_.props.collectFirst {
        case (k, v) if k.equalsIgnoreCase("graft.consolidate_after") =>
          parseConsolidateAfter(v)
      }))
      .orElse(spark.conf.getOption("spark.graft.consolidate_after")
        .map(parseConsolidateAfter))
    limit.foreach { n =>
      val livePos = snap.deletes.count(e =>
        !GraftOrcEqDelete.isEqualitySidecar(e.path))
      if (livePos >= n) {
        // same maintenance gate as auto-compaction (in-JVM flag +
        // cross-driver intent marker): consolidation is a whole-table
        // sidecar merge a rival maintenance commit invalidates at the
        // swap, so N committers racing it burn the same wasted work
        // class — and a rival COMPACTION subsumes it anyway (compact's
        // purge retires the sidecars this would have unioned)
        GraftOrcCompact.beginMaintenance(fs, qt) match {
          case go: GraftOrcCompact.MaintGo =>
            // best-effort like auto-compaction: the data commit already
            // landed, so NO consolidation failure may propagate out of
            // this post-commit hook and fail a succeeded DELETE/MERGE
            try consolidate(spark, qt.toString)
            catch {
              case _: java.util.ConcurrentModificationException => ()
              case scala.util.control.NonFatal(e) =>
                GraftOrcLog.log.warn(
                  "graft-orc: auto-consolidation after commit on {} " +
                    "failed ({}: {}); the data commit is unaffected",
                  qt, e.getClass.getSimpleName, e.getMessage)
            }
            finally GraftOrcCompact.endMaintenance(fs, qt, go)
          case _ => () // someone is maintaining this table; theirs wins
        }
      }
    }
  }

  /** Apply every live sidecar physically: rewrite each affected data
    * file without its deleted rows and commit ONE snapshot that swaps
    * the files and retires ALL sidecars — the maintenance step that
    * restores the vectorized read path. Idempotent; returns the number
    * of data files rewritten. Positions referencing files no longer in
    * the snapshot (already replaced by CoW/UPDATE/MERGE) are inert and
    * simply retire with their sidecar.
    */
  def purge(spark: SparkSession, table: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    // A sidecar that commits between our snapshot read and our commit
    // applies to the files we replace but not to our rewritten outputs
    // (fresh stamps) — committing against it would resurrect deleted
    // rows, so the commit sequence-validates the sidecar set
    // (commitSwap expectDeletes) and we RE-PLAN from fresh state here.
    var attempt = 0
    while (true) {
      try return purgeOnce(spark, fs, qt)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= GraftOrcWrite.ManifestCommitRetries) throw e
          attempt += 1
      }
    }
    0 // unreachable
  }

  private def purgeOnce(spark: SparkSession, fs: FileSystem,
                        qt: Path): Int = {
    val snap = GraftOrcManifest.readSnapshot(fs, qt)
      .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
    if (snap.deletes.isEmpty) return 0
    val (eqDels, posDels) = snap.deletes.partition(e =>
      GraftOrcEqDelete.isEqualitySidecar(e.path))
    val affectedRel =
      if (posDels.isEmpty) Set.empty[String]
      else pairsDF(spark, posDels).get
        .select("f").distinct().collect().map(_.getString(0)).toSet
    // an equality sidecar can touch any file OLDER than it — but only a
    // file whose per-column stat range INTERSECTS the sidecar's key
    // range can actually hold an affected tuple. The sidecar's key
    // ranges come from its own ORC footer (already written, one footer
    // read per sidecar); file ranges from the manifest stat sidecars.
    // Missing stats on either side degrade to "may contain" (rewrite).
    // At 100 TB this is the difference between "purge rewrites the
    // whole table" and "purge rewrites the files the CDC batch touched"
    // whenever keys are clustered (time-ordered ids, partition-local
    // key spaces).
    val conf = spark.sparkContext.hadoopConfiguration
    val eqRanges: Seq[(Long, Map[String, OrcStatsEval.StatRange])] =
      eqDels.map(e =>
        (e.mtime, GraftOrcEqDelete.keyRangesOf(conf, e.path)))
    val affected = snap.entries.filter(e =>
      affectedRel(GraftOrcManifest.relativize(qt, e.path)) ||
        eqRanges.exists { case (mt, kr) =>
          e.mtime < mt && GraftOrcEqDelete.mayHoldKeys(e.stats, kr) })
    GraftOrcWrite.bumpPublishStamp(
      (snap.entries ++ snap.deletes).map(_.mtime).foldLeft(0L)(math.max))
    val evolved = snap.meta.exists(m => GraftOrcSchema.hasEvolution(m.schema))
    // spec evolution groups by LAYOUT version too (same directory string
    // can mean different specs), and each group's rewrite records its
    // frozen layout as specV — see GraftOrcDelete.rewriteWithout
    val specEvo = snap.meta.exists(GraftOrcPartitionSpec.specEvolved)
    val curV = snap.meta.map(_.schemaV).getOrElse(0L)
    val rewritten = affected.groupBy(e =>
      (e.partitionValues, if (evolved) e.schemaV else 0L,
        if (specEvo) e.layoutV else -1L)).toSeq.flatMap {
      case ((parts, fileV, layV), files) =>
        val loaded = spark.read.format("graft-orc").load(files.map(_.path): _*)
        // subtract positions FIRST (metadata columns resolve only on the
        // raw relation), then project to the current schema
        val keep0 = minusDeleted(spark, loaded, qt, snap.deletes,
          fileMtimes = files)
        val keep =
          if (!evolved) keep0
          else GraftOrcSchema.projectToCurrent(keep0,
            snap.meta.get.schema.fields.toSeq.filterNot(f =>
              parts.keys.exists(_.equalsIgnoreCase(f.name))), fileV)
        GraftOrcDelete.publishGroupRewrite(spark, fs, qt, parts, keep,
          "purge", schemaV = if (evolved) curV else 0L, specV = layV)
    }
    try {
      GraftOrcManifest.commitSwap(fs, qt,
        remove = affected.map(_.path).toSet, add = rewritten,
        dropDeletes = snap.deletes.map(_.path).toSet, op = "purge",
        expectDeletes = Some(snap.deletes.map(_.path).toSet))
    } catch {
      case e: java.util.ConcurrentModificationException =>
        // conflict: our rewrites were published into partition dirs but
        // never manifested — invisible to every reader. Reclaim them
        // best-effort (vacuum would too) before the caller re-plans.
        rewritten.foreach(r =>
          try fs.delete(new Path(r.path), false)
          catch { case _: java.io.IOException => })
        throw e
    }
    GraftOrcManifest.deleteUnreferenced(fs, qt, affected ++ snap.deletes)
    affected.size
  }
}

package graft.sources.v2

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.orc.OrcFile

import org.apache.spark.sql.SparkSession

/** Small-file compaction for graft-orc tables — the maintenance operation
  * a streaming-ingested table needs at scale: the sink publishes one file
  * per task per epoch, so a long-running ingest accumulates millions of
  * KB-sized files whose per-file open/footer cost eventually dominates
  * every scan. (The reference's directory tables have the same failure
  * mode and no answer; its writer is a stub, `src/writer.rs:18-23`.)
  *
  * Design for 100 TB:
  *  - **Stripe copy, not decode**: each bin is merged with
  *    `OrcFile.mergeFiles` — stripes are byte-copied and the footers
  *    rewritten, no decompression or row decode. Cost is pure I/O.
  *  - **Distributed**: bins are packed on the driver from the file
  *    listing (metadata only), then merged one-bin-per-task via a plain
  *    `parallelize(bins)` job — compacting a million-file table is a
  *    normal Spark job, not a driver loop.
  *  - **Invisible while in flight**: tasks write merged files under the
  *    table's `_staging/` (skipped by every listing); the driver then
  *    stamps publish mtimes and renames each merged file into its
  *    partition directory before deleting that bin's inputs.
  *
  * Consistency caveats (the no-manifest tradeoff, same family as the
  * writer's partial-COMMIT note in [[GraftOrcWrite]]; BOTH disappear on
  * manifest tables, where the swap commits as one atomic snapshot and
  * the inputs are only UNREFERENCED — still readable through retained
  * pre-compaction snapshots (time travel), physically deleted at
  * snapshot expiry — see [[GraftOrcManifest]]):
  *  - A reader listing between a bin's publish and its input deletion
  *    sees that bin's rows TWICE; the window is one rename + N deletes
  *    per bin. A crash inside the window is SELF-HEALING: each bin
  *    writes a tombstone (output + input paths, under `_compact/`)
  *    before its publish rename, and [[repair]] — run automatically at
  *    the start of every [[compact]] — finishes the interrupted deletes
  *    idempotently instead of merging the duplicates into the table.
  *  - Compacted files carry NEW publish stamps (necessarily above the
  *    streaming watermark), so a `readStream` consuming the table would
  *    re-ingest compacted rows as new data. Do NOT compact a table that
  *    is an ACTIVE streaming source — the same rule file-stream sources
  *    without a manifest log impose everywhere.
  *  - Files whose schema/compression/version differ from their bin's
  *    first file are skipped by the ORC merger (it reports what it
  *    merged); only actually-merged inputs are deleted.
  */
object GraftOrcCompact {

  /** Per-bin crash tombstones live here; `_`-prefixed => invisible to
    * every listing (BFS skips it, manifests never reference it).
    */
  val TombstoneDir = "_compact"

  /** "Small file" threshold shared by [[compact]]'s `smallFileBytes`
    * default and [[maybeAutoCompact]]'s trigger count — one constant so
    * the trigger never counts files the subsequent compact() won't bin.
    */
  val DefaultSmallFileBytes: Long = 32L << 20

  case class CompactionStats(partitionDirs: Int, bins: Int,
                             filesCompacted: Int, bytesCompacted: Long,
                             filesOut: Int) {
    def filesWritten: Int = filesOut
  }

  /** Finish the input deletes of any merge group interrupted between its
    * publish renames and its input deletes (the directory-table duplicate
    * window). A group's tombstone — first line the output COUNT n, then
    * n published-output paths, then one input path per line — is written
    * BEFORE the first rename and removed after the deletes, so a
    * leftover one is an exact repair recipe:
    *  - every output exists => the group published; delete surviving
    *    inputs (the duplicates a crash stranded).
    *  - any output missing  => the crash hit mid-publish; the inputs are
    *    still the live truth, so ROLL BACK — delete whatever outputs did
    *    land (pure derived data) and keep the inputs.
    * Either way dropping the tombstone is safe to re-crash through:
    * every step is an idempotent delete. Runs automatically at the start
    * of [[compact]]; callable directly for a read-only-ops repair.
    * Returns the number of groups whose stranded duplicates were removed.
    * Manifest tables never need it (their swap commits atomically).
    */
  def repair(spark: SparkSession, table: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(conf)
    val tombs = new Path(tablePath, TombstoneDir)
    val stones =
      try fs.listStatus(tombs).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => return 0 }
    var repaired = 0
    stones.foreach { st =>
      val lines =
        try {
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().map(_.trim).filter(_.nonEmpty).toList
          finally in.close()
        } catch { case _: java.io.IOException => Nil }
      lines match {
        case head :: rest =>
          val (outs, inputs) = head.toIntOption match {
            case Some(n) if n >= 1 && rest.size >= n =>
              (rest.take(n), rest.drop(n))
            case _ => (Nil, Nil) // truncated mid-write: nothing published
          }
          if (outs.nonEmpty && outs.forall(o => fs.exists(new Path(o)))) {
            val removed = inputs.count(p => fs.delete(new Path(p), false))
            if (removed > 0) repaired += 1
          } else {
            outs.foreach(o => fs.delete(new Path(o), false))
          }
        case Nil => // empty stub: crash before any content
      }
      fs.delete(st.getPath, false)
    }
    try {
      if (fs.listStatus(tombs).isEmpty) fs.delete(tombs, false)
    } catch { case _: java.io.IOException => /* concurrent compactor */ }
    repaired
  }

  /** Compact every partition directory of `table`: data files smaller
    * than `smallFileBytes` are packed first-fit (in listing order) into
    * bins of up to `targetBytes`, and each bin of 2+ files is merged
    * into one file. Files at or above `smallFileBytes` are left alone.
    *
    * `zorderCols` switches the merge from stripe copy to a LAYOUT
    * REWRITE: each partition directory's small files are decoded,
    * re-laid along the z-curve of those columns ([[graft.operators
    * .ZOrder.zorderBy]]), and rewritten in ~`targetBytes` chunks — so a
    * fragmented streaming table gains multi-column stripe pruning at
    * compaction time. Costlier than stripe copy (pays decode + encode +
    * one range shuffle per directory); layout is per-directory, which is
    * exactly the scope stripe pruning acts on.
    */
  /** Property-gated AUTO-compaction, run by the writer after a
    * main-lineage commit that added data files: when
    * `TBLPROPERTIES('graft.compact_after'=N)` (catalog tables persist
    * TBLPROPERTIES into the manifest meta; session default
    * `spark.graft.compact_after`) is set and the live count of files
    * smaller than `smallFileBytes` reaches N, the committer compacts
    * inline — the data-file analogue of `graft.consolidate_after`, and
    * the "hidden maintenance" a continuously-ingesting table needs so
    * its scans stay file-count-flat without a scheduler.
    * `graft.compact_zorder='c1[,c2...]'` switches the merge to a layout
    * rewrite sorted on those columns — that is what keeps a keyed
    * ingest table's stat sidecars range-prunable batch after batch
    * (GraftOrcMergePruneSpec, GraftOrcStreamIngestSpec).
    * Best-effort: the data commit already succeeded, so a compaction
    * lost to a rival maintenance run is swallowed and any other failure
    * is logged and swallowed (housekeeping never fails a committed
    * write — the fast_forward consolidation posture).
    */
  def parseCompactAfter(v: String): Int = {
    val n = try v.trim.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft-orc: invalid graft.compact_after '$v', must be an " +
            "integer >= 2")
    }
    require(n >= 2, "graft-orc: graft.compact_after must be >= 2 " +
      s"(1 would compact after every commit), got $n")
    n
  }

  /** In-JVM per-table guard: concurrent committers would otherwise each
    * launch the SAME compaction (one wins the swap, the rest lose on
    * expectPresent after doing the full merge work) — an auto run that
    * finds another in flight just skips; the table is being maintained.
    * Cross-driver overlap still resolves loudly through expectPresent.
    */
  private val autoCompacting =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Auto-compaction accounting (asserted by GraftOrcCompactSpec): how much
    * maintenance work commits TRIGGER, how much of it lands, and how
    * much is thrown away. `attempted` = the guard let a pass launch;
    * `landed` = that pass committed a merge; `lostRace` = the pass did
    * the full merge work and then lost the swap to a rival maintenance
    * commit (wasted cluster work — the cost the intent marker prices out);
    * `skippedInFlight` = a committer found this JVM already maintaining
    * the table and moved on (the cheap outcome). JVM-lifetime counters;
    * [[resetAutoCompactStats]] zeroes them for a measurement window.
    */
  private val autoAttempted = new java.util.concurrent.atomic.AtomicLong()
  private val autoLanded = new java.util.concurrent.atomic.AtomicLong()
  private val autoLostRace = new java.util.concurrent.atomic.AtomicLong()
  private val autoSkipped = new java.util.concurrent.atomic.AtomicLong()
  private val autoSkippedCross = new java.util.concurrent.atomic.AtomicLong()

  def autoCompactStats: Map[String, Long] = Map(
    "attempted" -> autoAttempted.get(), "landed" -> autoLanded.get(),
    "lost_race" -> autoLostRace.get(),
    "skipped_in_flight" -> autoSkipped.get(),
    "skipped_cross_driver" -> autoSkippedCross.get())

  def resetAutoCompactStats(): Unit = {
    autoAttempted.set(0L); autoLanded.set(0L)
    autoLostRace.set(0L); autoSkipped.set(0L); autoSkippedCross.set(0L)
  }

  // ---- cross-driver maintenance-intent marker ---------------------------
  // The in-JVM `autoCompacting` flag cannot see OTHER drivers: N drivers
  // each maintaining the same table burn up to one losing merge per
  // window each (full merge work thrown away at expectPresent — loud and
  // bounded, but wasted cluster time that scales with driver count). A
  // `compact.intent` marker in the manifest dir closes most of that:
  // every maintenance run (auto or explicit) stamps it with a fresh
  // ownership token before merging and clears it after; an AUTO pass that
  // finds a marker younger than the cooldown skips — the table is being
  // maintained by someone. Best-effort by design: the marker is an
  // overwrite-create (two drivers racing the stamp both run, and the swap
  // arbitrates loudly as before), clearing is token-guarded so a slow
  // finisher cannot clear a successor's stamp, and a crashed maintainer's
  // stale marker simply ages past the cooldown. Correctness never depends
  // on it — expectPresent remains the arbiter; this only prices the waste
  // out. The marker lives beside the snapshots (underscore-prefixed dir:
  // invisible to data listings; vacuum sweeps only seg-/.tmp- names).
  private[v2] val MaintIntentName = "compact.intent"

  private def intentPath(fs: FileSystem, table: Path): Path =
    new Path(new Path(fs.makeQualified(table), GraftOrcManifest.Dir),
      MaintIntentName)

  // Freshness compares the store's file mtime against THIS driver's
  // clock — an assumption, not a guarantee: on a shared or object store
  // whose clock skews from ours, a rival's fresh stamp can misjudge in
  // either direction. Both directions degrade safely (see intentFresh),
  // but the cooldown should comfortably exceed the expected skew.
  private def intentCooldownMs: Long =
    try Option(System.getProperty("graft.compact.intent_cooldown_ms"))
      .map(_.trim.toLong).getOrElse(60000L)
    catch { case _: NumberFormatException => 60000L }

  /** True if another driver stamped maintenance intent on this table
    * less than the cooldown ago (our own stamps are cleared on exit, so
    * a fresh marker means a LIVE rival or a very recent crash).
    *
    * Freshness is SYMMETRIC on purpose: a marker whose mtime sits more
    * than the cooldown in our FUTURE (store/rival clock far ahead, or a
    * store that fabricates mtimes) is treated as not-fresh rather than
    * fresh-forever. The failure directions are then both benign:
    *  - mtimes stale/behind (eventual stores, skew backward): markers
    *    age out early ⇒ rivals race as if the marker didn't exist —
    *    exactly the pre-marker behavior, loud and correct (the swap's
    *    expectPresent arbitrates; the waste the marker priced out comes
    *    back, nothing else);
    *  - mtimes ahead: without the symmetry, every auto pass would skip
    *    FOREVER on a marker nobody will ever clear — a silent
    *    maintenance outage. With it, skew beyond the cooldown degrades
    *    to the same loud racing mode as above.
    * GraftOrcCompactSpec pins both degraded modes (aged-past and
    * future-skewed markers both admit maintenance).
    */
  private def intentFresh(fs: FileSystem, table: Path): Boolean =
    try {
      val st = fs.getFileStatus(intentPath(fs, table))
      math.abs(System.currentTimeMillis() - st.getModificationTime) <
        intentCooldownMs
    } catch { case _: java.io.IOException => false }

  /** Stamp the marker (overwrite-create) and return the ownership token;
    * None if the stamp failed (missing manifest dir, read-only store) —
    * the merge proceeds either way, the marker is advisory. The leading
    * UUID is the ownership token; the trailing timestamp is DIAGNOSTIC
    * only (who stamped, when) — freshness is judged from the file's
    * mtime, same as the commit lock.
    */
  private def stampIntent(fs: FileSystem, table: Path): Option[String] =
    try {
      val token = java.util.UUID.randomUUID().toString
      val out = fs.create(intentPath(fs, table), true)
      try out.write(s"$token ${System.currentTimeMillis()}".getBytes("UTF-8"))
      finally out.close()
      Some(token)
    } catch { case _: java.io.IOException => None }

  /** Clear the marker iff it still carries our token (a successor's
    * re-stamp survives; same narrowed-not-closed delete race as the
    * commit lock's release — acceptable for an advisory marker).
    */
  private def clearIntent(fs: FileSystem, table: Path,
                          token: Option[String]): Unit = token.foreach { t =>
    val p = intentPath(fs, table)
    try {
      val in = fs.open(p)
      val ours = try {
        val b = new Array[Byte](64)
        val n = in.read(b)
        n > 0 && new String(b, 0, n, "UTF-8").startsWith(t)
      } finally in.close()
      if (ours) fs.delete(p, false)
    } catch { case _: java.io.IOException => }
  }

  /** Outcome of [[beginMaintenance]]: go (with the stamped token to pass
    * to [[endMaintenance]]), or the reason an AUTO pass should skip.
    */
  private[v2] sealed trait MaintGate
  private[v2] case class MaintGo(token: Option[String]) extends MaintGate
  private[v2] case object MaintBusyInJvm extends MaintGate
  private[v2] case object MaintBusyCrossDriver extends MaintGate

  /** The shared gate every AUTO maintenance pass (compaction AND
    * sidecar consolidation — both are whole-table merges a rival can
    * invalidate at the swap) walks before doing work: the in-JVM
    * in-flight flag first, then the cross-driver intent marker; on go,
    * the flag is held and the marker stamped. Callers MUST pair with
    * [[endMaintenance]] in a finally.
    */
  private[v2] def beginMaintenance(fs: FileSystem, qt: Path): MaintGate =
    if (!autoCompacting.add(qt.toString)) MaintBusyInJvm
    else if (intentFresh(fs, qt)) {
      autoCompacting.remove(qt.toString); MaintBusyCrossDriver
    } else MaintGo(stampIntent(fs, qt))

  private[v2] def endMaintenance(fs: FileSystem, qt: Path,
                                 go: MaintGo): Unit = {
    clearIntent(fs, qt, go.token)
    autoCompacting.remove(qt.toString)
  }

  def maybeAutoCompact(spark: SparkSession, fs: FileSystem, qt: Path,
                       branch: Option[String] = None): Unit = {
    if (branch.nonEmpty) return // maintenance is a MAIN-lineage op
    val snap = GraftOrcManifest.readSnapshot(fs, qt).getOrElse { return }
    val props = snap.meta.map(_.props).getOrElse(Map.empty[String, String])
    def prop(name: String): Option[String] =
      props.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val limit = prop("graft.compact_after").map(parseCompactAfter)
      .orElse(spark.conf.getOption("spark.graft.compact_after")
        .map(parseCompactAfter))
    limit.foreach { n =>
      val small = snap.entries.filter(_.length < DefaultSmallFileBytes)
      // only trigger when a merge can actually happen: once a
      // partitioned table settles at one merged-but-still-small file
      // per partition, compact() has no 2+ file bin — without this
      // guard every further commit would pay a no-op maintenance pass.
      // Same grouping as compact()'s binning: partition dir (w-<id>
      // wave dirs are publish artifacts, not partition identity) +
      // schema version + frozen spec version.
      val mergeable = small.groupBy { e =>
        val parent = e.path.substring(0, e.path.lastIndexOf('/'))
        val name = parent.substring(parent.lastIndexOf('/') + 1)
        (if (name.startsWith("w-"))
          parent.substring(0, parent.lastIndexOf('/'))
        else parent, e.schemaV, e.specV)
      }.values.exists(_.size >= 2)
      if (small.size >= n && mergeable) {
        // cross-driver courtesy inside the gate: a marker younger than
        // the cooldown means ANOTHER driver is maintaining (or just
        // attempted) — skip instead of racing it into a wasted merge.
        // Our own in-flight runs are screened by the in-JVM flag first,
        // so a fresh marker really is a rival's.
        beginMaintenance(fs, qt) match {
          case MaintBusyInJvm => autoSkipped.incrementAndGet()
          case MaintBusyCrossDriver => autoSkippedCross.incrementAndGet()
          case go: MaintGo =>
            autoAttempted.incrementAndGet()
            val zorder = prop("graft.compact_zorder")
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .getOrElse(Nil)
            try {
              compact(spark, qt.toString, zorderCols = zorder)
              autoLanded.incrementAndGet()
            } catch {
              case _: java.util.ConcurrentModificationException =>
                autoLostRace.incrementAndGet()
              case scala.util.control.NonFatal(e) =>
                GraftOrcLog.log.warn(
                  "graft-orc: auto-compaction after commit on {} failed " +
                    "({}: {}); the data commit is unaffected",
                  qt, e.getClass.getSimpleName, e.getMessage)
            } finally endMaintenance(fs, qt, go)
        }
      }
    }
  }

  def compact(spark: SparkSession, table: String,
              targetBytes: Long = 128L << 20,
              smallFileBytes: Long = DefaultSmallFileBytes,
              parallelism: Int = 16,
              zorderCols: Seq[String] = Nil): CompactionStats = {
    require(smallFileBytes <= targetBytes,
      "graft-orc compact: smallFileBytes must be <= targetBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    // register this run in the auto-compaction in-flight set, so a
    // commit-triggered auto pass skips instead of duplicating the full
    // merge work and losing it at the swap's expectPresent. An EXPLICIT
    // call never skips (the user asked); if the guard is already held —
    // by the auto pass that is calling us, or by a racing explicit run
    // (expectPresent still arbitrates that overlap loudly) — we simply
    // don't take ownership of the flag.
    val tp = new Path(table)
    val tfs = tp.getFileSystem(conf)
    val qtKey = tfs.makeQualified(tp).toString
    val ownsFlag = autoCompacting.add(qtKey)
    // an EXPLICIT run stamps the cross-driver intent marker too (other
    // drivers' auto passes then skip while we merge) but never SKIPS on
    // a rival's marker — the user asked. It also never OVERWRITES a
    // FRESH rival's stamp: clearing our overwrite on exit would erase
    // the still-running rival's protection window and expose it to a
    // third driver's auto — under a fresh rival marker the explicit run
    // simply proceeds unstamped (the swap arbitrates, as ever).
    // ownsFlag=false means an auto pass drives this call and stamped.
    val intent =
      if (ownsFlag && GraftOrcManifest.exists(tfs, tfs.makeQualified(tp)) &&
          !intentFresh(tfs, tp))
        stampIntent(tfs, tp)
      else None
    try compactInner(spark, table, targetBytes, smallFileBytes,
      parallelism, zorderCols, conf)
    finally {
      clearIntent(tfs, tp, intent)
      if (ownsFlag) autoCompacting.remove(qtKey)
    }
  }

  private def compactInner(spark: SparkSession, table: String,
                           targetBytes: Long, smallFileBytes: Long,
                           parallelism: Int, zorderCols: Seq[String],
                           conf: org.apache.hadoop.conf.Configuration)
      : CompactionStats = {
    // heal any interrupted predecessor FIRST: a crashed bin's stranded
    // duplicates must be deleted, not merged into the table as real rows
    repair(spark, table)
    // apply any live merge-on-read delete sidecars BEFORE binning: the
    // stripe-copy merge is a byte copy — it would resurrect deleted rows
    // (merged outputs have new paths the position sidecars don't
    // reference). The purge rewrites affected files without their
    // deleted rows and retires every sidecar in one snapshot; it is also
    // what restores the vectorized read path after MoR deletes.
    locally {
      val tp = new Path(table)
      val tfs = tp.getFileSystem(conf)
      if (GraftOrcManifest.exists(tfs, tfs.makeQualified(tp)))
        GraftOrcMor.purge(spark, table)
    }
    val entries = new GraftOrcFileIndex(conf, Seq(table)).entries
    // group by PARTITION directory: a `w-<commitId>` wave directory is a
    // publish artifact, not partition identity — files from different
    // waves of the same partition compact together (their merged output
    // lands at the partition root, which readers list the same way)
    // ... and by SCHEMA VERSION: files written under different versions
    // of an evolved table (GraftOrcSchema) may disagree on physical
    // column names/types — a stripe-copy across versions would splice
    // bytes with different meanings, and a rewrite would merge-conflict.
    // Same-version files compact together; outputs inherit the version.
    // ... and by frozen SPEC VERSION (OrcFileEntry.specV): same-directory
    // files can carry different partition-spec layouts after a
    // spec-evolution rewrite, and a merged output must inherit a single
    // unambiguous layout version.
    val byDir = entries
      .filter(_.length < smallFileBytes)
      .groupBy { e =>
        val parent = e.path.substring(0, e.path.lastIndexOf('/'))
        val name = parent.substring(parent.lastIndexOf('/') + 1)
        (if (name.startsWith("w-"))
          parent.substring(0, parent.lastIndexOf('/'))
        else parent, e.schemaV, e.specV)
      }

    // first-fit packing per directory; only bins that actually reduce the
    // file count (2+ inputs) are kept. Bins carry (path, length) pairs so
    // the publish loop never re-fetches file statuses (a 1M-file
    // compaction would otherwise pay 1M driver RPCs for a byte total the
    // listing already knew).
    val bins: Seq[((String, Long, Long), Seq[(String, Long)])] = byDir.toSeq.flatMap {
      case (dirV, files) =>
        val packed = collection.mutable.ListBuffer.empty[
          (collection.mutable.ListBuffer[(String, Long)], Long)]
        files.sortBy(_.path).foreach { f =>
          packed.lastOption match {
            case Some((bin, sz)) if sz + f.length <= targetBytes =>
              bin += (f.path -> f.length)
              packed(packed.size - 1) = (bin, sz + f.length)
            case _ =>
              packed += ((collection.mutable.ListBuffer(f.path -> f.length),
                f.length))
          }
        }
        packed.toSeq.collect { case (bin, _) if bin.size >= 2 =>
          dirV -> bin.toSeq
        }
    }
    if (bins.isEmpty)
      return CompactionStats(byDir.size, 0, 0, 0L, 0)

    // outputs under _staging (invisible to readers). Each merge group is
    // (partition dir, staged outputs, merged inputs).
    val staging = new Path(new Path(table, GraftOrcWrite.StagingDir),
      s"compact-${UUID.randomUUID()}")
    val sconf = GraftOrcConfShipping.broadcast(spark.sparkContext, conf)
    val stagingStr = staging.toString
    val merged: Seq[(String, Long, Long, Seq[String], Seq[String])] =
      if (zorderCols.isEmpty) {
        // stripe copy, one bin per task
        spark.sparkContext
          .parallelize(bins, math.min(bins.size, parallelism))
          .map { case ((dir, v, sv), inputs) =>
            val out = new Path(stagingStr, s"c-${UUID.randomUUID()}.orc")
            val done = OrcFile.mergeFiles(out,
              OrcFile.writerOptions(sconf.value.value),
              inputs.map(i => new Path(i._1)).asJava)
            (dir, v, sv, Seq(out.toString),
              done.asScala.map(_.toString).toSeq)
          }.collect().toSeq
      } else {
        // layout rewrite: one read -> z-order -> write job per partition
        // directory (the job itself is distributed; the per-dir loop is
        // metadata-only). Bin files are read directly as data-column
        // frames — partition values stay path-derived, exactly like the
        // stripe-copy outputs.
        val fsS = staging.getFileSystem(conf)
        bins.groupBy(_._1).toSeq.map { case ((dir, v, sv), dirBins) =>
          val inputs = dirBins.flatMap(_._2)
          val nOut = math.max(1, math.ceil(
            inputs.map(_._2).sum.toDouble / targetBytes).toInt)
          val tmp = new Path(staging, s"z-${UUID.randomUUID()}")
          graft.operators.ZOrder.zorderBy(
              spark.read.format("graft-orc").load(inputs.map(_._1): _*),
              zorderCols, nOut)
            .write.mode("overwrite").format("orc").save(tmp.toString)
          val outs = fsS.listStatus(tmp).toSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".orc"))
            .map { st =>
              val out = new Path(stagingStr, s"c-${UUID.randomUUID()}.orc")
              if (!fsS.rename(st.getPath, out))
                throw new java.io.IOException(
                  s"graft-orc compact: failed to stage ${st.getPath}")
              out.toString
            }
          fsS.delete(tmp, true)
          (dir, v, sv, outs, inputs.map(_._1))
        }
      }

    // publish: stamp + rename each merged file into its directory, then
    // delete that bin's merged inputs (the duplicate-visibility window is
    // per bin, one rename + N deletes wide). Compacted files MUST carry
    // mtimes above everything they replace or the (mtime, path) total
    // order the read protocols assume breaks — and the per-(JVM, table)
    // memoized seed is NOT sufficient: a different JVM may have published
    // higher mtimes after this JVM's seed. Compaction holds its own fresh
    // listing (`entries`, which includes every live file), so the counter
    // is raised from that listing's max mtime directly.
    GraftOrcWrite.bumpPublishStamp(
      entries.foldLeft(0L)((m, e) => math.max(m, e.mtime)))
    val lengthOf: Map[String, Long] =
      bins.iterator.flatMap(_._2).toMap
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(conf)
    val qtable = fs.makeQualified(tablePath)
    var nFiles = 0
    var nBytes = 0L
    var nOut = 0
    val kept = merged.filter(_._5.size >= 2)
    def publishOne(dir: String, stagedStr: String): Path = {
      val staged = new Path(stagedStr)
      fs.setTimes(staged, GraftOrcWrite.nextPublishStamp(), -1)
      val dest = new Path(dir, staged.getName)
      if (!fs.rename(staged, dest))
        throw new java.io.IOException(
          s"graft-orc compact: failed to publish $staged into $dest")
      dest
    }
    if (GraftOrcManifest.exists(fs, qtable)) {
      // manifest table: rename ALL outputs first (unmanifested files are
      // invisible), commit ONE snapshot swapping inputs for outputs, THEN
      // delete inputs — at no instant does a reader see a row twice, and
      // a crash anywhere leaves invisible garbage, never duplicates
      val entryByPath = entries.map(e => e.path -> e).toMap
      val placed = kept.map { case (dir, v, sv, outs, inputs) =>
        val parts = inputs.headOption.flatMap(entryByPath.get)
          .map(_.partitionValues).getOrElse(Map.empty[String, String])
        val destEntries = outs.map { o =>
          val stamp = GraftOrcWrite.nextPublishStamp()
          val staged = new Path(o)
          fs.setTimes(staged, stamp, -1)
          val len = fs.getFileStatus(staged).getLen
          // footer-stat sidecar for the merged output, captured while
          // the footer is hot (just written); best-effort like the
          // writer's — a miss costs a later plan-time footer read
          val sidecar =
            try {
              val r = org.apache.orc.OrcFile.createReader(staged,
                org.apache.orc.OrcFile.readerOptions(conf))
              try OrcStatsEval.sidecarOf(r) finally r.close()
            } catch { case scala.util.control.NonFatal(_) => None }
          val dest = new Path(dir, staged.getName)
          if (!fs.rename(staged, dest))
            throw new java.io.IOException(
              s"graft-orc compact: failed to publish $staged into $dest")
          OrcFileEntry(fs.makeQualified(dest).toString, len, parts, stamp,
            sidecar, schemaV = v, specV = sv)
        }
        (destEntries, inputs)
      }
      // a compaction racing an APPEND retries on top of the winner: the
      // swap recomputes against the winner's state, and is still valid
      // as long as every input it replaces is live there. If an input is
      // GONE from the winner (a concurrent compactor/truncate already
      // swapped it), retrying would resurrect replaced rows — rethrow.
      // Likewise if a DELETE SIDECAR landed since the pre-compaction
      // purge (a racing upsert/MoR delete): the stripe-copied outputs
      // are byte copies with fresh stamps the sidecar does not order
      // over, so committing them would resurrect the deleted row
      // versions — commitSwap sequence-validates (expectDeletes empty,
      // purge just retired them all) and we rethrow; the caller re-runs
      // compact, whose purge applies the new sidecar first.
      val removeSet = placed.flatMap(_._2).toSet
      val addEntries = placed.flatMap(_._1)
      var attempt = 0
      var committed = false
      while (!committed) {
        try {
          // expectPresent: every input this rewrite replaces must still
          // be LIVE in the snapshot the swap lands on. Without it, two
          // compactions planned on the same snapshot both commit: the
          // second sees no seq conflict, its `remove` filter matches
          // nothing (the first already swapped the inputs out), and its
          // outputs land as a SECOND copy of the same rows — whole-table
          // duplication (found by the concurrency stress the moment
          // auto-compaction made overlapping compactions routine).
          GraftOrcManifest.commitSwap(fs, qtable,
            remove = removeSet, add = addEntries, op = "compact",
            expectDeletes = Some(Set.empty),
            expectPresent = removeSet)
          committed = true
        } catch {
          case e: java.util.ConcurrentModificationException =>
            val winner = GraftOrcManifest.readSnapshot(fs, qtable)
              .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
            if (attempt >= GraftOrcWrite.ManifestCommitRetries ||
                winner.deletes.nonEmpty ||
                !removeSet.subsetOf(winner.entries.map(_.path).toSet)) {
              // terminal loss: the merged outputs were already renamed
              // into the table directories but never entered a snapshot
              // — invisible to manifest readers, but delete them now
              // instead of leaving orphans for vacuum
              addEntries.foreach(o =>
                try fs.delete(new Path(o.path), false)
                catch { case _: java.io.IOException => })
              throw e
            }
            attempt += 1
        }
      }
      GraftOrcManifest.deleteUnreferenced(fs, qtable,
        placed.flatMap(_._2).flatMap(entryByPath.get))
      placed.foreach { case (destEntries, inputs) =>
        nOut += destEntries.size
        inputs.foreach { in =>
          nBytes += lengthOf.getOrElse(in, 0L)
          nFiles += 1
        }
      }
    } else {
      val tombs = new Path(tablePath, TombstoneDir)
      if (kept.nonEmpty) fs.mkdirs(tombs)
      kept.foreach { case (dir, _, _, outs, inputs) =>
        val dests = outs.map(o => new Path(dir, new Path(o).getName))
        // tombstone BEFORE the first rename: from here to its delete, a
        // crash anywhere is repairable (see repair). A crash
        // mid-tombstone is harmless — nothing has published, repair
        // drops the stub.
        val stone = new Path(tombs, s"t-${dests.head.getName}.txt")
        val os = fs.create(stone, true)
        try os.write((outs.size.toString +:
          (dests.map(d => fs.makeQualified(d).toString) ++ inputs))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
        finally os.close()
        outs.foreach(o => publishOne(dir, o))
        nOut += outs.size
        inputs.foreach { in =>
          nBytes += lengthOf.getOrElse(in, 0L)
          fs.delete(new Path(in), false)
          nFiles += 1
        }
        fs.delete(stone, false)
      }
      try {
        if (fs.listStatus(tombs).isEmpty) fs.delete(tombs, false)
      } catch { case _: java.io.IOException => /* none created */ }
    }
    // single-input "bins" (merger skipped siblings) leave their staged
    // output unpublished; drop the whole staging subtree
    fs.delete(staging, true)
    try {
      val root = new Path(table, GraftOrcWrite.StagingDir)
      if (fs.listStatus(root).isEmpty) fs.delete(root, false)
    } catch { case _: java.io.IOException => /* concurrent writer */ }
    CompactionStats(byDir.size, kept.size, nFiles, nBytes, nOut)
  }
}

package graft.sources.v2

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** CDC changelog reads over manifest tables: the row-level changes
  * committed in snapshot range `(startSnapshotId, endSnapshotId]`, as the
  * table's columns plus `_change_type` ('insert' | 'delete') and
  * `_change_seq` (the snapshot that committed the change) — the
  * Iceberg-changelog shape. An UPDATE/MERGE surfaces as a delete of the
  * old row image plus an insert of the new one.
  *
  * This is the real answer to the `graft.on_rewrite = replay|fail|skip`
  * trilemma of incremental reads: where a path-diff consumer must choose
  * between replaying rewritten files, stopping, or ignoring them, the
  * changelog reconstructs the LOGICAL row changes of every snapshot:
  *
  *  - append snapshots emit the added files' rows as inserts — cost is
  *    exactly the added bytes, the same as an incremental read;
  *  - delta snapshots (merge-on-read DELETE/UPDATE/MERGE) emit the rows
  *    their new position sidecars address as deletes (a semi-join of
  *    only the referenced files against the sidecar pairs) plus any
  *    added files' rows as inserts;
  *  - file-swap snapshots (copy-on-write DELETE/UPDATE/MERGE, truncate)
  *    emit the MULTISET difference between the removed files' live rows
  *    and the added files' rows (`exceptAll` both ways): rows copied
  *    unchanged through a rewrite cancel out, so a CoW UPDATE yields
  *    exactly its net delete+insert pairs — and a compaction or purge
  *    yields NOTHING, because rewriting bytes is not a logical change;
  *  - snapshots whose committer recorded a content-neutral operation
  *    (`op` = compact | purge in the snapshot header) skip even the
  *    diff read — the 100 TB shortcut; the multiset diff remains the
  *    correct fallback for snapshots without the hint.
  *
  * Cost therefore scales with the CHANGED bytes per snapshot, never the
  * table. The whole requested range must still be retained (time-travel
  * invariant); expired history raises the same typed error as time
  * travel, with the available range named.
  */
object GraftOrcChangelog {

  val ChangeTypeCol = "_change_type"
  val ChangeSeqCol = "_change_seq"

  /** Largest estimated decoded size of a sidecar set's (file, pos)
    * pairs that [[between]] hints as a broadcast build side.
    */
  private val PairsBroadcastBytes = 32L << 20

  /** Table property naming the row-identity key columns (comma-
    * separated) — the Iceberg "identifier fields" analogue. When set,
    * [[between]] with `pairUpdates = true` resolves it automatically.
    */
  val KeyProp = "graft.key"

  /** Relabel delete+insert images that share a key within one snapshot
    * as `update_preimage` / `update_postimage` — the Iceberg/Delta
    * changelog vocabulary CDC consumers expect for updates. Only an
    * UNAMBIGUOUS pair relabels: exactly one delete and one insert for
    * the key in that snapshot, every key value non-null (SQL identity
    * semantics — a null key never pairs). Anything else — pure churn,
    * multi-row keys, appends — keeps its raw delete/insert vocabulary,
    * so the multiset-diff fallback stays lossless.
    *
    * Cost: one hash shuffle of the CHANGES on (key, snapshot) — never
    * the table; at 100 TB the changelog itself is already ∝ changed
    * bytes and pairing adds one exchange over that same frame.
    */
  def pairUpdates(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "graft-orc changelog: no key columns")
    keyCols.foreach(k => require(
      df.columns.exists(_.equalsIgnoreCase(k)),
      s"graft-orc changelog: key column $k not in " +
        df.columns.mkString(", ")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(c => col(s"`$c`")) :+ col(ChangeSeqCol): _*)
    val nDel = sum(when(col(ChangeTypeCol) === "delete", 1).otherwise(0))
      .over(w)
    val nIns = sum(when(col(ChangeTypeCol) === "insert", 1).otherwise(0))
      .over(w)
    val keysNonNull = keyCols.map(c => col(s"`$c`").isNotNull)
      .reduce(_ && _)
    df.withColumn("__cl_ndel", nDel).withColumn("__cl_nins", nIns)
      .withColumn(ChangeTypeCol,
        when(keysNonNull && col("__cl_ndel") === 1 &&
            col("__cl_nins") === 1,
          when(col(ChangeTypeCol) === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col(ChangeTypeCol)))
      .drop("__cl_ndel", "__cl_nins")
  }

  /** One incremental delivery of [[feed]]: the change rows, the range
    * they cover, and `commit()` — call it AFTER the changes are durably
    * applied downstream to advance the checkpoint. Crash before commit
    * => the same range redelivers (at-least-once, the contract every
    * CDC consumer must be idempotent against anyway).
    */
  case class ChangeFeed(df: DataFrame, fromSeq: Long, toSeq: Long,
                        commit: () => Unit)

  /** Checkpointed incremental changelog consumption — the polling CDC
    * loop a downstream apply job runs: each call returns the changes
    * committed since the LAST COMMITTED delivery (exclusive) up to the
    * current snapshot (inclusive), or None when nothing new committed.
    * The checkpoint is one tiny file the caller owns (temp+rename
    * publish, readable by any later process); `pairKeys` switches the
    * vocabulary to [[betweenPaired]]'s update pairing.
    *
    * Retention contract: the checkpoint must advance within the
    * table's `graft.manifest.retain` window — an expired range raises
    * the same typed error as time travel, naming what is available.
    */
  def feed(spark: SparkSession, table: String, checkpoint: String,
           pairKeys: Seq[String] = Nil,
           initialSeq: Long = 0L,
           branch: Option[String] = None): Option[ChangeFeed] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cp = new Path(checkpoint)
    val fs = cp.getFileSystem(conf)
    // `initialSeq` only seeds a FRESH checkpoint: 0 replays the whole
    // retained history, the current snapshot seq starts "from now"
    val last: Long =
      try {
        val in = fs.open(cp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => initialSeq }
    val tp = new Path(table)
    val tfs = tp.getFileSystem(conf)
    val cur = GraftOrcManifest.readSnapshot(tfs, tfs.makeQualified(tp),
        branch)
      .map(_.seq).getOrElse(0L)
    if (cur <= last) return None
    val df =
      if (pairKeys.nonEmpty)
        betweenPaired(spark, table, last, Some(cur), keys = pairKeys,
          branch = branch)
      else between(spark, table, last, Some(cur), branch = branch)
    Some(ChangeFeed(df, last, cur, () => {
      val tmp = new Path(cp.getParent,
        s".${cp.getName}.tmp-${java.util.UUID.randomUUID()}")
      fs.mkdirs(cp.getParent)
      val out = fs.create(tmp, true)
      try out.write(cur.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(cp, false)
      if (!fs.rename(tmp, cp))
        throw new java.io.IOException(
          s"graft-orc changelog: failed to advance checkpoint $cp")
    }))
  }

  /** Changes committed after snapshot `startSnapshotId` (exclusive — the
    * same base semantics as the incremental read's
    * `graft.start_snapshot_id`), up to `endSnapshotId` (inclusive;
    * default: the current snapshot).
    */
  /** [[between]] with update pairing: key columns from `keys` when
    * given, else the table's persisted `graft.key` property (set it via
    * TBLPROPERTIES('graft.key'='k1,k2')). Raises a typed error when
    * neither names a key — pairing without a row identity is undefined.
    */
  def betweenPaired(spark: SparkSession, table: String,
                    startSnapshotId: Long,
                    endSnapshotId: Option[Long] = None,
                    keys: Seq[String] = Nil,
                    branch: Option[String] = None): DataFrame = {
    val keyCols =
      if (keys.nonEmpty) keys
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new Path(table)
        val fs = p.getFileSystem(conf)
        GraftOrcManifest.readSnapshot(fs, fs.makeQualified(p))
          .flatMap(_.meta).map(_.props)
          .flatMap(_.collectFirst {
            case (k, v) if k.equalsIgnoreCase(KeyProp) =>
              v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          }).getOrElse(throw new IllegalArgumentException(
            s"graft-orc: paired changelog needs key columns — pass " +
              s"them, or persist TBLPROPERTIES('$KeyProp'='k1,k2') on " +
              s"$table"))
      }
    pairUpdates(between(spark, table, startSnapshotId, endSnapshotId,
      branch), keyCols)
  }

  def between(spark: SparkSession, table: String, startSnapshotId: Long,
              endSnapshotId: Option[Long] = None,
              branch: Option[String] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    val refs = GraftOrcManifest.listSnapshots(fs, qt, branch).getOrElse(
      throw new IllegalArgumentException(
        s"graft-orc: changelog requires a manifest table, but $table " +
          s"has no ${GraftOrcManifest.Dir} (write with " +
          ".option(\"graft.manifest\", \"true\") to establish one)"))
    val end = endSnapshotId.getOrElse(
      refs.lastOption.map(_.seq).getOrElse(0L))
    require(startSnapshotId <= end,
      s"graft-orc: changelog range is empty (start $startSnapshotId > " +
        s"end $end)")
    // start 0 = "since table creation": there is no snapshot 0 to read,
    // the walk starts from the empty state
    val have = refs.map(_.seq).toSet
    val missing = (math.max(startSnapshotId, 1L) to end).filterNot(have)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"graft-orc: changelog over ($startSnapshotId, $end] needs every " +
        s"snapshot in the range retained, but ${missing.mkString(", ")} " +
        (if (refs.isEmpty) "are gone" else
          s"expired (available: seqs ${refs.head.seq}..${refs.last.seq})") +
        "; raise graft.manifest.retain at write time to keep more history")

    // the table's logical columns (data + partition), for normalizing
    // per-file frames (schema evolution: columns absent in old files
    // read as NULL)
    // branch feeds normalize against the BRANCH head's schema (snapshot
    // addressing by id stays a main-lineage read option)
    val tableCols: StructType = (branch match {
      case Some(b) => spark.read.format("graft-orc")
        .option("graft.branch", b).load(table)
      case None => spark.read.format("graft-orc")
        .option("graft.snapshot_id", end.toString).load(table)
    }).schema

    val prefix = qt.toString.stripSuffix("/") + "/"

    def snapAt(seq: Long) =
      GraftOrcManifest.resolveSnapshot(fs, qt,
        GraftOrcManifest.Selector.ById(seq), branch)

    def posOnly(sidecars: Seq[OrcFileEntry]): Seq[OrcFileEntry] =
      sidecars.filterNot(e => GraftOrcEqDelete.isEqualitySidecar(e.path))
    def eqOnly(sidecars: Seq[OrcFileEntry]): Seq[OrcFileEntry] =
      sidecars.filter(e => GraftOrcEqDelete.isEqualitySidecar(e.path))

    // (absolute file, position) pairs of a POSITION sidecar set — its
    // deletion vectors decoded via GraftOrcMor.pairsDF.
    // Deliberate size-informed broadcast (guide §3.1): the manifest
    // already KNOWS the sidecar byte sizes, so when the set is small —
    // the overwhelmingly common commit-bounded case — hint broadcast on
    // the pairs side. Without the hint the planner starts every
    // pairs join as SMJ and AQE converts to BHJ only after materializing
    // a full exchange of BOTH sides (the data-file side's shuffle is
    // paid for nothing: 4 wasted exchange pairs per rl_cdc_* plan,
    // measured). A pathological delete wave past the threshold keeps
    // the planner's choice — the hint never risks an oversized build.
    //
    // The threshold gates the ESTIMATED DECODED pair bytes, not the
    // on-disk bytes: the broadcast builds a decoded (path string, pos)
    // hash relation at ~64 bytes per pair, and a dense deletion vector
    // packs up to 8 positions per payload byte (65536 ordinals in an
    // 8 KB bitmap container), so sidecar bytes are charged x512
    // (8 pairs/byte x 64 B/pair). A small DV set that would decode to
    // gigabytes keeps the planner's choice instead of a broadcast build
    // of that size.
    def decodedPairBytes(pos: Seq[OrcFileEntry]): Long =
      pos.map(_.length * 512L).sum

    // NO distinct on the pairs (r22, measured: one full hash exchange
    // per sidecar set, several per feed plan): every consumer is a
    // LEFT ANTI ([[minusPairs]]) or LEFT SEMI (delete images) against
    // this frame, and both are duplicate-insensitive — a re-recorded
    // pair changes nothing. The broadcast build dedups by key anyway.
    def pairsOf(sidecars: Seq[OrcFileEntry]): Option[DataFrame] = {
      val pos = posOnly(sidecars)
      GraftOrcMor.pairsDF(spark, pos).map { df =>
        val pairs = df.select(
          concat(lit(prefix), col("f")).as("__cdc_dfile"),
          col("pos").as("__cdc_dpos"))
        if (decodedPairBytes(pos) <= PairsBroadcastBytes)
          broadcast(pairs)
        else pairs
      }
    }

    // drop rows whose key tuple matches an EQUALITY sidecar newer than
    // the row's file (GraftOrcEqDelete applicability); file mtimes come
    // from the snapshot entries via the __cdc_file lineage column
    def minusEq(df: DataFrame, eqDels: Seq[OrcFileEntry],
                entries: Seq[OrcFileEntry]): DataFrame = {
      if (eqDels.isEmpty) return df
      import spark.implicits._
      val mtimes = entries.map(e => (e.path, e.mtime))
        .toDF("__cdc_file", "__cdc_mtime")
      var acc = df.join(broadcast(mtimes), Seq("__cdc_file"), "left")
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
            col("__cdc_mtime") < lit(sdel.mtime)))
          .drop("__eq_hit")
        keyCols.foreach(c => acc = acc.drop("__eqk_" + c))
      }
      acc.drop("__cdc_mtime")
    }

    // live rows of `files` AS OF the state `snap` describes: position
    // pairs subtracted, equality tuples subtracted per applicability
    def liveRows(files: Seq[OrcFileEntry],
                 snap: GraftOrcManifest.Snapshot): Option[DataFrame] =
      loadWithMeta(files).map(df =>
        minusEq(minusPairs(df, pairsOf(snap.deletes)),
          eqOnly(snap.deletes), snap.entries))

    // rows of `files` with bound partition values, normalized to
    // tableCols, plus (__cdc_file, __cdc_pos) lineage
    def loadWithMeta(files: Seq[OrcFileEntry]): Option[DataFrame] = {
      if (files.isEmpty) return None
      val frames = files.groupBy(_.partitionValues).toSeq.map {
        case (parts, fl) =>
          val raw = spark.read.format("graft-orc").load(fl.map(_.path): _*)
            .select(col("*"),
              col(GraftOrcDataSource.FileMetaCol).as("__cdc_file"),
              col(GraftOrcDataSource.PosMetaCol).as("__cdc_pos"))
          val bound = parts.foldLeft(raw) { case (df, (k, v)) =>
            val dt = tableCols.fields.collectFirst {
              case f if f.name.equalsIgnoreCase(k) => f.dataType
            }.getOrElse(StringType)
            df.withColumn(k, lit(v).cast(dt))
          }
          val cols: Seq[Column] = tableCols.fields.toSeq.map { f =>
            if (bound.columns.exists(_.equalsIgnoreCase(f.name)))
              col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }
          bound.select(cols :+ col("__cdc_file") :+ col("__cdc_pos"): _*)
      }
      Some(frames.reduce(_ unionByName _))
    }

    def minusPairs(df: DataFrame, pairs: Option[DataFrame]): DataFrame =
      pairs.fold(df)(pr => df.join(pr,
        df("__cdc_file") === pr("__cdc_dfile") &&
          df("__cdc_pos") === pr("__cdc_dpos"), "left_anti"))

    def dropMeta(df: DataFrame): DataFrame =
      df.drop("__cdc_file", "__cdc_pos")

    val changes = Seq.newBuilder[DataFrame]
    var parent =
      if (startSnapshotId <= 0L) GraftOrcManifest.Snapshot(0L, Nil)
      else snapAt(startSnapshotId)
    ((startSnapshotId + 1) to end).foreach { seq =>
      val child = snapAt(seq)
      // committer-recorded content-neutral rewrites read NOTHING
      if (!child.op.exists(o => o == "compact" || o == "purge")) {
        val pPaths = parent.entries.map(_.path).toSet
        val cPaths = child.entries.map(_.path).toSet
        val removed = parent.entries.filterNot(e => cPaths(e.path))
        val added = child.entries.filterNot(e => pPaths(e.path))
        val pDel = parent.deletes.map(_.path).toSet
        val newSidecars = child.deletes.filterNot(e => pDel(e.path))

        // merge-on-read deletes: rows of the referenced parent files hit
        // by the NEW sidecar positions (minus positions already deleted
        // at the parent — re-recorded pairs must not double-emit)
        val posNew = posOnly(newSidecars)
        if (posNew.nonEmpty) {
          val refRel = GraftOrcMor.pairsDF(spark, posNew).get
            .select("f").distinct().collect().map(_.getString(0)).toSet
          val refFiles = parent.entries.filter(e =>
            refRel(GraftOrcManifest.relativize(qt, e.path)))
          liveRows(refFiles, parent).zip(pairsOf(posNew)).foreach {
            case (freshOnly, fresh) =>
              val deleted = freshOnly.join(fresh,
                freshOnly("__cdc_file") === fresh("__cdc_dfile") &&
                  freshOnly("__cdc_pos") === fresh("__cdc_dpos"),
                "left_semi")
              changes += finalize(dropMeta(deleted), "delete", seq)
          }
        }

        // equality deletes (upserts, GraftOrcEqDelete): the delete
        // images are the parent's LIVE rows matching the new sidecar's
        // key tuples across every file older than it — PRUNED by the
        // sidecar's footer key ranges vs the manifest stat sidecars
        // (same rule as purge/scan: only files that can hold an
        // affected tuple are read). A single-column key with a small
        // set additionally pushes an IN filter, so surviving files
        // still prune by stripe range/bloom.
        eqOnly(newSidecars).foreach { sdel =>
          val kr = GraftOrcEqDelete.keyRangesOf(conf, sdel.path)
          val affected = parent.entries.filter(e =>
            e.mtime < sdel.mtime &&
              GraftOrcEqDelete.mayHoldKeys(e.stats, kr))
          liveRows(affected, parent).foreach { live0 =>
            val keys = spark.read.orc(sdel.path).distinct()
            val keyCols = keys.columns.toSeq
            val live = keyCols match {
              case Seq(single) =>
                val vals = keys.limit(10001).collect()
                if (vals.length <= 10000)
                  live0.filter(col(single).isInCollection(
                    vals.map(_.get(0)).toSeq))
                else live0
              case _ => live0
            }
            val renamed = keys.toDF(keyCols.map("__eqk_" + _): _*)
            val cond = keyCols.map(c =>
              live(c) === renamed("__eqk_" + c)).reduce(_ && _)
            val deleted = live.join(broadcast(renamed), cond, "left_semi")
            changes += finalize(dropMeta(deleted), "delete", seq)
          }
        }

        // file swaps: multiset net-diff; pure appends short-circuit.
        // Removed files' live rows subtract the PARENT's full delete
        // state (positions + applicable equality tuples); added files
        // are newer than any pre-existing equality sidecar by the stamp
        // order, so only the child's position pairs can touch them.
        val removedLive = liveRows(removed, parent).map(dropMeta)
        val addedRows = loadWithMeta(added)
          .map(df => dropMeta(minusPairs(df, pairsOf(child.deletes))))
        (removedLive, addedRows) match {
          case (None, Some(ins)) =>
            changes += finalize(ins, "insert", seq)
          case (Some(del), None) =>
            changes += finalize(del, "delete", seq)
          case (Some(del), Some(ins)) =>
            changes += finalize(del.exceptAll(ins), "delete", seq)
            changes += finalize(ins.exceptAll(del), "insert", seq)
          case (None, None) => ()
        }
      }
      parent = child
    }
    val out = changes.result()
    if (out.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(tableCols.fields ++ Seq(
          StructField(ChangeTypeCol, StringType, nullable = false),
          StructField(ChangeSeqCol, LongType, nullable = false))))
    else out.reduce(_ unionByName _)
  }

  private def finalize(df: DataFrame, kind: String, seq: Long): DataFrame =
    df.withColumn(ChangeTypeCol, lit(kind))
      .withColumn(ChangeSeqCol, lit(seq))
}

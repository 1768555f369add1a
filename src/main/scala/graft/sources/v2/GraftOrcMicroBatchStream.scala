package graft.sources.v2

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}

/** Micro-batch streaming source over a graft-orc directory: the directory
  * IS the stream, and each batch covers the files that appeared since the
  * previous watermark.
  *
  * Offset = the (mtime, path) key of the newest file consumed so far.
  * Files sort by that key, so a batch is the half-open key interval
  * (start, end]; the ordering is total (path tiebreak) and stable across
  * listings, which makes replanning a committed batch after restart
  * deterministic. Assumes the append-only immutable-file discipline every
  * directory-as-table layout needs (the reference's listing tables make
  * the same assumption): a writer that backdates mtimes below the
  * consumed watermark would be skipped — use the graft-orc SINK, whose
  * commit explicitly stamps each staged file with a strictly increasing
  * mtime and publishes whole waves atomically (one directory rename per
  * partition), so a listing taken mid-commit sees a stamp-prefix of the
  * commit and never drops a file.
  *
  * Admission control ([[SupportsAdmissionControl]]): a `maxFilesPerTrigger`
  * read option caps each batch, so a large backfill drains as bounded
  * micro-batches instead of one giant one. `maxBytesPerTrigger`
  * additionally caps the admitted bytes (always admitting at least one
  * file so the stream can progress past any single oversized file) —
  * the DSv2 `ReadLimit` vocabulary has no bytes variant, so the byte cap
  * applies inside `latestOffset`, exactly how Spark's own
  * `FileStreamSource` implements the same option. The listing is taken
  * ONCE per trigger — `latestOffset` caches it and `planInputPartitions`
  * for the same end offset reuses it rather than re-listing the
  * directory.
  *
  * Static partition filters (pushed at plan time) keep pruning per batch;
  * the scan's column pruning and SARG compilation apply unchanged because
  * the reader factory is the batch one. Files are NOT stripe-split here:
  * a micro-batch is latency-bound, not throughput-bound, and whole files
  * keep offsets trivially replayable.
  */
class GraftOrcMicroBatchStream(scan: GraftOrcScan, paths: Seq[String],
                               conf: Configuration,
                               maxFilesPerTrigger: Option[Int] = None,
                               maxBytesPerTrigger: Option[Long] = None,
                               snapshotOffsets: Boolean = false,
                               onRewrite: String = "replay",
                               branch: Option[String] = None,
                               startSnapshotId: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  // branch-scoped stream (`graft.branch` on readStream): the per-trigger
  // listing resolves the BRANCH head — the WAP audit loop tails the
  // staged lineage exactly like batch reads already can; main commits
  // after the fork never enter the feed
  private def listing(): Seq[OrcFileEntry] =
    scan.pruneEntries(
      new GraftOrcFileIndex(conf, paths,
        snapshot = branch.map(GraftOrcManifest.Selector.ByBranch(_))).entries,
      scan.staticPartitionFilters)
      .sortBy(e => (e.mtime, e.path))

  private def after(e: OrcFileEntry, o: GraftOrcStreamOffset): Boolean =
    e.mtime > o.mtime || (e.mtime == o.mtime && e.path > o.path)

  // one listing per trigger: latestOffset snapshots (listing, end) and
  // planInputPartitions for that same end reuses it
  @volatile private var cached: (GraftOrcStreamOffset, Seq[OrcFileEntry]) = null

  // ---- snapshot-offset mode (graft.snapshot_offsets on a manifest table):
  // the offset is the consumed manifest snapshot SEQ, and each batch is
  // the file diff between two retained snapshots — the same diffing the
  // batch `graft.start_snapshot_id` incremental read uses. A snapshot seq
  // is a cleaner exactly-once watermark than (mtime, path): commit order
  // is explicit in the metadata log, so no clock is trusted at all, and a
  // listing can never observe a half-published wave. Retention bounds the
  // restart window: resuming from an EXPIRED seq fails with the typed
  // not-retained error (raise graft.manifest.retain to widen it).
  // Rewrite note (same contract as the batch incremental read): ANY
  // copy-on-write snapshot — compaction, DELETE, UPDATE, MERGE — removes
  // files and re-adds their surviving rows under new paths, and a
  // path-set diff cannot tell a rewritten row from an appended one. The
  // `graft.stream.on_rewrite` option picks the policy when the diff walk
  // meets such a snapshot (detected structurally: it REMOVES paths
  // present in its parent):
  //   - "replay" (default): the new files flow through; surviving rows
  //     of rewritten files appear again — dedup downstream, or schedule
  //     compaction/row-level ops outside the stream's retention window;
  //   - "fail": stop the stream with a typed error naming the snapshot
  //     (the Iceberg-default posture for append-only consumers);
  //   - "skip": drop the non-append snapshot's files from the feed
  //     entirely (its paths still advance the consumed watermark, so a
  //     later append cannot resurrect them) — NOTE rows INSERTED by
  //     MERGE or appended in the same commit as a rewrite are skipped
  //     with it; use only for feeds that treat rewrites as noise.

  private lazy val manifestTable: Path = {
    require(paths.length == 1,
      "graft-orc: graft.snapshot_offsets requires a single table path, " +
        s"got ${paths.length}")
    val p = new Path(paths.head)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    require(GraftOrcManifest.exists(fs, qt),
      s"graft-orc: graft.snapshot_offsets requires a manifest table, but " +
        s"$p has no ${GraftOrcManifest.Dir} (write with " +
        ".option(\"graft.manifest\", \"true\") to establish one)")
    qt
  }

  require(Set("replay", "fail", "skip")(onRewrite),
    "graft-orc: invalid value '" + onRewrite + "' for option " +
      "'graft.stream.on_rewrite', must be one of replay, fail, skip")

  /** One diff-walk step's admitted files under the on_rewrite policy:
    * pass-through for pure appends; for a non-append snapshot (removes
    * parent paths, OR changes the merge-on-read position-delete sidecar
    * set — already-emitted rows are not retractable, [[GraftOrcMor]]),
    * replay passes the fresh files, fail throws, skip drops them.
    */
  private def policyFiles(seq: Long, isAppend: Boolean,
                          fresh: Seq[OrcFileEntry]): Seq[OrcFileEntry] = {
    if (isAppend || onRewrite == "replay") fresh
    else if (onRewrite == "skip") Nil
    else throw new IllegalStateException(
      s"graft-orc: manifest snapshot $seq of $manifestTable is not " +
        "append-only (a compaction or copy-on-write DELETE/UPDATE/MERGE " +
        "removed files, or a merge-on-read DELETE changed the " +
        "position-delete sidecars); graft.stream.on_rewrite=fail stops " +
        "the stream here. Set the option to 'replay' to re-emit " +
        "surviving rows or 'skip' to drop this snapshot's files from " +
        "the feed.")
  }

  private def snapshotAt(seq: Long): GraftOrcManifest.Snapshot =
    if (seq == 0L) GraftOrcManifest.Snapshot(0L, Nil)
    else GraftOrcManifest.resolveSnapshot(
      manifestTable.getFileSystem(conf), manifestTable,
      GraftOrcManifest.Selector.ById(seq), branch)

  private def snapshotEntries(seq: Long): Seq[OrcFileEntry] =
    snapshotAt(seq).entries

  private def snapshotSeqOf(start: Offset): Long = start match {
    case o: GraftOrcSnapshotOffset => o.seq
    case o => throw new IllegalStateException(
      "graft-orc: graft.snapshot_offsets is set but the checkpoint holds " +
        s"a (mtime, path) offset ($o); snapshot offsets need a fresh " +
        "checkpoint (or unset the option to keep consuming by mtime)")
  }

  // trigger-scoped cache, same discipline as the listing cache
  @volatile private var cachedSnap: (GraftOrcSnapshotOffset, Seq[OrcFileEntry]) = null
  @volatile private var newestSeenSeq: Long = 0L

  private def latestSnapshotOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = snapshotSeqOf(start)
    val fs = manifestTable.getFileSystem(conf)
    val refs = GraftOrcManifest.listSnapshots(fs, manifestTable, branch)
      .getOrElse(Nil).filter(_.seq > s)
    newestSeenSeq = refs.lastOption.map(_.seq).getOrElse(s)
    if (refs.isEmpty) {
      cachedSnap = (GraftOrcSnapshotOffset(s), Nil)
      return start
    }
    val maxFiles = limit match {
      case m: ReadMaxFiles => Some(m.maxFiles())
      case _ => None
    }
    // admission control at snapshot granularity: walk the pending
    // snapshots in commit order, admitting each one's appended files,
    // until a cap is crossed — but always at least ONE snapshot, so the
    // stream can progress past any oversized commit. A snapshot that
    // REMOVES paths present in its parent is a rewrite (compaction /
    // DELETE / UPDATE / MERGE) and goes through the on_rewrite policy.
    val startSnap = snapshotAt(s)
    var prevPaths = startSnap.entries.map(_.path).toSet
    var prevDels = startSnap.deletes.map(_.path).toSet
    var consumed = prevPaths
    var admitted = Vector.empty[OrcFileEntry]
    var endSeq = s
    var bytes = 0L
    refs.iterator.takeWhile { ref =>
      val snap = GraftOrcManifest.resolveSnapshot(fs, manifestTable,
        GraftOrcManifest.Selector.ById(ref.seq), branch)
      val cur = snap.entries
      val curPaths = cur.map(_.path).toSet
      val curDels = snap.deletes.map(_.path).toSet
      val fresh0 = cur.filterNot(e => consumed(e.path))
      // fail policy: a rewrite snapshot first ENDS the in-flight batch so
      // appends committed before it are still delivered; only when it
      // heads the batch (nothing admitted yet) does the stream stop with
      // the typed error — the Iceberg posture
      val isAppend = prevPaths.subsetOf(curPaths) && curDels == prevDels
      if (!isAppend && onRewrite == "fail" && endSeq != s) false
      else {
        val fresh = policyFiles(ref.seq, isAppend, fresh0)
        val over = endSeq != s &&
          (maxFiles.exists(cap => admitted.size + fresh.size > cap) ||
            maxBytesPerTrigger.exists(cap =>
              bytes + fresh.map(_.length).sum > cap))
        if (!over) {
          admitted ++= fresh
          // skipped files still advance the consumed watermark, so a later
          // append cannot resurrect them
          consumed ++= fresh0.map(_.path)
          bytes += fresh.map(_.length).sum
          prevPaths = curPaths
          prevDels = curDels
          endSeq = ref.seq
        }
        !over
      }
    }.foreach(_ => ())
    val end = GraftOrcSnapshotOffset(endSeq)
    cachedSnap = (end,
      scan.pruneEntries(admitted, scan.staticPartitionFilters))
    end
  }

  require(startSnapshotId.isEmpty || snapshotOffsets,
    "graft-orc: graft.stream.start_snapshot_id requires " +
      "graft.snapshot_offsets=true (the mtime-offset mode has no " +
      "snapshot watermark to seed)")

  override def initialOffset(): Offset =
    if (snapshotOffsets)
      // seed a FRESH checkpoint past already-processed history (the
      // batch incremental read's graft.start_snapshot_id, for streams):
      // 0 = replay the whole retained history; the seed must itself be
      // a retained (or 0) snapshot — the first latestOffset call
      // resolves diffs against it and raises the typed not-retained
      // error otherwise. Ignored once a checkpoint exists (Spark only
      // calls initialOffset when none does).
      GraftOrcSnapshotOffset(startSnapshotId.getOrElse(0L))
    else GraftOrcStreamOffset(-1L, "")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    if (snapshotOffsets) return latestSnapshotOffset(start, limit)
    val s = start.asInstanceOf[GraftOrcStreamOffset]
    val l = listing()
    val pending = l.filter(e => after(e, s))
    val fileCapped = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles())
      case _ => pending
    }
    val admitted = maxBytesPerTrigger match {
      case Some(cap) =>
        // admit files until the cap is crossed, never zero files — keyed
        // off the INDEX, not accumulated bytes (a zero-length first file
        // would otherwise make the next file look "first" and ride past
        // the cap unconditionally)
        var bytes = 0L
        fileCapped.zipWithIndex.takeWhile { case (e, i) =>
          bytes += e.length
          i == 0 || bytes <= cap
        }.map(_._1)
      case None => fileCapped
    }
    val end =
      if (admitted.isEmpty) s
      else GraftOrcStreamOffset(admitted.last.mtime, admitted.last.path)
    cached = (end, l)
    end
  }

  override def reportLatestOffset(): Offset = {
    if (snapshotOffsets) return GraftOrcSnapshotOffset(newestSeenSeq)
    val c = cached
    if (c == null || c._2.isEmpty) initialOffset()
    else GraftOrcStreamOffset(c._2.last.mtime, c._2.last.path)
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    if (snapshotOffsets) {
      val e = end.asInstanceOf[GraftOrcSnapshotOffset]
      val c = cachedSnap
      val files =
        if (c != null && c._1 == e) c._2
        else {
          // replanning a committed batch after restart: re-diff the two
          // retained snapshots (both must still be within retention).
          // Under a non-replay on_rewrite policy the endpoint diff is not
          // enough — re-walk the intermediate snapshots in commit order
          // so skipped rewrite snapshots drop the same files they did
          // when the batch was first planned (admission never splits a
          // snapshot, so the uncapped walk reproduces the capped one).
          val sSeq = snapshotSeqOf(start)
          val picked =
            if (onRewrite == "replay") {
              val startPaths = snapshotEntries(sSeq).map(_.path).toSet
              snapshotEntries(e.seq).filterNot(f => startPaths(f.path))
            } else {
              val fs = manifestTable.getFileSystem(conf)
              val refs = GraftOrcManifest.listSnapshots(fs, manifestTable,
                  branch)
                .getOrElse(Nil).filter(r => r.seq > sSeq && r.seq <= e.seq)
              val startSnap = snapshotAt(sSeq)
              var prevPaths = startSnap.entries.map(_.path).toSet
              var prevDels = startSnap.deletes.map(_.path).toSet
              var consumed = prevPaths
              var admitted = Vector.empty[OrcFileEntry]
              refs.foreach { ref =>
                val snap = snapshotAt(ref.seq)
                val cur = snap.entries
                val curPaths = cur.map(_.path).toSet
                val curDels = snap.deletes.map(_.path).toSet
                val fresh0 = cur.filterNot(f => consumed(f.path))
                val isAppend = prevPaths.subsetOf(curPaths) &&
                  curDels == prevDels
                admitted ++= policyFiles(ref.seq, isAppend, fresh0)
                consumed ++= fresh0.map(_.path)
                prevPaths = curPaths
                prevDels = curDels
              }
              admitted
            }
          scan.pruneEntries(picked, scan.staticPartitionFilters)
        }
      return scan.packForStream(
        files.map(f => GraftOrcInputPartition(f.path, 0, f.length,
          scan.partValuesFor(f), f.length, schemaV = f.schemaV)))
    }
    val s = start.asInstanceOf[GraftOrcStreamOffset]
    val e = end.asInstanceOf[GraftOrcStreamOffset]
    val c = cached
    val l = if (c != null && c._1 == e) c._2 else listing()
    scan.packForStream(l.filter(f => after(f, s) && !after(f, e))
      .map(f => GraftOrcInputPartition(f.path, 0, f.length,
        scan.partValuesFor(f), f.length, schemaV = f.schemaV)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.streamReaderFactory()

  override def deserializeOffset(json: String): Offset = {
    val node = new ObjectMapper().readTree(json)
    if (node.has("snapshot_seq"))
      GraftOrcSnapshotOffset(node.get("snapshot_seq").asLong())
    else
      GraftOrcStreamOffset(node.get("mtime").asLong(),
        node.get("path").asText())
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Watermark offset: the (mtime, path) key of the newest consumed file. */
case class GraftOrcStreamOffset(mtime: Long, path: String) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("mtime", mtime)
    node.put("path", path)
    m.writeValueAsString(node)
  }
}

/** Snapshot-offset mode watermark: the newest consumed manifest snapshot
  * seq (0 = nothing consumed yet).
  */
case class GraftOrcSnapshotOffset(seq: Long) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("snapshot_seq", seq)
    m.writeValueAsString(node)
  }
}

package graft.sources.v2

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.orc.GraftOrcShims
import org.apache.spark.sql.types.StructType

/** One discovered ORC data file. `partitionValues` holds the raw (unescaped)
  * hive-layout `k=v` values found on the file's directory path, in path
  * order (outermost directory first — the BFS builds a `ListMap`, whose
  * iteration order is insertion order at ANY size; a plain immutable `Map`
  * only guarantees that up to 4 entries); a `__HIVE_DEFAULT_PARTITION__`
  * value is mapped to null.
  */
/** `stats` is an optional footer-statistics sidecar
  * ([[OrcStatsEval.sidecarOf]]) carried by manifest entries so plan-time
  * row counts / CBO column stats need no footer reads; None on
  * BFS-listed entries and pre-sidecar snapshots (the scan then reads the
  * footer as before). `schemaV` is the table schema version the file was
  * written under ([[GraftOrcSchema]] evolution); 0 on BFS-listed entries
  * and pre-evolution snapshots ("bootstrap": the file carries every
  * original field under its original name).
  */
case class OrcFileEntry(path: String, length: Long,
                        partitionValues: Map[String, String],
                        mtime: Long = 0L,
                        stats: Option[String] = None,
                        schemaV: Long = 0L,
                        specV: Long = -1L) {
  /** The schema version whose PARTITION SPEC governs this file's
    * directory layout ([[GraftOrcPartitionSpec.specForVersion]]).
    * Normally the write version (`schemaV` — the common case, encoded as
    * specV = -1 = "same"), but a purge/CoW-DELETE rewrite that projects
    * CONTENT to the current schema while preserving the input group's
    * original directories has no single correct schemaV: its columns are
    * current-version, its layout is frozen at the input's spec. Such
    * rewrites record the frozen layout version here — the per-file
    * `spec_id` of Iceberg's spec-evolution model, collapsed onto the
    * schema-version axis (graft activates specs at schema versions, so a
    * version number identifies a spec).
    */
  def layoutV: Long = if (specV >= 0) specV else schemaV
}

/** Driver-side file discovery for the graft-orc connector.
  *
  * Two properties the reference enforces that a naive listing lacks:
  *  - hive-partition layouts (`.../k=v/...`) are discovered recursively and
  *    the `k=v` pairs surfaced per file (reference materializes
  *    `partition_fields` per file: src/opener.rs:59, src/source.rs:171);
  *  - metadata operations are bounded-concurrency, never one-by-one on the
  *    driver (reference `meta_fetch_concurrency`: src/file_format.rs:146-155).
  *    Listing is breadth-first with each directory wave listed in parallel,
  *    so a 100k-file tree costs O(depth) round-trip waves, not 100k
  *    sequential RPCs.
  */
class GraftOrcFileIndex(conf: Configuration, roots: Seq[String],
                        snapshot: Option[GraftOrcManifest.Selector] = None,
                        changesFromSnapshot: Option[Long] = None,
                        ignoreManifest: Boolean = false,
                        onRewrite: String = "replay") {

  require(Set("replay", "fail", "skip")(onRewrite),
    "graft-orc: invalid value '" + onRewrite + "' for option " +
      "'graft.on_rewrite', must be one of replay, fail, skip")

  lazy val entries: Seq[OrcFileEntry] = listed._1

  /** Persisted table metadata ([[GraftOrcSchema]] evolution) of the
    * RESOLVED snapshot — the addressed one under time travel, so an old
    * snapshot reads under ITS schema. None for BFS/directory tables,
    * multi-root reads, and manifests that never persisted a schema.
    */
  lazy val tableMeta: Option[GraftOrcManifest.TableMeta] =
    if (roots.length != 1) None else listed._3

  /** Live position-delete sidecars ([[GraftOrcMor]]) of the resolved
    * snapshot, paired with their table root (qualified — the prefix that
    * turns the sidecar's relative data paths back into the absolute paths
    * the scan plans). Empty for BFS/directory tables, non-manifest roots,
    * and INCREMENTAL reads (a snapshot-range read admits files from
    * append snapshots; MoR deletes on them are policy events — see the
    * `graft.on_rewrite` classification below — not row filters).
    */
  lazy val deleteEntries: Seq[(OrcFileEntry, String)] = listed._2

  private lazy val listed
      : (Seq[OrcFileEntry], Seq[(OrcFileEntry, String)],
         Option[GraftOrcManifest.TableMeta]) = {
    // BFS frontier of (directory, partition values accumulated on its
    // path). ListMap so key iteration order stays path order past the
    // 4-entry specialization of immutable.Map (partitionColumnNames
    // depends on it); depth is bounded by directory nesting, so the O(n)
    // ListMap update never matters.
    var frontier: Seq[(Path, Map[String, String])] = Nil
    val out = Seq.newBuilder[OrcFileEntry]
    val dels = Seq.newBuilder[(OrcFileEntry, String)]
    var meta: Option[GraftOrcManifest.TableMeta] = None
    roots.foreach { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        // a manifest table's snapshot IS the listing — one file read
        // replaces the whole BFS, and unmanifested files (staged, crash
        // leftovers) stay invisible by construction. Time travel /
        // incremental reads resolve against the retained history here.
        val snapOpt = if (ignoreManifest) None
          else GraftOrcManifest.readSnapshot(fs, p)
        snapOpt match {
          case Some(newest) =>
            val end = snapshot match {
              case None => newest
              case Some(sel) => GraftOrcManifest.resolveSnapshot(fs, p, sel)
            }
            meta = end.meta
            if (changesFromSnapshot.isEmpty)
              dels ++= end.deletes.map(_ -> fs.makeQualified(p).toString)
            out ++= (changesFromSnapshot match {
              case None => end.entries
              case Some(startSeq) =>
                require(startSeq <= end.seq,
                  s"graft-orc: graft.start_snapshot_id $startSeq is newer " +
                    s"than the read snapshot ${end.seq} of $p")
                // appended = in the end snapshot but not the start one;
                // start 0 = "before the first snapshot" (first consumption
                // of an incremental feed): everything is new. A snapshot
                // that REMOVES parent paths is a copy-on-write rewrite
                // (compaction, DELETE, UPDATE, MERGE); `graft.on_rewrite`
                // picks the policy — replay (default): rewritten files'
                // surviving rows reappear as appends; fail: typed error;
                // skip: the rewrite's files drop from the feed (their
                // paths still count as consumed).
                val startSnap = if (startSeq == 0L) None
                  else Some(GraftOrcManifest.resolveSnapshot(fs, p,
                    GraftOrcManifest.Selector.ById(startSeq)))
                val startPaths =
                  startSnap.map(_.entries.map(_.path).toSet)
                    .getOrElse(Set.empty[String])
                if (onRewrite == "replay")
                  end.entries.filterNot(e => startPaths(e.path))
                else {
                  // per-snapshot walk, same classification as the
                  // snapshot-offset stream's diff walk. A snapshot that
                  // removes parent paths is a copy-on-write rewrite;
                  // one that changes the DELETE-SIDECAR set is a
                  // merge-on-read mutation (rows already admitted are
                  // not retractable) — both are non-append events.
                  val refs = GraftOrcManifest.listSnapshots(fs, p)
                    .getOrElse(Nil)
                    .filter(rf => rf.seq > startSeq && rf.seq <= end.seq)
                  var prevPaths = startPaths
                  var prevDels =
                    startSnap.map(_.deletes.map(_.path).toSet)
                      .getOrElse(Set.empty[String])
                  var consumed = startPaths
                  val admitted = Seq.newBuilder[OrcFileEntry]
                  refs.foreach { ref =>
                    val snap = GraftOrcManifest.resolveSnapshot(fs, p,
                      GraftOrcManifest.Selector.ById(ref.seq))
                    val cur = snap.entries
                    val curPaths = cur.map(_.path).toSet
                    val curDels = snap.deletes.map(_.path).toSet
                    val fresh = cur.filterNot(e => consumed(e.path))
                    val isAppend = prevPaths.subsetOf(curPaths) &&
                      curDels == prevDels
                    if (isAppend) admitted ++= fresh
                    else if (onRewrite == "fail")
                      throw new IllegalStateException(
                        s"graft-orc: manifest snapshot ${ref.seq} of $p " +
                          "is not append-only (a compaction or " +
                          "copy-on-write DELETE/UPDATE/MERGE removed " +
                          "files, or a merge-on-read DELETE changed the " +
                          "position-delete sidecars); " +
                          "graft.on_rewrite=fail stops the " +
                          "incremental read here. Use 'replay' to " +
                          "re-emit surviving rows or 'skip' to drop " +
                          "this snapshot's files.")
                    // skip: fresh files dropped, but marked consumed
                    consumed ++= fresh.map(_.path)
                    prevPaths = curPaths
                    prevDels = curDels
                  }
                  // every admitted file is referenced by a RETAINED
                  // snapshot in the walked range, so it is still on disk
                  // (vacuum only removes files no retained snapshot
                  // references) — appends later compacted inside the
                  // range are delivered from their ORIGINAL files, the
                  // same rows the stream's skip policy delivered before
                  // the rewrite existed. Skip therefore shows PRE-rewrite
                  // content for rows a later rewrite changed; that is the
                  // documented nature of skip.
                  admitted.result()
                }
            })
          case None =>
            require(ignoreManifest ||
              (snapshot.isEmpty && changesFromSnapshot.isEmpty),
              s"graft-orc: time travel options require a manifest table, " +
                s"but $p has no ${GraftOrcManifest.Dir} (write with " +
                ".option(\"graft.manifest\", \"true\") to establish one)")
            frontier +:=
              (p, scala.collection.immutable.ListMap.empty[String, String])
        }
      } else {
        require(snapshot.isEmpty && changesFromSnapshot.isEmpty,
          s"graft-orc: time travel options apply to manifest tables, not " +
            s"single files ($p)")
        out += OrcFileEntry(st.getPath.toString, st.getLen, Map.empty,
          st.getModificationTime)
      }
    }
    while (frontier.nonEmpty) {
      val listed: Seq[(Seq[FileStatus], Map[String, String])] =
        GraftOrcFileIndex.parallelMap(frontier) {
          case (dir, parts) =>
            (dir.getFileSystem(conf).listStatus(dir).toSeq, parts)
        }
      frontier = Nil
      listed.foreach { case (children, parts) =>
        children.foreach { c =>
          val name = c.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            if (c.isDirectory) {
              val nextParts = GraftOrcFileIndex.parsePartitionSegment(name)
                .map { case (k, v) => parts + (k -> v) }.getOrElse(parts)
              frontier +:= (c.getPath, nextParts)
            } else if (name.endsWith(".orc")) {
              out += OrcFileEntry(c.getPath.toString, c.getLen, parts,
                c.getModificationTime)
            }
          }
        }
      }
    }
    (out.result(), dels.result(), meta)
  }

  /** Partition column names in path order (outermost first), taken from the
    * deepest-keyed file (all files in a consistent hive layout share it).
    */
  lazy val partitionColumnNames: Seq[String] =
    if (entries.isEmpty) Nil
    else entries.map(_.partitionValues.keys.toSeq).maxBy(_.length)

  /** Typed partition columns of a hive layout, from the listed files'
    * directories alone (Spark's path-based partition typing, the roots as
    * base paths — a file root stops at its parent, as in Spark's file
    * index), so no second listing and no Spark job. Empty when no file
    * sits under a `k=v` directory.
    */
  def partitionSchema(spark: SparkSession): StructType = {
    val bases = roots.map { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      val q = fs.makeQualified(p)
      if (fs.getFileStatus(q).isDirectory) q else q.getParent
    }.toSet
    GraftOrcShims.partitionSchema(spark,
      entries.map(e => new Path(e.path).getParent).distinct, bases)
  }
}

object GraftOrcFileIndex {
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Parse one `k=v` path segment; None for plain directories. */
  def parsePartitionSegment(name: String): Option[(String, String)] = {
    val i = name.indexOf('=')
    if (i <= 0) None
    else {
      val raw = unescapePathName(name.substring(i + 1))
      Some(name.substring(0, i) ->
        (if (raw == HiveDefaultPartition) null else raw))
    }
  }

  /** Reverse hive path escaping (`%2F` etc.) the writer applies to special
    * characters in partition values.
    */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Concurrent metadata requests (listing waves, footer reads) per
    * [[parallelMap]] — one bound for every caller, like the reference's
    * `meta_fetch_concurrency` (src/file_format.rs:146-155).
    */
  private val MetaParallelism = 32

  /** Bounded-parallelism map over driver-side metadata items (listing
    * waves, footer reads): at most [[MetaParallelism]] at once.
    * Propagates the first failure; always tears the pool down.
    */
  def parallelMap[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    if (items.length == 1) return items.map(f)
    val pool = Executors.newFixedThreadPool(
      math.min(MetaParallelism, items.length))
    try {
      val futures = items.map(a => pool.submit(new Callable[B] {
        override def call(): B = f(a)
      }))
      futures.map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
  }
}

package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}

/** Opt-in manifest commit for graft-orc tables — the metadata-log upgrade
  * the writer and compactor docs point at for object stores (the
  * Iceberg/Delta-lite pattern, reduced to its core: ONE atomic file
  * defines the table).
  *
  * Layout: `<table>/_graft_manifest/snap-<seq20>-<uuid>.json`, where each
  * snapshot is the COMPLETE file listing (JSON-lines of table-relative
  * path, length, publish mtime). A commit stages data exactly as before,
  * then writes the next snapshot to a dot-temp name and renames it into
  * place — one atomic metadata operation, after which (and only after
  * which) readers observe the new files. The `_`-prefix keeps the whole
  * directory invisible to BFS listings.
  *
  * What this buys over pure directory tables:
  *  - **No partial-COMMIT window**: a crash between two wave renames
  *    leaves staged-but-unmanifested files that readers never see (the
  *    directory protocol exposes whichever waves landed).
  *  - **No rename-is-a-copy exposure**: on S3A-style stores the wave
  *    rename is a copy loop; manifest readers only flip to the new state
  *    at the single snapshot rename (a one-file PUT).
  *  - **No compaction duplicate window**: the compactor publishes merged
  *    outputs, then commits one snapshot that swaps inputs for outputs —
  *    at no instant does a manifest reader see a row twice. A crash
  *    mid-sequence leaves invisible garbage (vacuumable), never
  *    duplicates.
  *  - **Time travel**: every retained snapshot stays readable —
  *    `.option("graft.snapshot_id", n)` / `.option("graft.as_of_timestamp",
  *    ts)` address history, `.option("graft.start_snapshot_id", n)` reads
  *    incrementally (files appended since snapshot n). Truncates and
  *    compactions only UNREFERENCE files; the bytes die at snapshot
  *    expiry ([[writeSnapshot]]), so a retained snapshot never dangles.
  *    History depth is the per-commit `graft.manifest.retain` (default
  *    [[RetainSnapshots]]); [[vacuum]] sweeps crash garbage no snapshot
  *    references.
  *
  * Mode activation: a write with `.option("graft.manifest", "true")`
  * establishes the manifest (bootstrapping existing files via one BFS
  * listing); once `_graft_manifest/` exists, EVERY later commit —
  * writer, streaming epoch, compactor, whatever its options — updates it,
  * because a manifest reader would otherwise silently lose the new files.
  *
  * Scale shape: each snapshot is O(live files) lines of ~100 bytes —
  * fine through the ~100k-file range a compacted table stays in; the
  * compactor is what keeps that bound (a delta log would amortize writes
  * further but needs log replay + checkpointing; out of scope, like
  * Iceberg's manifest-reuse tree). Snapshot history is pruned to the
  * newest retain count, which is PERSISTED in the snapshot header — the
  * last explicit `graft.manifest.retain` governs every later commit
  * (including compaction) until overridden, so a compact can never
  * silently shrink the time-travel history a writer configured.
  * Concurrent commits to ONE table are detected, not merged:
  * [[writeSnapshot]] refuses a seq that already has a committed snapshot
  * (pre-rename occupancy check), and after its own publish rename
  * re-lists and verifies it is the seq's lexicographic winner; a loser
  * deletes its own snapshot and throws
  * `ConcurrentModificationException` — the WRITER then retries the
  * append on top of the winner (GraftOrcWrite's optimistic commit loop),
  * so concurrent appends serialize instead of failing. The residual
  * exposure is two publishes interleaving inside one list->rename
  * window (at least one side still fails loudly); a true multi-writer
  * story needs a conditional-rename/CAS store primitive.
  */
object GraftOrcManifest {
  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.sources.v2.GraftOrcManifest")
  private[v2] val Dir = "_graft_manifest"
  private val SnapPrefix = "snap-"
  private[graft] val RetainSnapshots = 3

  /** Persisted table metadata ([[GraftOrcSchema]] evolution +
    * [[GraftOrcCatalog]] DDL): the CURRENT table schema (field IDs,
    * rename history and added-versions in the field metadata), the
    * schema version the next data file is stamped with, the declared
    * partition columns, and catalog table properties. None on tables
    * that never persisted a schema (pre-evolution manifests, plain
    * directory-established manifests) — those keep inferring from
    * footers exactly as before.
    */
  case class TableMeta(schemaV: Long,
                       schema: org.apache.spark.sql.types.StructType,
                       parts: Seq[String],
                       props: Map[String, String])

  /** `retain` is the snapshot-header retention setting (None on
    * pre-header snapshots) — the persisted policy the NEXT commit
    * inherits unless its writer overrides it explicitly. `deletes` are
    * the snapshot's live position-delete sidecars (merge-on-read DELETE,
    * [[GraftOrcMor]]): plain ORC files of (data-file relative path, row
    * position) pairs under `_graft_deletes/` that readers subtract at
    * scan time; empty on tables that never ran a MoR delete. `meta` is
    * the persisted table metadata (schema evolution / catalog DDL),
    * inherited by every later commit until a DDL replaces it.
    */
  case class Snapshot(seq: Long, entries: Seq[OrcFileEntry],
                      retain: Option[Int] = None,
                      deletes: Seq[OrcFileEntry] = Nil,
                      op: Option[String] = None,
                      meta: Option[TableMeta] = None,
                      segs: Seq[Segment] = Nil)

  /** One immutable manifest SEGMENT: a write-once sibling file of the
    * snapshot files holding a batch of entry lines (same format), which
    * snapshot files reference by name instead of inlining — so an
    * APPEND commit serializes only its added entries plus the ref lines
    * (O(adds + segments), not O(table files)). `path` is the segment
    * file's absolute path; refs never cross snapshot directories (a
    * branch fork / fast_forward materializes, each lineage owns its
    * segments). Segments are expired with the last snapshot referencing
    * them.
    */
  case class Segment(path: Path, entries: Seq[OrcFileEntry])

  /** One retained snapshot file: its sequence number, its commit time
    * (the snapshot file's mtime — re-stamped by a best-effort `setTimes`
    * right after the atomic publish rename, so it is the publish instant
    * up to that call's own latency; on a store that rejects `setTimes` it
    * degrades to the staging-write time, slightly BEFORE visibility),
    * and its path.
    */
  case class SnapshotRef(seq: Long, commitMs: Long, path: Path)

  /** Which snapshot a read addresses. Parsed from the read options
    * `graft.snapshot_id` / `graft.as_of_timestamp` in
    * [[GraftOrcDataSource.snapshotSelector]].
    */
  sealed trait Selector
  object Selector {
    final case class ById(seq: Long) extends Selector
    final case class AsOf(ms: Long) extends Selector
    final case class ByTag(name: String) extends Selector
    final case class ByBranch(name: String) extends Selector
  }

  private def manifestDir(table: Path) = new Path(table, Dir)

  /** Branch lineages live as parallel snapshot chains under
    * `_graft_manifest/branches/<name>/` over the table's SHARED file
    * pool (entries relativize against the same table root) — the
    * Iceberg branching model, and the substrate of write-audit-publish.
    */
  private val BranchesRoot = "branches"
  private def branchesDir(qt: Path) = new Path(manifestDir(qt), BranchesRoot)
  private[v2] def branchDir(qt: Path, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"graft-orc: invalid branch name '$name' (letters, digits, '-', " +
        "'_', '.')")
    new Path(branchesDir(qt), name)
  }
  private def snapDirOf(qt: Path, branch: Option[String]): Path =
    branch.map(branchDir(qt, _)).getOrElse(manifestDir(qt))

  /** Every lineage's snapshot directory: main plus each branch. */
  private def lineageDirs(fs: FileSystem, qt: Path): Seq[Path] =
    manifestDir(qt) +: {
      try fs.listStatus(branchesDir(qt)).toSeq
        .filter(_.isDirectory).map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    }

  private def snapFilesIn(fs: FileSystem, dir: Path): Seq[Path] =
    // well-formed names only (r22, from r21 advice): a malformed foreign
    // snap-*.json can never be a live snapshot — the commit path already
    // tolerates it, and including it here would make expire/vacuum's
    // protected-path scan throw on its unparseable body
    try fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => isWellFormedSnapName(p.getName))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Every file path referenced by ANY snapshot of any lineage OTHER
    * than `excluding` — what one lineage's expiry pass must never
    * delete: a file shared with a branch (fork inheritance) stays
    * readable there even after every main snapshot referencing it
    * expired, and vice versa.
    */
  private def protectedPaths(fs: FileSystem, qt: Path,
                             excluding: Path): Set[String] =
    lineageDirs(fs, qt).filterNot(_.toString == excluding.toString)
      .flatMap(d => snapFilesIn(fs, d)
        .flatMap(p => allEntriesOfFile(fs, qt, p)))
      .map(_.path).toSet

  /** Build the reader-facing entry for one manifest line: absolute path
    * under `table`, hive partition values re-parsed from the relative
    * path's `k=v` segments (same rules as the BFS listing — `ListMap`
    * keeps path order, the hive null marker maps to null).
    */
  private[v2] def entryOf(table: Path, rel: String, length: Long,
                          mtime: Long,
                          stats: Option[String] = None): OrcFileEntry = {
    val segs = rel.split('/')
    var parts = scala.collection.immutable.ListMap.empty[String, String]
    segs.dropRight(1).foreach { s =>
      GraftOrcFileIndex.parsePartitionSegment(s)
        .foreach { case (k, v) => parts = parts + (k -> v) }
    }
    // absolute path by string concat, not `new Path(table, rel)`: rel is
    // always a clean relative path (produced by [[relativize]] or the
    // writer's staging layout — never "//", "." or ".." segments), so
    // the concat is byte-identical to the Path resolution while skipping
    // the per-entry URI parse/normalize that dominated the 100k-entry
    // manifest-scale receipt's parse cost
    OrcFileEntry(table.toString.stripSuffix("/") + "/" + rel,
      length, parts, mtime, stats)
  }

  /** Table-relative path of `abs` under `table`, or an error: manifest
    * entries must live inside the table directory.
    */
  private[v2] def relativize(table: Path, abs: String): String = {
    val prefix = table.toString.stripSuffix("/") + "/"
    require(abs.startsWith(prefix),
      s"graft-orc manifest: $abs is outside the table $table")
    abs.substring(prefix.length)
  }

  def exists(fs: FileSystem, table: Path): Boolean =
    try fs.getFileStatus(manifestDir(table)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  /** Retained snapshot history of `table`, oldest first, or None when the
    * table has no manifest directory at all. An established-but-empty
    * manifest dir (a crash between mkdirs and the first snapshot rename)
    * returns Some(Nil) — the manifest IS the table once established.
    */
  def listSnapshots(fs: FileSystem, table: Path,
                    branch: Option[String] = None)
      : Option[Seq[SnapshotRef]] = {
    val dir = snapDirOf(fs.makeQualified(table), branch)
    val snaps =
      try fs.listStatus(dir).filter(st => st.isFile &&
        isWellFormedSnapName(st.getPath.getName))
      catch { case _: java.io.FileNotFoundException => return None }
    // snap-%020d-<uuid>.json: lexicographic order = numeric seq order,
    // with a deterministic uuid tiebreak should two writers race one seq;
    // on a seq tie only the lexicographic-max file is live (the loser's
    // files are vacuumable garbage) — keep just the winner per seq
    Some(snaps.sortBy(_.getPath.getName)
      .map(st => SnapshotRef(
        st.getPath.getName
          .substring(SnapPrefix.length, SnapPrefix.length + 20).toLong,
        st.getModificationTime, st.getPath))
      .groupBy(_.seq).values.map(_.last).toSeq.sortBy(_.seq))
  }

  /** Read one snapshot file: optional `{"retain":N}` header line (absent
    * on pre-header snapshots), then one entry line per file. Data-file
    * lines open with the `p` key; position-delete sidecar lines with the
    * `d` key — which is what distinguishes the three.
    */
  private case class ParsedSnap(entries: Seq[OrcFileEntry],
                                retain: Option[Int],
                                deletes: Seq[OrcFileEntry],
                                op: Option[String],
                                meta: Option[TableMeta],
                                segs: Seq[Segment])

  /** Bounded cache of parsed segment files: segments are WRITE-ONCE
    * (uuid names, never modified, deleted only at expiry), so a parsed
    * segment is valid for the file's whole life — every readSnapshot on
    * a hot table (query planning, commitSwap's state read) then pays
    * only the small snapshot file plus any segments it has not seen.
    * Access-order LRU, capped; thread-safe via synchronized (reads are
    * short).
    */
  private val segmentCache =
    new java.util.LinkedHashMap[String, Seq[OrcFileEntry]](
      64, 0.75f, true)
  // the cache is bounded by TOTAL CACHED ENTRIES, not segment count: at
  // SegTarget=8192 entries with per-entry stats payloads, a fixed
  // segment-count cap would let the worst case pin ~1M entry objects
  // (hundreds of MB) on the driver across many hot tables. 64k entries
  // ≈ 8 full-size segments ≈ a 512k-file working set of snapshot tails,
  // tens of MB at most.
  private val SegCacheMaxEntries = 64 * 1024
  private var segmentCacheEntries = 0L

  private[graft] def segCachePut(key: String, entries: Seq[OrcFileEntry]): Unit =
    segmentCache.synchronized {
      val prev = segmentCache.put(key, entries)
      segmentCacheEntries +=
        entries.size.toLong - (if (prev == null) 0L else prev.size.toLong)
      // evict access-order-eldest segments until within the entry bound;
      // the just-inserted segment always stays (a single over-bound
      // segment must still serve its readSegment call sites)
      val it = segmentCache.entrySet().iterator()
      while (segmentCacheEntries > SegCacheMaxEntries &&
          segmentCache.size() > 1 && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          segmentCacheEntries -= e.getValue.size.toLong
          it.remove()
        }
      }
    }

  private[graft] def segCacheDrop(key: String): Unit =
    segmentCache.synchronized {
      val prev = segmentCache.remove(key)
      if (prev != null) segmentCacheEntries -= prev.size.toLong
    }

  /** (cached segment count, total cached entries) — spec hook for the
    * entry-bounded eviction contract.
    */
  private[graft] def segCacheStats: (Int, Long) =
    segmentCache.synchronized((segmentCache.size(), segmentCacheEntries))

  private def readSegment(fs: FileSystem, qt: Path,
                          segPath: Path): Seq[OrcFileEntry] = {
    val key = segPath.toString
    segmentCache.synchronized {
      val hit = segmentCache.get(key)
      if (hit != null) return hit
    }
    val in = fs.open(segPath)
    val entries = try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      val buf = Seq.newBuilder[OrcFileEntry]
      var ln = br.readLine()
      while (ln != null) {
        if (ln.startsWith("{\"p\":")) {
          val e = parseEntryLine(ln)
          buf += entryOf(qt, e.path, e.len, e.mtime, e.stats)
            .copy(schemaV = e.v, specV = e.sv)
        }
        ln = br.readLine()
      }
      buf.result()
    } finally in.close()
    segCachePut(key, entries)
    entries
  }

  private def parseFile(fs: FileSystem, qt: Path, snap: Path)
      : ParsedSnap = {
    val in = fs.open(snap)
    // buffered line reader, not scala.io.Source (whose per-char iterator
    // dominated the 100k-entry parse in the manifest-scale receipt)
    val lines = try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      val buf = List.newBuilder[String]
      var ln = br.readLine()
      while (ln != null) { buf += ln; ln = br.readLine() }
      buf.result()
    } finally in.close()
    val header = lines.find(_.startsWith("{\"retain\":"))
    val retain = header.map(l => jsonLong(l, "retain").toInt)
    // operation hint recorded by the committer (append / truncate /
    // replace / delta / compact / purge); absent on older snapshots
    val op = header.filter(_.contains("\"op\":\"")).map(l => jsonString(l, "op"))
    // persisted table metadata rides a DEDICATED header line (the schema
    // JSON can be large and contains arbitrary keys, so it must not share
    // a line the flat key scan above parses)
    val meta = lines.find(_.startsWith("{\"schemaV\":")).map { l =>
      TableMeta(
        jsonLong(l, "schemaV"),
        org.apache.spark.sql.types.DataType.fromJson(jsonString(l, "schema"))
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        jsonString(l, "parts").split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq,
        parseProps(jsonString(l, "props")))
    }
    val inline = lines.filter(_.startsWith("{\"p\":")).map { line =>
      val e = parseEntryLine(line)
      entryOf(qt, e.path, e.len, e.mtime, e.stats)
        .copy(schemaV = e.v, specV = e.sv)
    }
    // segment references resolve against THE SNAPSHOT FILE'S OWN
    // directory (main manifest dir or a branch dir) — refs never cross
    // lineages
    val segDir = snap.getParent
    val segs = lines.filter(_.startsWith("{\"seg\":")).map { line =>
      val p = new Path(segDir, jsonString(line, "seg"))
      val entries = readSegment(fs, qt, p)
      // the ref line records the segment's entry count at write time;
      // segments are write-once, so a mismatch means the file is
      // truncated/corrupt (or the wrong file answered the read) — fail
      // descriptively instead of silently dropping table files
      if (line.contains("\"n\":")) {
        val n = jsonLong(line, "n")
        require(entries.size == n,
          s"graft-orc manifest: segment ${p.getName} referenced by " +
            s"${snap.getName} holds ${entries.size} entries but the " +
            s"snapshot recorded $n — the segment file is truncated or " +
            "corrupt")
      }
      Segment(p, entries)
    }
    val entries = segs.flatMap(_.entries) ++ inline
    val deletes = lines.filter(_.startsWith("{\"d\":")).map { line =>
      val e = parseEntryLine(line)
      entryOf(qt, e.path, e.len, e.mtime)
    }
    ParsedSnap(entries, retain, deletes, op, meta, segs)
  }

  private[graft] final class EntryFields(
      val path: String, val len: Long, val mtime: Long, val v: Long,
      val sv: Long, val stats: Option[String])

  /** Single-pass parser for the flat entry/delete lines — the
    * manifest's hot loop (100k+ lines at table scale). One walk over
    * the line instead of an `indexOf` scan per key (the manifest-scale
    * receipt measured the multi-scan form at ~43 MB/s, parse-bound);
    * escape-free string values (the common case for relative paths)
    * come back as zero-copy substrings. Semantics identical to the
    * per-key helpers: `v` defaults 0, `sv` defaults -1, `s` optional,
    * `\uXXXX` and single-char escapes decoded.
    */
  private[graft] def parseEntryLine(line: String): EntryFields = {
    // descriptive failure on a truncated/corrupt line (damaged manifest
    // diagnostics must name the line, not throw a bare index error)
    def malformed(): Nothing = throw new IllegalArgumentException(
      s"graft-orc manifest: malformed entry line: $line")
    var i = 1 // past '{'
    var path: String = null
    var len = 0L; var mtime = 0L; var v = 0L; var sv = -1L
    var stats: Option[String] = None
    while (i < line.length && line.charAt(i) == '"') {
      val kEnd = line.indexOf('"', i + 1)
      if (kEnd < 0 || kEnd + 2 >= line.length) malformed()
      val key = line.substring(i + 1, kEnd)
      i = kEnd + 2 // past the closing quote and ':'
      if (line.charAt(i) == '"') {
        i += 1
        val start = i
        var sb: java.lang.StringBuilder = null
        while (i < line.length && line.charAt(i) != '"') {
          val c = line.charAt(i)
          if (c == '\\') {
            if (i + 1 >= line.length) malformed()
            if (sb == null) {
              sb = new java.lang.StringBuilder
              sb.append(line, start, i) }
            line.charAt(i + 1) match {
              case 'u' =>
                if (i + 6 > line.length) malformed()
                sb.append(Integer.parseInt(
                  line.substring(i + 2, i + 6), 16).toChar)
                i += 6
              case esc => sb.append(esc); i += 2
            }
          } else { if (sb != null) sb.append(c); i += 1 }
        }
        if (i >= line.length) malformed() // unterminated quoted value
        val str =
          if (sb == null) line.substring(start, i) else sb.toString
        i += 1
        key match {
          case "p" | "d" => path = str
          case "s" => stats = Some(str)
          case _ => ()
        }
      } else {
        var neg = false
        if (line.charAt(i) == '-') { neg = true; i += 1 }
        var n = 0L
        while (i < line.length && line.charAt(i).isDigit) {
          n = n * 10 + (line.charAt(i) - '0'); i += 1 }
        val num = if (neg) -n else n
        key match {
          case "l" => len = num
          case "t" => mtime = num
          case "v" => v = num
          case "sv" => sv = num
          case _ => ()
        }
      }
      if (i < line.length && line.charAt(i) == ',') i += 1
    }
    require(path != null, s"graft-orc manifest: no path in $line")
    new EntryFields(path, len, mtime, v, sv, stats)
  }

  /** Every file path one snapshot accounts for — data files AND delete
    * sidecars (the set retention/expiry/vacuum must reason over).
    */
  private def allEntriesOfFile(fs: FileSystem, qt: Path,
                               snap: Path): Seq[OrcFileEntry] = {
    val p = parseFile(fs, qt, snap)
    p.entries ++ p.deletes
  }

  /** Newest snapshot of `table`, or None when the table has no manifest.
    * A manifest directory that exists but holds no snapshot yet reads as
    * seq 0 with no files.
    */
  def readSnapshot(fs: FileSystem, table: Path,
                   branch: Option[String] = None): Option[Snapshot] = {
    // qualified root so entry paths match BFS listings (file: scheme etc.)
    val qt = fs.makeQualified(table)
    listSnapshots(fs, qt, branch).map { refs =>
      refs.lastOption match {
        case None => Snapshot(0L, Nil)
        case Some(r) =>
          val p = parseFile(fs, qt, r.path)
          Snapshot(r.seq, p.entries, p.retain, p.deletes, p.op, p.meta,
            p.segs)
      }
    }
  }

  /** Time-travel resolution: the snapshot `sel` addresses, from the
    * RETAINED history (expired snapshots are gone along with any files
    * only they referenced — raise the write option `graft.manifest.retain`
    * to keep more history). Typed errors name the available range.
    */
  def resolveSnapshot(fs: FileSystem, table: Path,
                      sel: Selector,
                      branch: Option[String] = None): Snapshot = {
    val qt = fs.makeQualified(table)
    // with `branch`, ById/AsOf address the BRANCH lineage (fork snapshot
    // onward) — the branch-scoped streaming/changelog watermark space
    val refs = listSnapshots(fs, qt, branch).getOrElse(throw new IllegalArgumentException(
      s"graft-orc: time travel requires a manifest table, but $table has " +
        "no _graft_manifest (write with .option(\"graft.manifest\", \"true\") " +
        "to establish one)"))
    def available = if (refs.isEmpty) "none"
      else s"seqs ${refs.head.seq}..${refs.last.seq}, commit times " +
        s"${refs.head.commitMs}..${refs.last.commitMs}"
    val ref = sel match {
      case Selector.ByTag(name) =>
        val seq = resolveTag(fs, qt, name)
        refs.find(_.seq == seq).getOrElse(
          throw new IllegalStateException(
            s"graft-orc: tag '$name' of $table pins snapshot $seq, " +
              "which is missing from the manifest directory — the tag " +
              "file outlived its snapshot (manual deletion?)"))
      case Selector.ById(seq) => refs.find(_.seq == seq).getOrElse(
        throw new IllegalArgumentException(
          s"graft-orc: snapshot $seq of $table is not retained " +
            s"(available: $available); raise graft.manifest.retain at " +
            "write time to keep more history"))
      case Selector.AsOf(ms) => refs.filter(_.commitMs <= ms).lastOption
        .getOrElse(throw new IllegalArgumentException(
          s"graft-orc: no snapshot of $table at or before timestamp $ms " +
            s"(available: $available)"))
      case Selector.ByBranch(name) =>
        return readSnapshot(fs, qt, Some(name)).getOrElse(
          throw new IllegalArgumentException(
            s"graft-orc: branch '$name' of $table does not exist " +
              s"(available: ${listBranches(fs, qt).mkString(", ")})"))
    }
    val p = parseFile(fs, qt, ref.path)
    Snapshot(ref.seq, p.entries, p.retain, p.deletes, p.op, p.meta, p.segs)
  }

  /** Every file path referenced by ANY retained snapshot — data files and
    * delete sidecars — the set a physical delete must never touch (a
    * retained snapshot is always readable; that is the invariant time
    * travel stands on).
    */
  def retainedPaths(fs: FileSystem, table: Path): Set[String] = {
    val qt = fs.makeQualified(table)
    // every lineage protects its files: main's retained history PLUS
    // each branch's chain (a branch file is invisible to main readers
    // but must survive main-side vacuum/truncate housekeeping)
    lineageDirs(fs, qt)
      .flatMap(d => snapFilesIn(fs, d).flatMap(p => allEntriesOfFile(fs, qt, p)))
      .map(_.path).toSet
  }

  /** Write snapshot `seq` listing exactly `entries` (absolute paths under
    * `table`), atomically: dot-temp file, then one rename. Afterwards,
    * best-effort snapshot EXPIRY: history is pruned to the newest
    * `retain` snapshots, and data files referenced ONLY by the expired
    * snapshots are physically deleted with them. This is the single
    * point where manifest-table data files die — a truncate or
    * compaction only unreferences files in the new snapshot; the bytes
    * survive until every retained snapshot that references them has
    * expired, so any retained snapshot is always readable (time travel),
    * at a space cost bounded by `retain` commits of churn.
    */
  // ---- segmentation policy -------------------------------------------
  // Tables under SegInlineMax entries stay fully inline (zero format
  // change for small tables). Above it, entries live in write-once
  // segment files the snapshot references by name: an append carries its
  // predecessor's untouched segments by reference and serializes only
  // the residual — O(adds + segments) instead of O(table files). The
  // residual (prev inline + this commit's adds/changes) rolls into a new
  // segment once it reaches SegResidualMin; when a snapshot would
  // reference more than SegMaxCount segments, the commit re-segments
  // everything fresh (amortized O(n) every ~SegMaxCount segment births).
  private val SegInlineMax = 1024
  private val SegResidualMin = 512
  private val SegTarget = 8192
  private val SegMaxCount = 64

  /** (carried segments, inline entries, fresh segment batches). */
  private def planSegments(entries: Seq[OrcFileEntry],
                           carryFrom: Option[Snapshot], dir: Path)
      : (Seq[Segment], Seq[OrcFileEntry], Seq[Seq[OrcFileEntry]]) = {
    // only same-directory segments are carriable (branch fork /
    // fast_forward cross lineages: they materialize)
    val prevSegs = carryFrom.map(_.segs.filter(
      _.path.getParent.toString == dir.toString)).getOrElse(Nil)
    if (prevSegs.isEmpty && entries.size < SegInlineMax)
      return (Nil, entries, Nil)
    val byPath = new java.util.HashMap[String, OrcFileEntry](
      entries.size * 2)
    entries.foreach(e => byPath.put(e.path, e))
    // a segment carries iff EVERY entry in it survives unchanged (field
    // identity, not just path presence — a stats/schemaV rewrite of one
    // member materializes the segment)
    val carried = prevSegs.filter(s =>
      s.entries.forall(e => e == byPath.get(e.path)))
    if (carried.size >= SegMaxCount) {
      // re-segment everything fresh; old segments die with the
      // snapshots that reference them
      return (Nil, Nil,
        entries.sortBy(_.path).grouped(SegTarget).toSeq)
    }
    val consumed = new java.util.HashSet[String]()
    carried.foreach(_.entries.foreach(e => consumed.add(e.path)))
    val residual = entries.filterNot(e => consumed.contains(e.path))
    if (residual.size >= SegResidualMin)
      // chunked, not monolithic: a later commit that touches one entry
      // then materializes one SegTarget-sized chunk, not the table
      (carried, Nil,
        residual.sortBy(_.path).grouped(SegTarget).toSeq)
    else (carried, residual, Nil)
  }

  private def writeEntryLine(w: java.io.Writer, qt: Path,
                             e: OrcFileEntry): Unit = {
    w.write("{\"p\":"); writeQuoted(w, relativize(qt, e.path))
    w.write(",\"l\":"); w.write(java.lang.Long.toString(e.length))
    w.write(",\"t\":"); w.write(java.lang.Long.toString(e.mtime))
    if (e.schemaV > 0) {
      w.write(",\"v\":")
      w.write(java.lang.Long.toString(e.schemaV))
    }
    if (e.specV >= 0) {
      w.write(",\"sv\":")
      w.write(java.lang.Long.toString(e.specV))
    }
    e.stats.foreach { s => w.write(",\"s\":"); writeQuoted(w, s) }
    w.write("}")
    w.write('\n')
  }

  /** Write one immutable segment file (atomic: dot-temp + rename). */
  private def writeSegmentFile(fs: FileSystem, qt: Path, dest: Path,
                               entries: Seq[OrcFileEntry]): Unit = {
    val tmp = new Path(dest.getParent, s".tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
      entries.sortBy(_.path).foreach(e => writeEntryLine(w, qt, e))
      w.flush(); w.close()
    } catch { case t: Throwable =>
      try { out.close(); fs.delete(tmp, false) } catch { case _: Throwable => }
      throw t
    }
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"graft-orc manifest: failed to publish segment $dest")
    }
  }

  /** Segment names a snapshot file references — raw scan, stopping at
    * the first entry/delete line (refs are written right after the
    * header/meta block). `lenient` controls the failure posture, and it
    * MUST match which side of a GC decision the caller is on: Nil on a
    * read error is conservative only for DEAD snapshots (their segments
    * merely leak until vacuum); for a KEPT/LIVE snapshot, an
    * error-as-Nil would make its segments look unreferenced and get
    * them deleted — a transient object-store throttle turning into data
    * loss on the CURRENT snapshot. Live-side callers pass
    * `lenient = false` and handle the propagated failure by aborting
    * their sweep.
    */
  private def segRefNamesOf(fs: FileSystem, snap: Path,
                            lenient: Boolean = true): Seq[String] =
    try {
      val in = fs.open(snap)
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in,
            java.nio.charset.StandardCharsets.UTF_8), 1 << 15)
        val refs = Seq.newBuilder[String]
        var ln = br.readLine()
        var done = false
        while (ln != null && !done) {
          if (ln.startsWith("{\"seg\":")) refs += jsonString(ln, "seg")
          else if (ln.startsWith("{\"p\":") || ln.startsWith("{\"d\":"))
            done = true
          ln = br.readLine()
        }
        refs.result()
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(_) if lenient => Nil
    }

  /** Delete the segment files only `dead` snapshot files referenced
    * (callers pass the refs READ BEFORE deleting the snapshots). The
    * LIVE ref set must come from successful reads of EVERY kept
    * snapshot: if any kept-file scan fails, the whole sweep aborts —
    * the dead refs leak until a later expiry or vacuum retries, which
    * is always recoverable; deleting a segment a retained snapshot
    * still references is not.
    */
  private[graft] def gcSegments(fs: FileSystem, dir: Path,
                                deadRefs: Seq[String],
                                keptFiles: Seq[Path]): Unit = {
    if (deadRefs.isEmpty) return
    val live =
      try keptFiles.flatMap { p =>
        try segRefNamesOf(fs, p, lenient = false)
        catch { case scala.util.control.NonFatal(t) =>
          throw new java.io.IOException(
            s"segment-ref read failed on kept snapshot $p", t) }
      }.toSet
      catch { case scala.util.control.NonFatal(t) =>
        // a persistently unreadable kept snapshot disables segment GC —
        // make the leak-forever condition visible instead of silent
        log.warn("graft-orc manifest: segment sweep SKIPPED for {} " +
          "({} dead segment refs leak until a later expiry or vacuum " +
          "retries): {}", dir, deadRefs.size.toString, t.getMessage)
        return }
    deadRefs.toSet.diff(live).foreach { n =>
      val p = new Path(dir, n)
      segCacheDrop(p.toString)
      try fs.delete(p, false) catch { case _: java.io.IOException => }
    }
  }

  def writeSnapshot(fs: FileSystem, table: Path, seq: Long,
                    entries: Seq[OrcFileEntry],
                    retain: Int = RetainSnapshots,
                    deletes: Seq[OrcFileEntry] = Nil,
                    op: String = "unknown",
                    meta: Option[TableMeta] = None,
                    branch: Option[String] = None,
                    carryFrom: Option[Snapshot] = None): Unit = {
    val qt = fs.makeQualified(table)
    val dir = snapDirOf(qt, branch)
    fs.mkdirs(dir)
    // segmentation: write fresh segment files FIRST (write-once, atomic,
    // invisible until the snapshot that references them publishes)
    val (carried, inline, freshBatches) =
      planSegments(entries, carryFrom, dir)
    val fresh: Seq[(String, Int)] = freshBatches.map { es =>
      val name = s"seg-${UUID.randomUUID()}.json"
      writeSegmentFile(fs, qt, new Path(dir, name), es)
      name -> es.size
    }
    def dropFresh(): Unit = fresh.foreach { case (n, _) =>
      try fs.delete(new Path(dir, n), false)
      catch { case _: java.io.IOException => } }
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
      // header persists the retention policy with the state it governs:
      // the next committer (writer OR compactor) inherits it (commitSwap)
      w.write(s"""{"retain":${math.max(1, retain)},"op":${jsonQuote(op)}}""")
      w.newLine()
      meta.foreach { m =>
        w.write(s"""{"schemaV":${m.schemaV},"parts":${
          jsonQuote(m.parts.mkString(","))},"props":${
          jsonQuote(writeProps(m.props))},"schema":${
          jsonQuote(m.schema.json)}}""")
        w.newLine()
      }
      // segment references (carried by name, then this commit's fresh
      // ones) — BEFORE entry lines so segRefNamesOf can stop early
      carried.foreach { s =>
        w.write("{\"seg\":"); writeQuoted(w, s.path.getName)
        w.write(",\"n\":"); w.write(Integer.toString(s.entries.size))
        w.write("}"); w.newLine()
      }
      fresh.foreach { case (name, n) =>
        w.write("{\"seg\":"); writeQuoted(w, name)
        w.write(",\"n\":"); w.write(Integer.toString(n))
        w.write("}"); w.newLine()
      }
      // field-at-a-time writes (no per-entry interpolation garbage) with
      // an escape-free fast path for the quoted strings — the serialize
      // half of the manifest-scale receipt's hot loop
      inline.sortBy(_.path).foreach(e => writeEntryLine(w, qt, e))
      deletes.sortBy(_.path).foreach { e =>
        w.write("{\"d\":"); writeQuoted(w, relativize(qt, e.path))
        w.write(",\"l\":"); w.write(java.lang.Long.toString(e.length))
        w.write(",\"t\":"); w.write(java.lang.Long.toString(e.mtime))
        w.write("}")
        w.newLine()
      }
      w.flush()
      w.close()
    } catch { case t: Throwable =>
      try { out.close(); fs.delete(tmp, false); dropFresh() }
      catch { case _: Throwable => }
      throw t
    }
    // pre-rename occupancy check: if the seq already has a committed
    // snapshot, fail BEFORE publishing a rival file — a later publisher
    // with a lexicographically larger name would otherwise retroactively
    // steal the seq from a writer whose own post-rename verify already
    // passed (silent loss, the one outcome this protocol must not have).
    // SAME-JVM writers (the local/driver deployment: every committer of
    // a table lives in one Spark driver) are fully serialized through a
    // per-table commit lock around this check->rename window, so the
    // occupancy check is decisive for them — a loser always fails HERE,
    // never after reporting success. The residual exposure is two
    // SEPARATE drivers interleaving inside the window: each renames its
    // own same-seq file, and when the rename ORDER disagrees with the
    // lexicographic name order, each one's post-rename list can show
    // itself the winner — BOTH report success, one commit silently
    // loses. Multi-driver deployments close the window with the opt-in
    // cross-driver FILE LOCK below (-Dgraft.commit.lock=file: atomic
    // create-no-overwrite of commit.lock with stale-takeover, the
    // HDFS-class store primitive); single-driver deployments keep the
    // zero-extra-RPC path and the post-rename verify as the backstop.
    val dest = commitLockFor(dir).synchronized {
      // a lock-acquisition timeout throws BEFORE the body runs: the
      // staged .tmp- snapshot and this commit's fresh segment files must
      // be withdrawn here (every body-side failure path already cleans
      // its own; vacuum additionally sweeps aged .tmp- leftovers)
      withCommitFileLock(fs, dir, onAcquireFailure = () => {
        try { fs.delete(tmp, false); dropFresh() }
        catch { case _: java.io.IOException => } }) {
        // MONOTONIC occupancy check: the target seq must exceed every
        // EXISTING snapshot's seq, not merely be unoccupied. "File at
        // my seq exists" alone is not decisive, because retention
        // DELETES expired snapshot files: a committer that staged
        // against a stale head and then queued long behind this lock
        // (measured: 22 committers on one table, retain=3 — the head
        // can advance past the retention depth while it waits) would
        // find its long-since-committed-AND-EXPIRED target seq vacant,
        // publish a snapshot BELOW the live head, verify itself the
        // "winner" of that buried seq, and report success for a commit
        // no reader ever sees — the silent loss this protocol must not
        // have (caught by the 16-appender concurrency soak, round 20).
        // A lineage's FIRST snapshot (empty dir) may carry any seq: a
        // branch forks at its source's numbering.
        // tolerate foreign junk: a malformed snap-*.json name (manual
        // copy, foreign tool) must degrade to "ignored", not wedge every
        // future commit with a parse exception inside the lock body
        val existingSeqs = fs.listStatus(dir).map(_.getPath)
          .filter(p => isWellFormedSnapName(p.getName))
          .map(seqOfName)
        if (existingSeqs.nonEmpty && seq <= existingSeqs.max) {
          fs.delete(tmp, false)
          dropFresh() // only this withdrawn snapshot referenced them
          throw new java.util.ConcurrentModificationException(
            s"graft-orc manifest: lost a commit race on snapshot seq $seq of " +
              s"$table — a concurrent writer already committed it (live " +
              s"head ${existingSeqs.max}). Re-read the table state and " +
              "retry the write at the next seq.")
        }
        val d = new Path(dir, f"$SnapPrefix$seq%020d-${UUID.randomUUID()}.json")
        if (!fs.rename(tmp, d)) {
          fs.delete(tmp, false)
          dropFresh() // withdraw this commit's fresh segment files too:
          // nothing references them once the snapshot is gone, and
          // gcSegments only sweeps segments of DEAD snapshots — without
          // this they would sit as orphans until an explicit vacuum
          throw new java.io.IOException(
            s"graft-orc manifest: failed to publish snapshot $d")
        }
        d
      }
    }
    // commit time = publish instant (best-effort; without it the mtime
    // degrades to staging-write time, slightly before visibility)
    try fs.setTimes(dest, System.currentTimeMillis(), -1)
    catch { case _: java.io.IOException => }
    // single-winner detection: two drivers racing the same seq both get
    // their rename to succeed (rename-to-distinct-names cannot conflict),
    // but only the lexicographic-max file is live to readers. The loser
    // must find out — otherwise its COMMITTED rows silently vanish from
    // the table. Re-list and verify this snapshot won its seq; a loser
    // withdraws its own snapshot file and fails the commit loudly so the
    // caller can re-read the winner's state and retry.
    val rivalNames = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(f"$SnapPrefix$seq%020d") && n.endsWith(".json"))
    if (rivalNames.nonEmpty && rivalNames.max != dest.getName) {
      fs.delete(dest, false)
      dropFresh() // withdrawn with the snapshot that referenced them
      throw new java.util.ConcurrentModificationException(
        s"graft-orc manifest: concurrent commit race on snapshot seq $seq " +
          s"of $table — ${rivalNames.max} won, this commit lost and was " +
          "withdrawn (its data files are unpublished garbage; vacuum " +
          "reclaims them). Re-read the table state and retry the write.")
    }
    // expire old snapshots + the files only they referenced; never fail
    // the commit over housekeeping (a skipped expiry is retried by the
    // next commit, or by an explicit vacuum). Retention counts distinct
    // SEQS via their lexicographic winners — a duplicate-seq file left by
    // a crashed race loser is plain garbage and must not consume a
    // retention slot (it would silently shorten the retained history).
    try {
      val all = fs.listStatus(dir).map(_.getPath)
        .filter(p => isWellFormedSnapName(p.getName)).sortBy(_.getName)
      val winners = all.groupBy(seqOfName).toSeq.sortBy(_._1)
        .map(_._2.maxBy(_.getName))
      val losers = all.diff(winners)
      val (expired, retained) =
        winners.splitAt(winners.length - math.max(1, retain))
      // TAGGED snapshots are exempt from expiry: the tag is the user's
      // promise that this snapshot must stay readable (reproducible
      // training runs); it — and the files only it references — live
      // until the tag is dropped. Tags pin the MAIN lineage only.
      val taggedSeqs =
        if (branch.isEmpty) listTags(fs, qt).map(_._2).toSet
        else Set.empty[Long]
      val (pinned, reallyExpired) =
        expired.partition(p => taggedSeqs(seqOfName(p)))
      val dead = reallyExpired ++ losers
      if (dead.nonEmpty) {
        // segment refs must be read BEFORE the dead snapshot files go
        val deadSegRefs = dead.flatMap(p => segRefNamesOf(fs, p))
        // files shared with ANOTHER lineage (a branch forked from this
        // state, or — on a branch commit — the main chain and sibling
        // branches) must survive this lineage's expiry
        val live = (retained ++ pinned)
          .flatMap(p => allEntriesOfFile(fs, qt, p))
          .map(_.path).toSet ++ protectedPaths(fs, qt, excluding = dir)
        val victims = dead.flatMap(p => allEntriesOfFile(fs, qt, p))
          .filterNot(e => live(e.path))
          .groupBy(_.path).values.map(_.head).toSeq
        deleteFiles(fs, qt, victims)
        dead.foreach(p => fs.delete(p, false))
        // segments only the dead snapshots referenced die with them
        gcSegments(fs, dir, deadSegRefs, retained ++ pinned)
      }
    } catch { case scala.util.control.NonFatal(_) => }
  }

  private def seqOfName(p: Path): Long =
    p.getName.substring(SnapPrefix.length, SnapPrefix.length + 20).toLong

  /** snap-<20 digits>-*.json — the names [[seqOfName]] can parse. */
  private def isWellFormedSnapName(n: String): Boolean =
    n.length > SnapPrefix.length + 20 &&
      n.startsWith(SnapPrefix) && n.endsWith(".json") &&
      { var i = SnapPrefix.length; var ok = true
        while (ok && i < SnapPrefix.length + 20)
          { ok = n.charAt(i) >= '0' && n.charAt(i) <= '9'; i += 1 }
        ok }

  /** Per-lineage (qualified snapshot dir: the table's main manifest dir
    * or one branch dir) commit lock: serializes the same-JVM
    * occupancy-check -> rename window of [[writeSnapshot]], making the
    * seq race decisive for every committer in one driver. Bounded
    * growth: one monitor object per lineage ever committed by this JVM.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLockFor(table: Path): Object =
    commitLocks.computeIfAbsent(table.toString, _ => new Object)

  // ---- cross-driver commit lock (opt-in) -------------------------------
  // -Dgraft.commit.lock=file serializes the occupancy-check -> rename
  // window ACROSS drivers with an atomic create-no-overwrite of
  // `commit.lock` in the lineage dir. Create-no-overwrite is atomic on
  // HDFS-class stores (the same primitive class the snapshot rename
  // already assumes). Hadoop's RawLocalFileSystem implements it as
  // exists-check-then-create — NOT atomic — so on a SHARED local/NFS
  // path two drivers can both believe they acquired; the post-rename
  // single-winner verify in writeSnapshot remains the backstop there.
  // An S3-class store without atomic create needs a true CAS/lock
  // service and is out of scope, like its rename is.
  //
  // Ownership: the holder writes a UUID TOKEN into the lock at acquire,
  // and release deletes the file only while it still carries that token
  // — so a slow holder whose lock was taken over as stale cannot delete
  // the NEW holder's lock (which would reopen the window to a third
  // committer). Stale takeover is guarded the same way: delete only if
  // the content still matches the incarnation that was judged stale.
  // A holder that crashes inside the window leaves a lock other
  // committers take over once it is STALE (default 60 s); acquisition
  // gives up loudly after the timeout (default 30 s) — the deadline is
  // checked on EVERY retry, whatever the branch, so a persistent create
  // failure or a takeover/recreate livelock cannot spin forever.
  private[graft] val CommitLockName = "commit.lock"
  private def lockProp(name: String, dflt: Long): Long =
    try Option(System.getProperty(name)).map(_.trim.toLong).getOrElse(dflt)
    catch { case _: NumberFormatException => dflt }

  /** Lock-file content, or None if it vanished / cannot be read. */
  private def readLockContent(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](256)
        var n = in.read(b)
        while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
        Some(buf.toString("UTF-8"))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  private[graft] def withCommitFileLock[T](fs: FileSystem, dir: Path,
                                           onAcquireFailure: () => Unit =
                                             () => ())
      (body: => T): T = {
    if (System.getProperty("graft.commit.lock", "") != "file") return body
    val lock = new Path(dir, CommitLockName)
    val timeoutMs = lockProp("graft.commit.lock.timeout_ms", 30000L)
    val staleMs = lockProp("graft.commit.lock.stale_ms", 60000L)
    val deadline = System.currentTimeMillis() + timeoutMs
    // the leading UUID is the ownership token; the rest is diagnostic
    // (who holds it, since when)
    val token = UUID.randomUUID().toString
    val content = s"$token ${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName} ${System.currentTimeMillis()}"
    var acquired = false
    try {
      while (!acquired) {
        if (System.currentTimeMillis() > deadline)
          throw new java.util.ConcurrentModificationException(
            s"graft-orc manifest: could not acquire $lock within " +
              s"$timeoutMs ms — another driver is committing (or " +
              "crashed inside the window less than " +
              s"$staleMs ms ago). Retry, or remove the lock if its " +
              "holder is known dead.")
        var created = false
        try {
          // atomic create-no-overwrite IS the acquisition
          val out = fs.create(lock, false)
          created = true
          out.write(content.getBytes("UTF-8"))
          out.close()
          acquired = true
        } catch {
          case _: java.io.IOException if created =>
            // the create succeeded — the lock is OURS; the TOKEN write
            // failed. An unreadable token would wedge the guarded
            // release, so withdraw our own fresh lock and re-contend.
            // The withdrawal is CONTENT-guarded like the release: under
            // symmetric staleness a far-future store mtime can make even
            // a brand-new lock takeover-eligible, so a rival may already
            // have deleted this incarnation and acquired its own — an
            // unguarded delete here would erase the rival's LIVE lock.
            // Delete ONLY on readable, NON-EMPTY content that is a
            // prefix of OUR content (the partial write); a rival's lock
            // carries its own token, no prefix of ours. An EMPTY file is
            // ambiguous (our zero-byte failed write vs a rival inside
            // its own create-to-token-write window) and an unreadable
            // one is unjudgeable (matching the stale-takeover path's
            // refusal) — leave both: worst case OUR empty lock sits
            // until the staleness takeover frees it (bounded liveness
            // cost, loud timeout), never a deleted live rival (which
            // would let two committers run "exclusively" at once).
            try {
              val c = readLockContent(fs, lock)
              if (c.exists(x => x.nonEmpty && content.startsWith(x)))
                fs.delete(lock, false)
            } catch { case _: java.io.IOException => }
            Thread.sleep(50L)
          case _: java.io.IOException =>
            // held by someone: stale-takeover or wait
            val st = try Some(fs.getFileStatus(lock))
              catch { case _: java.io.FileNotFoundException => None }
            // Staleness is SYMMETRIC (|now - mtime| > staleMs), same
            // rationale as GraftOrcCompact.intentFresh: a lock whose
            // store mtime sits more than staleMs in our FUTURE (clock
            // skew, fabricated mtimes) is as unjudgeable as a stale
            // one — and without takeover it would block EVERY writer
            // until wall clock caught up to the skew, a full write
            // outage. HONEST TRADE: under PERSISTENT store-clock skew
            // beyond staleMs, every live lock is continuously
            // takeover-eligible and the lock degrades to ADVISORY — a
            // strictly worse serialization posture than the stale
            // path's likely-dead targets. That degraded mode is still
            // the designed fallback, not a correctness hole: the
            // post-rename single-winner verify arbitrates (the loser
            // withdraws its snapshot + fresh segments and throws
            // loudly), exactly as on stores with non-atomic create
            // where this lock is best-effort to begin with. We prefer
            // noisy contention with exact state over the one-sided
            // alternative (a standing write outage with the same skew).
            // Transient skew within staleMs is unaffected either way.
            st match {
              case Some(s)
                  if math.abs(System.currentTimeMillis() -
                    s.getModificationTime) > staleMs =>
                // guarded best-effort takeover, content-anchored:
                // (1) read the lock's CONTENT (its ownership token);
                // (2) re-STAT — only a still-stale mtime proves the
                //     content was read from the incarnation judged
                //     stale (any release+re-acquire in between leaves
                //     a fresh mtime and aborts the round);
                // (3) re-read immediately before deleting and delete
                //     only while the content is IDENTICAL — a
                //     release+re-acquire that lands BEFORE the re-read
                //     carries a new token and survives. This NARROWS
                //     the race to the re-read -> delete instant; it
                //     cannot close it (plain delete, no compare-and-
                //     delete primitive on the store) — a re-acquire
                //     landing inside that instant is still deleted,
                //     which is why the post-rename single-winner
                //     verify in writeSnapshot stays the correctness
                //     backstop and this lock stays best-effort.
                //     An unreadable judged incarnation is never taken
                //     over this round (re-contend; the deadline bounds
                //     the spin). Two racers judging the SAME
                //     incarnation stale re-contend on the atomic
                //     create: one winner.
                val judged = readLockContent(fs, lock)
                val still = try Some(fs.getFileStatus(lock))
                  catch { case _: java.io.FileNotFoundException => None }
                if (judged.isDefined &&
                    still.exists(s2 =>
                      math.abs(System.currentTimeMillis() -
                        s2.getModificationTime) > staleMs) &&
                    readLockContent(fs, lock) == judged) {
                  // a FUTURE-skewed mtime means persistent store-clock
                  // skew is degrading this lock to advisory (every live
                  // lock continuously takeover-eligible) — surface the
                  // degraded mode loudly instead of silently eating it;
                  // a past-stale takeover is the normal crash-recovery
                  // path and stays quiet
                  still.foreach { s2 =>
                    val skew = s2.getModificationTime -
                      System.currentTimeMillis()
                    if (skew > staleMs)
                      log.warn("graft-orc commit lock: taking over a " +
                        "FUTURE-skewed lock on {} (store mtime {} ms " +
                        "ahead of local clock, stale_ms={}). Persistent " +
                        "store-clock skew beyond stale_ms degrades the " +
                        "cross-driver lock to ADVISORY — fix the clock " +
                        "skew or raise graft.commit.lock.stale_ms.",
                        lock, Long.box(skew), Long.box(staleMs))
                  }
                  try fs.delete(lock, false)
                  catch { case _: java.io.IOException => }
                }
                Thread.sleep(50L)
              case _ =>
                // held and fresh, or vanished between create and stat:
                // back off and re-contend (deadline checked at loop top)
                Thread.sleep(50L)
            }
        }
      }
    } catch { case t: Throwable =>
      // acquisition failed: the caller's staged state (tmp snapshot,
      // fresh segment files) must not leak — no sweeper matches it
      try onAcquireFailure() catch { case _: Throwable => }
      throw t
    }
    try body finally {
      // guarded release: delete only while the file still carries OUR
      // token; after a stale takeover the new holder's lock stays put
      if (readLockContent(fs, lock).exists(_.startsWith(token)))
        try fs.delete(lock, false) catch { case _: java.io.IOException => }
    }
  }

  /** Swap `remove` (absolute paths) for `add` on top of the current
    * snapshot and commit the result as the next snapshot. The one
    * metadata primitive both the writer and the compactor need.
    * Retention: an explicit `retain` wins; otherwise the policy PERSISTED
    * in the current snapshot's header carries forward — so a compact on a
    * table kept at retain=10 expires nothing the writer configured.
    */
  def commitSwap(fs: FileSystem, table: Path, remove: Set[String],
                 add: Seq[OrcFileEntry], truncate: Boolean = false,
                 retain: Option[Int] = None,
                 addDeletes: Seq[OrcFileEntry] = Nil,
                 dropDeletes: Set[String] = Set.empty,
                 op: String = "unknown",
                 meta: Option[TableMeta] = None,
                 expectDeletes: Option[Set[String]] = None,
                 expectPresent: Set[String] = Set.empty,
                 entriesBelow: Option[Long] = None,
                 branch: Option[String] = None): Unit = {
    val cur = readSnapshot(fs, table, branch).getOrElse(Snapshot(0L, Nil))
    // Row-level rewrites are only valid against the state their scan
    // read: a file the rewrite replaces (or whose rows its position
    // sidecars address) that a concurrent compact/rewrite already
    // swapped out would resurrect (its content lives on in the rival's
    // outputs) or lose the deletion (positions reference a dead path).
    locally {
      val missing = expectPresent -- cur.entries.map(_.path).toSet
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"graft-orc manifest: a $op commit references files a " +
            s"concurrent writer already replaced on $table: " +
            s"${missing.mkString(", ")} — re-plan on the current " +
            "snapshot and retry.")
    }
    // Equality-delete commits (blind upsert): the sidecar applies to
    // files STRICTLY OLDER than its stamp, so any pre-existing entry at
    // or above it (a rival compact/rewrite's fresh-stamped outputs,
    // which may carry copies of the upserted keys' old versions) would
    // escape the delete. The caller re-stamps its sidecar + data above
    // the rival and retries.
    entriesBelow.foreach { bound =>
      val addPaths0 = add.map(_.path).toSet
      val escaped = cur.entries.filter(e =>
        !remove(e.path) && !addPaths0(e.path) && e.mtime >= bound)
      if (escaped.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"graft-orc manifest: a $op commit's delete sidecar (stamp " +
            s"$bound) would not cover concurrently committed files on " +
            s"$table: ${escaped.map(_.path).mkString(", ")} — re-stamp " +
            "above the current state and retry.")
    }
    // Sequence-validation for REWRITE commits (purge/compact): the caller
    // planned against a specific delete-sidecar set; a sidecar that
    // committed since (a concurrent blind upsert / MoR delete) applies to
    // the files the rewrite REPLACES but not to the rewrite's outputs
    // (fresh publish stamps order ABOVE the sidecar), so committing
    // anyway would resurrect the deleted row versions. Same rule
    // Iceberg's RewriteFiles sequence-number validation enforces. The
    // residual exposure is writeSnapshot's own list->rename window, which
    // its single-winner verify already makes loud.
    expectDeletes.foreach { expected =>
      val now = cur.deletes.map(_.path).toSet
      if (now != expected)
        throw new java.util.ConcurrentModificationException(
          s"graft-orc manifest: delete sidecars changed under a $op " +
            s"commit on $table (new: ${(now -- expected).mkString(", ")}" +
            s"${if ((expected -- now).nonEmpty)
              s"; retired: ${(expected -- now).mkString(", ")}" else ""}) " +
            "— the rewrite was planned against stale state; re-plan on " +
            "the current snapshot and retry.")
    }
    val base = if (truncate) Nil else cur.entries.filterNot(e => remove(e.path))
    val addPaths = add.map(_.path).toSet
    // delete sidecars carry forward by default (their positions for
    // removed data files are inert); a truncate or an explicit
    // dropDeletes (delete purge, [[GraftOrcMor.purge]]) retires them
    val baseDeletes =
      if (truncate) Nil else cur.deletes.filterNot(e => dropDeletes(e.path))
    writeSnapshot(fs, table, cur.seq + 1,
      base.filterNot(e => addPaths(e.path)) ++ add,
      // branch commits prefer the branch's own pinned retention depth
      retain.orElse(branch.flatMap(b => branchRetain(fs, table, b)))
        .orElse(cur.retain).getOrElse(RetainSnapshots),
      deletes = baseDeletes ++ addDeletes, op = op,
      meta = meta.orElse(cur.meta), branch = branch,
      // untouched entry objects pass through this function unchanged,
      // so cur's segments carry by identity — the O(adds) commit path
      carryFrom = Some(cur))
  }

  /** Delete files the new snapshot no longer references (truncate
    * victims, compacted inputs) — UNLESS a retained snapshot still
    * references them, in which case they stay readable for time travel
    * and die later at snapshot expiry ([[writeSnapshot]]). Only files in
    * NO snapshot at all (e.g. pre-manifest files displaced by an
    * establishing truncate) are deleted here. Always runs AFTER the
    * snapshot rename, so a crash mid-delete leaves invisible garbage,
    * never a snapshot pointing at missing files.
    */
  def deleteUnreferenced(fs: FileSystem, table: Path,
                         victims: Seq[OrcFileEntry]): Unit = {
    if (victims.isEmpty) return
    val live = retainedPaths(fs, table)
    deleteFiles(fs, fs.makeQualified(table), victims.filterNot(e => live(e.path)))
  }

  /** Physically delete `victims`, then best-effort prune their now-empty
    * parent directories up to — never including — the table root.
    */
  private def deleteFiles(fs: FileSystem, table: Path,
                          victims: Seq[OrcFileEntry]): Unit = {
    if (victims.isEmpty) return
    GraftOrcFileIndex.parallelMap(victims) { e =>
      try fs.delete(new Path(e.path), false)
      catch { case _: java.io.IOException => false }
    }
    val tableStr = table.toString
    var parents = victims.map(e => new Path(e.path).getParent).distinct
    while (parents.nonEmpty) {
      parents = parents.flatMap { p =>
        if (p == null || p.toString == tableStr) None
        else {
          val pruned =
            try fs.listStatus(p).isEmpty && fs.delete(p, false)
            catch { case _: java.io.IOException => false }
          if (pruned) Some(p.getParent) else None
        }
      }.distinct
    }
  }

  // ---- tags ------------------------------------------------------------

  /** Named snapshot TAGS (`_graft_manifest/tag-<name>.json`, one line
    * `{"seq":N}`): a tagged snapshot — and every file it references —
    * is EXEMPT from retention expiry until the tag is dropped, so
    * `.option("graft.tag", "name")` reads it byte-identically forever.
    * The reproducibility handle a training pipeline needs: tag the
    * corpus snapshot a run trained on, and the run can be replayed
    * long after the table moved on, at a space cost of exactly the
    * files that snapshot pinned. Tag files are atomic (tmp + rename)
    * and live beside the snapshots they pin, so vacuum/retention
    * reason over one directory.
    */
  private val TagPrefix = "tag-"

  private def tagPath(table: Path, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"graft-orc: invalid tag name '$name' (letters, digits, '-', " +
        "'_', '.')")
    new Path(manifestDir(table), s"$TagPrefix$name.json")
  }

  def createTag(fs: FileSystem, table: Path, name: String,
                seq: Long): Unit = {
    val qt = fs.makeQualified(table)
    // must address a RETAINED snapshot (typed error otherwise)
    resolveSnapshot(fs, qt, Selector.ById(seq))
    val dest = tagPath(qt, name)
    if (fs.exists(dest)) throw new IllegalArgumentException(
      s"graft-orc: tag '$name' already exists on $table (drop it first)")
    val tmp = new Path(manifestDir(qt), s".tmp-tag-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"""{"seq":$seq}""".getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"graft-orc: failed to publish tag $dest")
    }
  }

  /** Drop a tag; the pinned snapshot becomes an ordinary retained (or
    * expired-on-next-commit) snapshot. Returns whether it existed.
    */
  def dropTag(fs: FileSystem, table: Path, name: String): Boolean =
    fs.delete(tagPath(fs.makeQualified(table), name), false)

  /** (tag name, pinned seq), sorted by name. */
  def listTags(fs: FileSystem, table: Path): Seq[(String, Long)] = {
    val dir = manifestDir(fs.makeQualified(table))
    val files =
      try fs.listStatus(dir).filter(st => st.isFile &&
        st.getPath.getName.startsWith(TagPrefix) &&
        st.getPath.getName.endsWith(".json"))
      catch { case _: java.io.FileNotFoundException => return Nil }
    files.map { st =>
      val name = st.getPath.getName
        .stripPrefix(TagPrefix).stripSuffix(".json")
      val in = fs.open(st.getPath)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      name -> jsonLong(txt, "seq")
    }.toSeq.sortBy(_._1)
  }

  def resolveTag(fs: FileSystem, table: Path, name: String): Long =
    listTags(fs, table).collectFirst { case (n, s) if n == name => s }
      .getOrElse(throw new IllegalArgumentException(
        s"graft-orc: no tag '$name' on $table (available: " +
          s"${listTags(fs, table).map(_._1).mkString(", ")})"))

  // ---- branches (write-audit-publish) ----------------------------------
  //
  // A branch is a parallel snapshot lineage over the table's SHARED file
  // pool: `createBranch` copies one snapshot into
  // `_graft_manifest/branches/<name>/`, branch commits chain there
  // (invisible to main readers by construction), and `fastForward`
  // publishes the branch head back as ONE main commit — the
  // write-audit-publish loop: stage a corpus update on a branch, audit
  // it with any query (`graft.branch` read option), publish atomically
  // or drop the branch. Expiry/vacuum treat every lineage's references
  // as live, so forked files survive main-side housekeeping and branch
  // files survive main truncates.

  /** `base.json` records the main seq the branch forked from — the
    * divergence witness [[fastForward]] checks (retention may have
    * expired the fork-point snapshot itself by publish time).
    */
  private def basePath(qt: Path, name: String): Path =
    new Path(branchDir(qt, name), "base.json")

  def branchExists(fs: FileSystem, table: Path, name: String): Boolean =
    try fs.getFileStatus(
      branchDir(fs.makeQualified(table), name)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def listBranches(fs: FileSystem, table: Path): Seq[String] = {
    val qt = fs.makeQualified(table)
    try fs.listStatus(branchesDir(qt)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def branchBase(fs: FileSystem, table: Path, name: String): Long = {
    val qt = fs.makeQualified(table)
    val in = fs.open(basePath(qt, name))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    jsonLong(txt, "base")
  }

  /** Per-branch retention override recorded at fork time (None =
    * inherit the commit-header policy like main). The knob exists for
    * the lifetime mismatch the table-level policy cannot express: a
    * long-lived audit branch under an aggressive main retention — the
    * branch's commits expire ITS lineage by ITS depth, while
    * cross-lineage file protection keeps the shared files safe either
    * way.
    */
  def branchRetain(fs: FileSystem, table: Path,
                   name: String): Option[Int] = {
    val qt = fs.makeQualified(table)
    try {
      val in = fs.open(basePath(qt, name))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().nextOption().getOrElse("")
      finally in.close()
      if (txt.contains("\"retain\":")) Some(jsonLong(txt, "retain").toInt)
      else None
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Fork a branch from the current snapshot (or `from`). The branch's
    * first snapshot keeps the source's seq — branch seqs continue the
    * numbering they forked from. `retain` pins a PER-BRANCH retention
    * depth ([[branchRetain]]); default inherits the header policy.
    * Returns the fork seq.
    */
  def createBranch(fs: FileSystem, table: Path, name: String,
                   from: Option[Selector] = None,
                   retain: Option[Int] = None): Long = {
    val qt = fs.makeQualified(table)
    require(!branchExists(fs, qt, name),
      s"graft-orc: branch '$name' already exists on $table")
    val src = from match {
      case Some(sel) => resolveSnapshot(fs, qt, sel)
      case None => readSnapshot(fs, qt).getOrElse(
        throw new IllegalArgumentException(
          s"graft-orc: branching requires a manifest table, but $table " +
            s"has no $Dir"))
    }
    require(src.seq >= 1,
      s"graft-orc: cannot branch $table before its first snapshot")
    val dir = branchDir(qt, name)
    fs.mkdirs(dir)
    // base.json: the fork seq, then one line per fork-state entry path —
    // the durable fork witness. Branch-side retention expires the fork
    // SNAPSHOT after `retain` branch commits, but cherryPick still needs
    // the fork's entry set to compute the branch's net additions.
    val out = fs.create(basePath(qt, name), true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, "UTF-8"))
      val r = retain.map(v => s""","retain":${math.max(1, v)}""")
        .getOrElse("")
      // "dv":1 marks that this witness records the fork's DELETE
      // sidecar set ("d" lines, possibly zero) — cherryPick needs it to
      // tell branch-ADDED sidecars (MoR DML, unpickable) from fork-
      // INHERITED ones (harmless: the pick publishes net-new data files
      // only). Witnesses without the marker predate it; cherryPick
      // falls back to the conservative current-main comparison there.
      w.write(s"""{"base":${src.seq}$r,"dv":1}"""); w.newLine()
      src.entries.foreach { e =>
        w.write(s"""{"p":${jsonQuote(relativize(qt, e.path))}}""")
        w.newLine()
      }
      src.deletes.foreach { d =>
        w.write(s"""{"d":${jsonQuote(relativize(qt, d.path))}}""")
        w.newLine()
      }
      w.flush()
    } finally out.close()
    writeSnapshot(fs, qt, src.seq, src.entries,
      retain.orElse(src.retain).getOrElse(RetainSnapshots),
      deletes = src.deletes,
      op = "branch", meta = src.meta, branch = Some(name))
    src.seq
  }

  /** Drop a branch lineage. Files only its snapshots referenced become
    * unreferenced garbage; `vacuum` reclaims them. Returns whether the
    * branch existed.
    */
  def dropBranch(fs: FileSystem, table: Path, name: String): Boolean = {
    val qt = fs.makeQualified(table)
    if (!branchExists(fs, qt, name)) return false
    fs.delete(branchDir(qt, name), true)
  }

  /** Publish the branch head as main's next commit (write-audit-publish
    * step 3), then drop the branch. Fast-forward only: typed
    * ConcurrentModificationException when main advanced past the fork
    * point (the branch must re-fork and re-apply), enforced twice — a
    * pre-check against the current seq, and [[writeSnapshot]]'s own
    * occupancy/rival detection for the racing window. Returns
    * (fork seq, published seq).
    */
  def fastForward(conf: org.apache.hadoop.conf.Configuration,
                  table: String, name: String): (Long, Long) = {
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    require(branchExists(fs, qt, name),
      s"graft-orc: no branch '$name' on $table (available: " +
        s"${listBranches(fs, qt).mkString(", ")})")
    val head = readSnapshot(fs, qt, Some(name)).get
    val base = branchBase(fs, qt, name)
    val cur = readSnapshot(fs, qt).getOrElse(Snapshot(0L, Nil))
    if (cur.seq != base)
      throw new java.util.ConcurrentModificationException(
        s"graft-orc: cannot fast-forward $table to branch '$name' — " +
          s"main advanced to seq ${cur.seq} past the fork point $base; " +
          "re-fork the branch from the current state and re-apply, or " +
          "drop it")
    writeSnapshot(fs, qt, base + 1, head.entries,
      head.retain.orElse(cur.retain).getOrElse(RetainSnapshots),
      deletes = head.deletes, op = "publish",
      meta = head.meta.orElse(cur.meta))
    dropBranch(fs, qt, name)
    (base, base + 1)
  }

  /** Publish a branch's NET ADDITIONS (entries not in its fork state)
    * onto the CURRENT main snapshot — the divergence-tolerant publish:
    * branches are append-only, so their additions compose onto any
    * later main state (Iceberg's cherry-pick of append snapshots).
    * Whatever main did meanwhile — appends, DELETE/UPDATE, compaction,
    * schema DDL — is kept; the staged files are appended on top in one
    * commit, with the same-seq race detection retried here. A main
    * equality-delete sidecar stamped after the staged files still
    * applies to them (stamp order = newest-wins, unchanged). Returns
    * (published seq, files added) and drops the branch.
    */
  def cherryPick(conf: org.apache.hadoop.conf.Configuration,
                 table: String, name: String): (Long, Int) = {
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    require(branchExists(fs, qt, name),
      s"graft-orc: no branch '$name' on $table (available: " +
        s"${listBranches(fs, qt).mkString(", ")})")
    val head = readSnapshot(fs, qt, Some(name)).get
    val (forkRel: Set[String], forkDel: Option[Set[String]]) = {
      val in = fs.open(basePath(qt, name))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      val entries = lines.filter(_.startsWith("{\"p\":"))
        .map(l => jsonString(l, "p")).toSet
      // fork sidecar witness: only present (as "d" lines + the "dv":1
      // header marker) on witnesses written since the marker existed
      val hasDv = lines.headOption.exists(_.contains("\"dv\":1"))
      val dels =
        if (hasDv) Some(lines.filter(_.startsWith("{\"d\":"))
          .map(l => jsonString(l, "d")).toSet)
        else None
      (entries, dels)
    }
    val netNew0 = head.entries.filterNot(e =>
      forkRel(relativize(qt, e.path)))
    // cherry-pick publishes the branch's NET ADDITIONS onto a possibly
    // diverged main — that arithmetic is only sound for an append-only
    // branch. A branch that ran DML (CoW DELETE/UPDATE removed fork
    // files; MoR staged position sidecars) cannot be picked: publishing
    // its rewrites as additions would duplicate the surviving rows of
    // every rewritten fork file, and its sidecars reference branch
    // state main never had. Refuse loudly; fast_forward (same-lineage
    // publish) is the operation that carries destructive stages.
    val headRel = head.entries.map(e => relativize(qt, e.path)).toSet
    val removedFromFork = forkRel -- headRel
    require(removedFromFork.isEmpty,
      s"graft-orc: branch '$name' removed or rewrote " +
        s"${removedFromFork.size} fork file(s) (branch DML) — " +
        "cherry_pick publishes net additions only and would duplicate " +
        "their surviving rows; use fast_forward to publish a " +
        "destructive stage")
    // Branch MoR DML detection must compare against the FORK state, not
    // current main: an append-only branch CARRIES the fork snapshot's
    // sidecars, and main may have consolidated/purged/compacted them
    // away meanwhile — those inherited sidecars are harmless (the pick
    // publishes net-new DATA files only; main's own delete set rules).
    // Comparing against current main misclassified that interleaving as
    // branch DML and failed a pure-append WAP publish (caught by the
    // concurrency stress racing wap against consolidate). Only a
    // sidecar the branch ADDED (present at head, absent from the fork
    // witness) is real branch MoR DML and unpickable. Old witnesses
    // without the "dv":1 marker can't tell inherited from added —
    // there, fall back to the current-main comparison (conservative:
    // may still refuse a pickable branch, never picks an unpickable
    // one).
    val branchAddedSidecars = forkDel match {
      case Some(fd) => head.deletes.map(d => relativize(qt, d.path))
        .toSet -- fd
      case None =>
        val mainDeletes = readSnapshot(fs, qt)
          .map(_.deletes.map(_.path).toSet).getOrElse(Set.empty)
        head.deletes.map(_.path).toSet -- mainDeletes
    }
    require(branchAddedSidecars.isEmpty,
      s"graft-orc: branch '$name' carries ${branchAddedSidecars.size} " +
        "delete sidecar(s) added on the branch (branch MoR DML) — " +
        "cherry_pick cannot replay position deletes onto a diverged " +
        "main; use fast_forward")
    var attempt = 0
    while (true) {
      try {
        // RE-STAMP the published files above everything main holds —
        // the Iceberg cherry-pick contract (the picked snapshot gets a
        // NEW sequence number): a main equality-delete sidecar that
        // committed after the branch staged these files must NOT apply
        // to them — the publish is the newer commit. Without this, the
        // staged files' original (older) stamps would put them under
        // the sidecar's applicability watermark and silently delete
        // colliding keys from the just-published batch.
        val cur = readSnapshot(fs, qt).getOrElse(Snapshot(0L, Nil))
        GraftOrcWrite.bumpPublishStamp(
          (cur.entries ++ cur.deletes).map(_.mtime).foldLeft(0L)(math.max))
        val netNew = GraftOrcWrite.restampEntries(fs, netNew0)
        commitSwap(fs, qt, remove = Set.empty, add = netNew,
          op = "cherrypick")
        dropBranch(fs, qt, name)
        return (readSnapshot(fs, qt).map(_.seq).getOrElse(0L),
          netNew.size)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= GraftOrcWrite.ManifestCommitRetries) throw e
          attempt += 1
      }
    }
    (0L, 0) // unreachable
  }

  /** Time-based snapshot expiry (Iceberg's `expire_snapshots(
    * older_than)`): drop retained MAIN snapshots committed before
    * `cutoffMs` — always keeping the newest, tagged seqs, and every
    * file another lineage (branch) still references — and physically
    * delete files only the dropped snapshots referenced. Unlike the
    * count-based retention (a commit-time policy), this is an explicit
    * maintenance sweep: no new snapshot is written. Returns the number
    * of snapshots expired. Single-driver scope like vacuum: do not run
    * concurrently with a commit.
    */
  def expireOlderThan(fs: FileSystem, table: Path, cutoffMs: Long,
                      branch: Option[String] = None): Int = {
    val qt = fs.makeQualified(table)
    val dir = snapDirOf(qt, branch)
    val refs = listSnapshots(fs, qt, branch).getOrElse(
      throw new IllegalArgumentException(
        if (branch.isEmpty)
          s"graft-orc: expire requires a manifest table, but $table " +
            s"has no $Dir"
        else s"graft-orc: no branch '${branch.get}' on $table " +
          s"(available: ${listBranches(fs, qt).mkString(", ")})"))
    if (refs.isEmpty) return 0
    val newest = refs.last.seq
    // tags pin the MAIN lineage only (same rule as commit-time expiry);
    // a branch's max-age sweep is scoped to ITS chain — files shared
    // with main or sibling branches survive via protectedPaths
    val tagged =
      if (branch.isEmpty) listTags(fs, qt).map(_._2).toSet
      else Set.empty[Long]
    val (dead, keep) = refs.partition(r =>
      r.seq != newest && !tagged(r.seq) && r.commitMs < cutoffMs)
    if (dead.isEmpty) return 0
    val deadSegRefs = dead.flatMap(r => segRefNamesOf(fs, r.path))
    val live = keep.flatMap(r => allEntriesOfFile(fs, qt, r.path))
      .map(_.path).toSet ++ protectedPaths(fs, qt, excluding = dir)
    val victims = dead.flatMap(r => allEntriesOfFile(fs, qt, r.path))
      .filterNot(e => live(e.path))
      .groupBy(_.path).values.map(_.head).toSeq
    deleteFiles(fs, qt, victims)
    dead.foreach(r => fs.delete(r.path, false))
    gcSegments(fs, dir, deadSegRefs, keep.map(_.path))
    dead.size
  }

  /** Roll the table back to retained snapshot `seq` — as a NEW commit
    * whose content (files, delete sidecars, schema) is that snapshot's,
    * never by rewriting history: the rolled-past snapshots stay
    * readable until expiry, concurrent readers never see a seq vanish,
    * and the rollback itself is one atomic snapshot rename that the
    * same-seq race detection serializes against concurrent writers.
    * The schema rolls back WITH the data (a rollback across a DDL
    * restores the pre-DDL schema — the Iceberg contract), while the
    * persisted retention policy of the CURRENT snapshot carries
    * forward. Typed error when `seq` is not retained.
    */
  def rollback(conf: org.apache.hadoop.conf.Configuration,
               table: String, seq: Long): Unit = {
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    val cur = readSnapshot(fs, qt).getOrElse(
      throw new IllegalArgumentException(
        s"graft-orc: rollback requires a manifest table, but $table " +
          s"has no $Dir"))
    require(seq != cur.seq,
      s"graft-orc: table $table is already at snapshot $seq")
    val target = resolveSnapshot(fs, qt, Selector.ById(seq))
    writeSnapshot(fs, qt, cur.seq + 1, target.entries,
      cur.retain.getOrElse(RetainSnapshots),
      deletes = target.deletes, op = "rollback", meta = target.meta,
      // the rolled-back-to snapshot's segments are same-lineage and
      // still retained — carry them instead of re-serializing the table
      carryFrom = Some(target))
  }

  /** Garbage-collect a manifest table: physically delete every visible
    * `.orc` file that NO retained snapshot references — the leftovers of
    * crashed commits (waves renamed into place but never manifested),
    * lost-race snapshots, and expiries the best-effort pass skipped.
    * Returns the number of files deleted. Single-driver scope like every
    * mutation here: do not run concurrently with a commit (an in-flight
    * commit's just-renamed waves are not yet manifested and would be
    * swept). Typed error on non-manifest tables, where a BFS listing IS
    * the table and everything visible is live by definition.
    */
  def vacuum(conf: org.apache.hadoop.conf.Configuration,
             table: String, olderThanMs: Long = Long.MaxValue): Int = {
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    require(exists(fs, qt),
      s"graft-orc: vacuum requires a manifest table, but $table has no " +
        Dir)
    val live = retainedPaths(fs, qt)
    // manifest-blind BFS: list what's physically visible on disk
    val visible = new GraftOrcFileIndex(conf, Seq(table),
      ignoreManifest = true).entries
    // delete sidecars live under `_graft_deletes/` which the BFS skips
    // (`_` prefix) — sweep crashed MoR-delete leftovers explicitly
    val staleSidecars =
      try fs.listStatus(new Path(qt, GraftOrcMor.DeletesDir)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".orc"))
        .map(st => OrcFileEntry(fs.makeQualified(st.getPath).toString,
          st.getLen, Map.empty, st.getModificationTime))
      catch { case _: java.io.FileNotFoundException => Nil }
    // optional age cutoff: sweeping only files older than a threshold
    // spares ANOTHER driver's in-flight unmanifested waves (visible but
    // not yet committed) when vacuum cannot coordinate with it
    val victims = (visible ++ staleSidecars)
      .filterNot(e => live(e.path)).filter(_.mtime < olderThanMs)
    deleteFiles(fs, qt, victims)
    // segment files no snapshot of their own lineage references are
    // crashed-commit leftovers (written before a snapshot that never
    // published) — same age guard spares another driver's in-flight
    // commit window
    var staleSegs = 0
    lineageDirs(fs, qt).foreach { d =>
      // STRICT live-ref scan, same posture as gcSegments: every
      // snapshot in this lineage is live here, so a failed ref read
      // must skip the lineage's segment sweep (orphans leak to the
      // next vacuum), never default the snapshot's refs to Nil and
      // sweep segments it still references
      val liveSegs =
        try Some(snapFilesIn(fs, d).flatMap { p =>
          try segRefNamesOf(fs, p, lenient = false)
          catch { case scala.util.control.NonFatal(t) =>
            throw new java.io.IOException(
              s"segment-ref read failed on live snapshot $p", t) }
        }.toSet)
        catch { case scala.util.control.NonFatal(t) =>
          log.warn("graft-orc vacuum: segment sweep SKIPPED for lineage " +
            "{} (orphan segments leak until a retry succeeds): {}",
            d: Any, t.getMessage: Any)
          None }
      val orphans = liveSegs match {
        case None => Nil
        case Some(live) =>
          try fs.listStatus(d).toSeq.filter(st => st.isFile &&
            st.getPath.getName.startsWith("seg-") &&
            st.getPath.getName.endsWith(".json") &&
            !live(st.getPath.getName) &&
            st.getModificationTime < olderThanMs)
          catch { case _: java.io.FileNotFoundException => Nil }
      }
      orphans.foreach { st =>
        segCacheDrop(st.getPath.toString)
        try { if (fs.delete(st.getPath, false)) staleSegs += 1 }
        catch { case _: java.io.IOException => }
      }
      // crashed commits (and pre-cleanup lock timeouts) can leave staged
      // `.tmp-` snapshot files: never published, referenced by nothing.
      // Sweep them under the same age guard that spares another driver's
      // in-flight commit window.
      val staleTmp =
        try fs.listStatus(d).toSeq.filter(st => st.isFile &&
          st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime < olderThanMs)
        catch { case _: java.io.FileNotFoundException => Nil }
      staleTmp.foreach { st =>
        try { if (fs.delete(st.getPath, false)) staleSegs += 1 }
        catch { case _: java.io.IOException => }
      }
    }
    victims.size + staleSegs
  }

  // table properties ride ONE quoted string: pairs joined with NUL (a
  // char jsonQuote escapes and jsonString restores, and which cannot
  // occur in a property key or value that came through SQL)
  private def writeProps(props: Map[String, String]): String =
    props.toSeq.sortBy(_._1)
      .map { case (k, v) => k + "\u0000" + v }.mkString("\u0000")

  private def parseProps(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split("\u0000", -1).grouped(2)
      .collect { case Array(k, v) => k -> v }.toMap

  // ---- minimal JSON helpers (fixed flat schema; no library available) ----

  /** Quoted-string write with an escape-free fast path: one scan to
    * check, then either the raw string (zero allocation) or the full
    * [[jsonQuote]] escape walk.
    */
  private def writeQuoted(w: java.io.Writer, s: String): Unit = {
    var needs = false
    var i = 0
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') needs = true
      i += 1
    }
    if (!needs) { w.write('"'); w.write(s); w.write('"') }
    else w.write(jsonQuote(s))
  }

  private def jsonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def jsonString(line: String, key: String): String = {
    val tag = "\"" + key + "\":\""
    val i = line.indexOf(tag)
    require(i >= 0, s"graft-orc manifest: no $key in $line")
    val sb = new StringBuilder
    var j = i + tag.length
    while (j < line.length && line.charAt(j) != '"') {
      val c = line.charAt(j)
      if (c == '\\' && j + 1 < line.length) {
        line.charAt(j + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(line.substring(j + 2, j + 6), 16).toChar)
            j += 6
          case esc => sb.append(esc); j += 2
        }
      } else { sb.append(c); j += 1 }
    }
    sb.toString
  }

  private def jsonLong(line: String, key: String): Long = {
    val tag = "\"" + key + "\":"
    val i = line.indexOf(tag)
    require(i >= 0, s"graft-orc manifest: no $key in $line")
    var j = i + tag.length
    val sb = new StringBuilder
    while (j < line.length && (line.charAt(j).isDigit || line.charAt(j) == '-')) {
      sb.append(line.charAt(j)); j += 1
    }
    sb.toString.toLong
  }
}

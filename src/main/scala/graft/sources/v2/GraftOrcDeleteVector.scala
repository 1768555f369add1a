package graft.sources.v2

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Position-delete sidecars of graft's merge-on-read DELETE — the
  * Iceberg-v3 deletion-vector encoding (Puffin-shaped), and the only
  * position encoding: `dv-*.bin` under `_graft_deletes/` (equality
  * sidecars are `e-*.orc`).
  *
  * A deletion vector stores one COMPRESSED BITMAP of deleted ordinals
  * per data file behind a header index, so a scan task seeks directly
  * to its file's payload instead of decoding every deleted position of
  * the table, and a dense delete costs ~1 bit per row.
  *
  * Container design (roaring, reimplemented — no dependency): positions
  * partition by `pos >>> 16`; each 65536-ordinal chunk is either a
  * sorted short ARRAY (sparse, <= 4096 entries = <= 8 KB) or a plain
  * BITMAP (dense, fixed 8 KB), the classic space-optimal switch point.
  * `contains` is a binary search or a bit probe; iteration yields
  * ascending ordinals, which is exactly the sorted-run contract the
  * scan's advancing-pointer merge expects.
  *
  * File layout (version in the magic): `GRDV1` then repeated entries
  * `[relPathUtf][payloadLen][payload]` with a zero-length path as the
  * terminator. The header walk (skipping payloads) is the per-task
  * index read; `bitmapFor` decodes only the target file's payload. Any
  * other file — such as a row-ORC `d-*.orc` sidecar an older release
  * wrote — fails the magic check with an IOException naming it, so a
  * read never silently skips a delete.
  */
object GraftOrcDeleteVector {

  private val Magic: Array[Byte] = "GRDV1".getBytes("UTF-8")

  /** Sparse-or-dense 16-bit container. */
  private final class Container {
    // sorted unique low-16 values while sparse; bitmap once > 4096
    private var arr: Array[Char] = new Array[Char](8)
    private var n: Int = 0
    private var bits: Array[Long] = _

    def add(low: Int): Unit = {
      if (bits != null) { bits(low >>> 6) |= (1L << (low & 63)); return }
      val c = low.toChar
      val at = java.util.Arrays.binarySearch(arr, 0, n, c)
      if (at >= 0) return
      if (n == 4096) {
        bits = new Array[Long](1024)
        var i = 0
        while (i < n) { bits(arr(i) >>> 6) |= (1L << (arr(i) & 63)); i += 1 }
        arr = null
        bits(low >>> 6) |= (1L << (low & 63))
        return
      }
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      val ins = -at - 1
      System.arraycopy(arr, ins, arr, ins + 1, n - ins)
      arr(ins) = c
      n += 1
    }

    def contains(low: Int): Boolean =
      if (bits != null) (bits(low >>> 6) & (1L << (low & 63))) != 0
      else java.util.Arrays.binarySearch(arr, 0, n, low.toChar) >= 0

    def cardinality: Int =
      if (bits == null) n
      else { var c = 0; var i = 0
             while (i < 1024) { c += java.lang.Long.bitCount(bits(i)); i += 1 }
             c }

    /** Ascending low-16 values into `out` (absolute ordinals). */
    def drainTo(base: Long, out: collection.mutable.ArrayBuffer[Long]): Unit =
      if (bits == null) {
        var i = 0
        while (i < n) { out += base + arr(i); i += 1 }
      } else {
        var w = 0
        while (w < 1024) {
          var word = bits(w)
          while (word != 0) {
            out += base + (w << 6) + java.lang.Long.numberOfTrailingZeros(word)
            word &= word - 1
          }
          w += 1
        }
      }

    def write(out: DataOutputStream): Unit =
      if (bits == null) {
        out.writeByte(0); out.writeInt(n)
        var i = 0
        while (i < n) { out.writeChar(arr(i)); i += 1 }
      } else {
        out.writeByte(1)
        var i = 0
        while (i < 1024) { out.writeLong(bits(i)); i += 1 }
      }
  }

  private object Container {
    def read(in: DataInputStream): Container = {
      val c = new Container
      in.readByte() match {
        case 0 =>
          val n = in.readInt()
          c.arr = new Array[Char](math.max(8, n)); c.n = n
          var i = 0
          while (i < n) { c.arr(i) = in.readChar(); i += 1 }
        case 1 =>
          c.bits = new Array[Long](1024); c.arr = null
          var i = 0
          while (i < 1024) { c.bits(i) = in.readLong(); i += 1 }
        case other => throw new java.io.IOException(
          s"graft-orc dv: unknown container type $other")
      }
      c
    }
  }

  /** One data file's deleted-ordinal set. */
  final class PositionBitmap {
    private val chunks = new java.util.TreeMap[Long, Container]()

    def add(pos: Long): Unit = {
      require(pos >= 0, s"graft-orc dv: negative position $pos")
      var c = chunks.get(pos >>> 16)
      if (c == null) { c = new Container; chunks.put(pos >>> 16, c) }
      c.add((pos & 0xffff).toInt)
    }

    def contains(pos: Long): Boolean = {
      val c = chunks.get(pos >>> 16)
      c != null && c.contains((pos & 0xffff).toInt)
    }

    def cardinality: Long = {
      var c = 0L
      chunks.values.forEach(k => c += k.cardinality)
      c
    }

    /** Ascending ordinals — the scan's sorted-run contract. */
    def toSortedArray: Array[Long] = {
      val out = new collection.mutable.ArrayBuffer[Long](
        math.min(cardinality, Int.MaxValue.toLong).toInt)
      chunks.forEach((hi, c) => c.drainTo(hi << 16, out))
      out.toArray
    }

    private[GraftOrcDeleteVector] def write(out: DataOutputStream): Unit = {
      out.writeInt(chunks.size)
      chunks.forEach { (hi, c) => out.writeLong(hi); c.write(out) }
    }
  }

  object PositionBitmap {
    def of(positions: IterableOnce[Long]): PositionBitmap = {
      val b = new PositionBitmap
      positions.iterator.foreach(b.add)
      b
    }

    private[GraftOrcDeleteVector] def read(in: DataInputStream)
        : PositionBitmap = {
      val b = new PositionBitmap
      val nc = in.readInt()
      var i = 0
      while (i < nc) {
        val hi = in.readLong()
        b.chunks.put(hi, Container.read(in))
        i += 1
      }
      b
    }
  }

  /** Write one sidecar of (table-relative data file -> bitmap) entries. */
  def write(fs: FileSystem, dest: Path,
            entries: Iterator[(String, PositionBitmap)]): Unit = {
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(dest, true)))
    try {
      out.write(Magic)
      entries.foreach { case (rel, bm) =>
        val pathBytes = rel.getBytes("UTF-8")
        require(pathBytes.nonEmpty, "graft-orc dv: empty data-file path")
        out.writeInt(pathBytes.length)
        out.write(pathBytes)
        val buf = new java.io.ByteArrayOutputStream()
        val d = new DataOutputStream(buf)
        bm.write(d); d.flush()
        out.writeInt(buf.size())
        buf.writeTo(out)
      }
      out.writeInt(0) // terminator
      out.flush()
    } finally out.close()
  }

  /** `DataInputStream.skipBytes` is single-attempt (it may skip fewer
    * bytes than asked, legally, on any buffered/remote stream) — a
    * short skip would silently desynchronize the header walk. Loop to
    * the full count; fail loudly on a truncated file.
    */
  private def skipFully(in: DataInputStream, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skipBytes(left)
      if (s <= 0) {
        if (in.read() < 0) throw new java.io.EOFException(
          s"graft-orc dv: truncated sidecar ($left bytes missing)")
        left -= 1
      } else left -= s
    }
  }

  private def open(conf: Configuration, path: String): DataInputStream = {
    val p = new Path(path)
    val in = new DataInputStream(new java.io.BufferedInputStream(
      p.getFileSystem(conf).open(p)))
    val m = new Array[Byte](Magic.length)
    in.readFully(m)
    if (!java.util.Arrays.equals(m, Magic)) {
      in.close()
      throw new java.io.IOException(
        s"graft-orc dv: $path is not a deletion-vector sidecar")
    }
    in
  }

  /** Header walk: every referenced table-relative data file (payloads
    * skipped — this is the per-task/planner index read).
    */
  def files(conf: Configuration, path: String): Seq[String] = {
    val in = open(conf, path)
    try {
      val out = Seq.newBuilder[String]
      var len = in.readInt()
      while (len > 0) {
        val b = new Array[Byte](len)
        in.readFully(b)
        out += new String(b, "UTF-8")
        skipFully(in, in.readInt())
        len = in.readInt()
      }
      out.result()
    } finally in.close()
  }

  /** Decode ONLY `rel`'s bitmap (payloads of other files are skipped). */
  def bitmapFor(conf: Configuration, path: String,
                rel: String): Option[PositionBitmap] = {
    val in = open(conf, path)
    try {
      var len = in.readInt()
      while (len > 0) {
        val b = new Array[Byte](len)
        in.readFully(b)
        val plen = in.readInt()
        if (new String(b, "UTF-8") == rel)
          return Some(PositionBitmap.read(in))
        skipFully(in, plen)
        len = in.readInt()
      }
      None
    } finally in.close()
  }

  /** Full decode into (rel, pos) pairs — the DataFrame bridge for
    * purge/changelog/CoW subtraction (runs on executors, one sidecar
    * per input split).
    */
  def allPairs(conf: Configuration, path: String): Iterator[(String, Long)] = {
    val in = open(conf, path)
    try {
      val out = Seq.newBuilder[(String, Long)]
      var len = in.readInt()
      while (len > 0) {
        val b = new Array[Byte](len)
        in.readFully(b)
        val rel = new String(b, "UTF-8")
        in.readInt() // payload length (decoded inline)
        PositionBitmap.read(in).toSortedArray.foreach(p => out += rel -> p)
        len = in.readInt()
      }
      out.result().iterator
    } finally in.close()
  }
}

package graft.sources.v2

import java.nio.ByteBuffer

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.orc.{OrcFile, Reader}
import org.apache.orc.impl.{OrcTail, ReaderImpl}
import org.slf4j.LoggerFactory

/** Honors `orc.metadata_size_hint` (reference src/options.rs:36, 88-90):
  * fetch the file tail in ONE ranged read of the hinted size, parse the
  * postscript+footer out of it, and hand the pre-parsed tail to the ORC
  * reader — which then performs no footer I/O of its own. On object
  * stores this turns reader-open from "guess 16 KB, maybe re-fetch" into
  * exactly one round trip sized by the user who knows their footers.
  *
  * If the hint is too small for the actual tail (or the bytes do not
  * parse), the reader falls back to its normal self-managed footer read —
  * the hinted fetch is then wasted work, surfaced to the caller as a
  * second metadata read (the reference has the same failure mode: a bad
  * hint costs an extra fetch, never an error).
  */
object GraftOrcTailReader {

  private val log = LoggerFactory.getLogger(getClass)

  /** (reader, tail, rangedMetadataReads). `tail` is the parsed
    * postscript+footer the reader was opened on; hand it to the split's
    * batch reader so the footer is read once per split. The count is 1
    * when the hint covered the tail (or no hint was given — the reader's
    * own footer read), 2 when the hinted read was insufficient and the
    * reader re-fetched.
    */
  def createReader(path: Path, conf: Configuration, fileLength: Long,
                   metadataSizeHint: Option[Long]): (Reader, OrcTail, Int) = {
    val (opts, reads) = openOptions(path, conf, fileLength, metadataSizeHint)
    // ReaderImpl stores the tail it parsed (or was given) in its options
    val reader = OrcFile.createReader(path, opts)
    (reader, opts.getOrcTail, reads)
  }

  private def openOptions(path: Path, conf: Configuration, fileLength: Long,
                          metadataSizeHint: Option[Long])
      : (OrcFile.ReaderOptions, Int) =
    metadataSizeHint match {
      case Some(hint) if hint > 0 && fileLength > 0 =>
        val fs = path.getFileSystem(conf)
        val n = math.min(math.min(hint, fileLength), Int.MaxValue.toLong).toInt
        val tail =
          try {
            val buf = new Array[Byte](n)
            val in = fs.open(path)
            try in.readFully(fileLength - n, buf, 0, n) finally in.close()
            // buffer = last n bytes of the file; parse postscript + footer.
            // mtime -1: the tail is used immediately, never cache-validated
            Some(ReaderImpl.extractFileTail(ByteBuffer.wrap(buf), fileLength, -1))
          } catch { case NonFatal(e) =>
            // fall back to the reader's own footer read either way, but a
            // genuine I/O failure (permissions, transient network) must be
            // distinguishable in the field from a merely-too-small hint
            log.warn(s"hinted tail read of $n bytes for $path failed " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "falling back to the reader's own footer read")
            None
          }
        tail match {
          case Some(t) => (OrcFile.readerOptions(conf).filesystem(fs).orcTail(t), 1)
          case None => (OrcFile.readerOptions(conf).filesystem(fs), 2)
        }
      case _ => (OrcFile.readerOptions(conf), 1)
    }
}

package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftOrcManifest, OrcFileEntry}

/** Opt-in cross-driver commit lock (`-Dgraft.commit.lock=file`): the
  * occupancy-check -> rename window of writeSnapshot serializes across
  * DRIVERS via an atomic create-no-overwrite of `commit.lock` in the
  * lineage dir. Covered: lock lifecycle (acquired + released around a
  * normal commit), loud timeout against a held lock, stale-lock
  * takeover after a crashed holder, the mtime+content anchoring of the
  * takeover delete (a released-and-re-acquired fresh lock survives a
  * racer's takeover attempt), and that the default (no property) path
  * never touches a lock file.
  */
class GraftOrcCommitLockSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.withProps

  private def fsFor(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mk(n: Int, qt: Path): Seq[OrcFileEntry] =
    (0 until n).map(i => OrcFileEntry(s"$qt/part-$i.snappy.orc",
      1000L + i, Map.empty, 1786692091502L + i))

  test("with the lock enabled a commit acquires and releases it; " +
    "without the property no lock file is ever created") {
    val dir = Files.createTempDirectory("graft-lock-basic").toString
    val fs = fsFor(dir)
    val qt = fs.makeQualified(new Path(dir))
    val lock = new Path(qt,
      "_graft_manifest/" + GraftOrcManifest.CommitLockName)
    GraftOrcManifest.writeSnapshot(fs, qt, 1L, mk(3, qt))
    assert(!fs.exists(lock), "default path created a lock file")
    withProps("graft.commit.lock" -> "file") {
      GraftOrcManifest.writeSnapshot(fs, qt, 2L, mk(5, qt))
    }
    assert(!fs.exists(lock), "lock not released after commit")
    assert(GraftOrcManifest.readSnapshot(fs, qt).get.entries.size === 5)
  }

  test("a lock held by another driver blocks the commit; the timeout " +
    "is loud and names the lock") {
    val dir = Files.createTempDirectory("graft-lock-held").toString
    val fs = fsFor(dir)
    val qt = fs.makeQualified(new Path(dir))
    GraftOrcManifest.writeSnapshot(fs, qt, 1L, mk(3, qt))
    val md = new Path(qt, "_graft_manifest")
    val lock = new Path(md, GraftOrcManifest.CommitLockName)
    val out = fs.create(lock, false)
    out.write("rival-driver".getBytes("UTF-8")); out.close()
    withProps("graft.commit.lock" -> "file",
      "graft.commit.lock.timeout_ms" -> "400") {
      val ex = intercept[java.util.ConcurrentModificationException] {
        GraftOrcManifest.writeSnapshot(fs, qt, 2L, mk(5, qt))
      }
      assert(ex.getMessage.contains(GraftOrcManifest.CommitLockName),
        ex.getMessage)
      // the timed-out commit must have withdrawn its staged state: no
      // orphaned .tmp- snapshot (or fresh segment) files left behind
      val staged = fs.listStatus(md).map(_.getPath.getName)
        .filter(n => n.startsWith(".tmp-") || n.startsWith("seg-"))
      assert(staged.isEmpty,
        s"lock timeout leaked staged files: ${staged.mkString(", ")}")
      // the rival releases: the retried commit goes through and cleans up
      fs.delete(lock, false)
      GraftOrcManifest.writeSnapshot(fs, qt, 2L, mk(5, qt))
    }
    assert(!fs.exists(lock))
    assert(GraftOrcManifest.readSnapshot(fs, qt).get.seq === 2L)
  }

  test("release is OWNERSHIP-GUARDED: a slow holder whose lock was " +
    "taken over as stale cannot delete the new holder's lock") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val dir = Files.createTempDirectory("graft-lock-token").toString
    val fs = fsFor(dir)
    val md = new Path(fs.makeQualified(new Path(dir)), "_graft_manifest")
    fs.mkdirs(md)
    val lock = new Path(md, GraftOrcManifest.CommitLockName)
    withProps("graft.commit.lock" -> "file",
      "graft.commit.lock.stale_ms" -> "250",
      "graft.commit.lock.timeout_ms" -> "10000") {
      val aHolds = new CountDownLatch(1)
      val aMayRelease = new CountDownLatch(1)
      val aDone = new CountDownLatch(1)
      val errs =
        new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val a = new Thread(() => {
        try GraftOrcManifest.withCommitFileLock(fs, md) {
          aHolds.countDown()
          aMayRelease.await(30, TimeUnit.SECONDS) // stall past stale_ms
        } catch { case t: Throwable => errs.set(t) }
        finally aDone.countDown()
      }, "slow-holder")
      a.start()
      assert(aHolds.await(10, TimeUnit.SECONDS), "A never acquired")
      Thread.sleep(500) // A's lock is now stale
      val bHolds = new CountDownLatch(1)
      val bMayRelease = new CountDownLatch(1)
      val b = new Thread(() => {
        try GraftOrcManifest.withCommitFileLock(fs, md) {
          bHolds.countDown()
          bMayRelease.await(30, TimeUnit.SECONDS)
        } catch { case t: Throwable => errs.set(t) }
      }, "takeover-holder")
      b.start()
      assert(bHolds.await(10, TimeUnit.SECONDS),
        "B could not take over the stale lock")
      // A finishes and releases AFTER the takeover: the ownership token
      // no longer matches, so B's lock must survive — otherwise a third
      // committer could enter B's window
      aMayRelease.countDown()
      assert(aDone.await(10, TimeUnit.SECONDS))
      assert(fs.exists(lock),
        "the slow holder's release deleted the NEW holder's lock")
      bMayRelease.countDown()
      b.join(10000)
      assert(!fs.exists(lock), "B's own release did not clean up")
      assert(errs.get() == null, s"unexpected failure: ${errs.get()}")
    }
  }

  test("takeover is MTIME-anchored: a lock that turns FRESH between the " +
    "staleness judgment and the delete (release + re-acquire race) " +
    "survives the takeover attempt") {
    val dir = Files.createTempDirectory("graft-lock-freshflip").toString
    val stats = new java.util.concurrent.atomic.AtomicInteger(0)
    // first stat of the lock reports STALE (the judgment); every later
    // stat reports fresh — simulating a holder that released and a
    // racer that re-acquired inside the judgment -> delete window
    val flip = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getFileStatus(f: Path)
          : org.apache.hadoop.fs.FileStatus = {
        val st = super.getFileStatus(f)
        if (f.getName == GraftOrcManifest.CommitLockName) {
          val mtime = if (stats.incrementAndGet() == 1)
            System.currentTimeMillis() - 120000L
          else System.currentTimeMillis()
          new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
            1, st.getBlockSize, mtime, f)
        } else st
      }
    }
    flip.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val md = new Path(dir)
    flip.mkdirs(md)
    val lock = new Path(md, GraftOrcManifest.CommitLockName)
    val out = flip.create(lock, false)
    out.write("re-acquired-holder token".getBytes("UTF-8")); out.close()
    withProps("graft.commit.lock" -> "file",
      "graft.commit.lock.timeout_ms" -> "600",
      "graft.commit.lock.stale_ms" -> "1000") {
      intercept[java.util.ConcurrentModificationException] {
        GraftOrcManifest.withCommitFileLock(flip, md) {
          fail("body must not run: the lock is held and fresh")
        }
      }
    }
    assert(flip.exists(lock),
      "takeover deleted a lock that turned fresh after the judgment")
    assert(stats.get() >= 2, "the takeover path never re-statted")
  }

  test("takeover delete is ownership-token anchored: lock content that " +
    "CHANGES between the judgment read and the delete survives, even " +
    "with a stale mtime") {
    val dir = Files.createTempDirectory("graft-lock-tokenflip").toString
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    // mtime always reads stale, but every content read yields a NEW
    // token — the judged incarnation can never be re-confirmed, so the
    // guarded delete must never fire
    class Bytes(data: Array[Byte])
        extends java.io.ByteArrayInputStream(data)
        with org.apache.hadoop.fs.Seekable
        with org.apache.hadoop.fs.PositionedReadable {
      def seek(p: Long): Unit = { pos = p.toInt }
      def getPos: Long = pos
      def seekToNewSource(t: Long): Boolean = false
      def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
        if (position >= count) return -1
        val n = math.min(len, count - position.toInt)
        System.arraycopy(buf, position.toInt, b, off, n); n
      }
      def readFully(position: Long, b: Array[Byte], off: Int,
                    len: Int): Unit = {
        if (read(position, b, off, len) < len)
          throw new java.io.EOFException()
      }
      def readFully(position: Long, b: Array[Byte]): Unit =
        readFully(position, b, 0, b.length)
    }
    val shifty = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getFileStatus(f: Path)
          : org.apache.hadoop.fs.FileStatus = {
        val st = super.getFileStatus(f)
        if (f.getName == GraftOrcManifest.CommitLockName)
          new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
            1, st.getBlockSize, System.currentTimeMillis() - 120000L, f)
        else st
      }
      override def open(f: Path, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream =
        if (f.getName == GraftOrcManifest.CommitLockName)
          new org.apache.hadoop.fs.FSDataInputStream(new Bytes(
            s"token-${reads.incrementAndGet()}".getBytes("UTF-8")))
        else super.open(f, bufferSize)
    }
    shifty.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val md = new Path(dir)
    shifty.mkdirs(md)
    val lock = new Path(md, GraftOrcManifest.CommitLockName)
    val out = shifty.create(lock, false)
    out.write("real content".getBytes("UTF-8")); out.close()
    withProps("graft.commit.lock" -> "file",
      "graft.commit.lock.timeout_ms" -> "600",
      "graft.commit.lock.stale_ms" -> "100") {
      intercept[java.util.ConcurrentModificationException] {
        GraftOrcManifest.withCommitFileLock(shifty, md) {
          fail("body must not run: the judged token never re-confirms")
        }
      }
    }
    assert(shifty.exists(lock),
      "takeover deleted a lock whose ownership token had changed")
    assert(reads.get() >= 2, "the takeover path never re-read the token")
  }

  test("a persistent lock-create failure (store fault) gives up loudly " +
    "at the deadline instead of busy-spinning forever") {
    val dir = Files.createTempDirectory("graft-lock-fault").toString
    val faulty = new org.apache.hadoop.fs.RawLocalFileSystem {
      // every create overload funnels through this
      override protected def createOutputStreamWithMode(f: Path,
          append: Boolean,
          permission: org.apache.hadoop.fs.permission.FsPermission)
          : java.io.OutputStream =
        if (f.getName == GraftOrcManifest.CommitLockName)
          throw new java.io.IOException("injected store fault")
        else super.createOutputStreamWithMode(f, append, permission)
    }
    faulty.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    withProps("graft.commit.lock" -> "file",
      "graft.commit.lock.timeout_ms" -> "400") {
      var cleaned = false
      val t0 = System.nanoTime()
      val ex = intercept[java.util.ConcurrentModificationException] {
        GraftOrcManifest.withCommitFileLock(faulty, new Path(dir),
          onAcquireFailure = () => cleaned = true) {
          fail("body must not run when acquisition never succeeds")
        }
      }
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(ex.getMessage.contains("could not acquire"), ex.getMessage)
      assert(elapsedMs < 10000,
        f"deadline not honored: spun for $elapsedMs%.0f ms")
      assert(cleaned, "acquisition failure did not run the staged-state " +
        "cleanup callback")
    }
  }

  test("a STALE lock (crashed holder) is taken over instead of wedging " +
    "every committer forever") {
    val dir = Files.createTempDirectory("graft-lock-stale").toString
    val fs = fsFor(dir)
    val qt = fs.makeQualified(new Path(dir))
    GraftOrcManifest.writeSnapshot(fs, qt, 1L, mk(3, qt))
    val lock = new Path(qt,
      "_graft_manifest/" + GraftOrcManifest.CommitLockName)
    val out = fs.create(lock, false)
    out.write("crashed-driver".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1)
    withProps("graft.commit.lock" -> "file") {
      GraftOrcManifest.writeSnapshot(fs, qt, 2L, mk(5, qt))
    }
    assert(!fs.exists(lock))
    assert(GraftOrcManifest.readSnapshot(fs, qt).get.seq === 2L)
  }

  test("a FUTURE-skewed lock mtime (store/rival clock far ahead) is " +
    "treated as unjudgeable and taken over, not fresh-forever — without " +
    "the symmetric staleness every writer would block until wall clock " +
    "caught up to the skew") {
    val dir = Files.createTempDirectory("graft-lock-skew").toString
    val fs = fsFor(dir)
    val qt = fs.makeQualified(new Path(dir))
    GraftOrcManifest.writeSnapshot(fs, qt, 1L, mk(3, qt))
    val lock = new Path(qt,
      "_graft_manifest/" + GraftOrcManifest.CommitLockName)
    val out = fs.create(lock, false)
    out.write("skewed-driver".getBytes("UTF-8")); out.close()
    // 10 minutes in the future: under the old one-sided test
    // (now - mtime > staleMs) this lock reads "fresh" for the next
    // ~11 minutes and the commit below would spin to its 30 s timeout
    fs.setTimes(lock, System.currentTimeMillis() + 600000L, -1)
    withProps("graft.commit.lock" -> "file") {
      GraftOrcManifest.writeSnapshot(fs, qt, 2L, mk(5, qt))
    }
    assert(!fs.exists(lock))
    assert(GraftOrcManifest.readSnapshot(fs, qt).get.seq === 2L)
  }

  test("vacuum sweeps AGED .tmp- staging leftovers (crashed commits) " +
    "but spares fresh ones inside another driver's in-flight window") {
    val dir = Files.createTempDirectory("graft-lock-tmpsweep").toString
    val fs = fsFor(dir)
    val qt = fs.makeQualified(new Path(dir))
    GraftOrcManifest.writeSnapshot(fs, qt, 1L, mk(3, qt))
    val md = new Path(qt, "_graft_manifest")
    def drop(name: String, ageMs: Long): Path = {
      val p = new Path(md, name)
      val o = fs.create(p, true)
      o.write("staged".getBytes("UTF-8")); o.close()
      fs.setTimes(p, System.currentTimeMillis() - ageMs, -1)
      p
    }
    val old = drop(".tmp-deadbeef", 120000L)
    val fresh = drop(".tmp-inflight", 0L)
    val conf = spark.sparkContext.hadoopConfiguration
    val swept = GraftOrcManifest.vacuum(conf, qt.toString,
      olderThanMs = System.currentTimeMillis() - 60000L)
    assert(swept >= 1)
    assert(!fs.exists(old), "aged .tmp- leftover not swept")
    assert(fs.exists(fresh), "vacuum swept a fresh in-flight .tmp- file")
    // live state untouched
    assert(GraftOrcManifest.readSnapshot(fs, qt).get.entries.size === 3)
  }
}

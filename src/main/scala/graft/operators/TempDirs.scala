package graft.operators

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Scratch directories of the operator queries (single-use table
  * copies, warehouses, change-feed checkpoints) under the JVM tmpdir.
  * Every one is swept at JVM exit, so repeated bench/verify iterations
  * do not accumulate them; a query that is done with a directory
  * before then removes it itself.
  */
private[operators] object TempDirs {

  private val live =
    java.util.Collections.synchronizedList(new java.util.ArrayList[File]())

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    live.forEach(d => deleteTree(d))))

  /** A fresh directory named `prefix<random>`, registered for the sweep. */
  def create(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    live.add(d)
    d.toString
  }

  /** Remove `dir` and everything under it now. */
  def remove(dir: String): Unit = {
    val d = new File(dir)
    deleteTree(d)
    live.remove(d)
  }

  private def deleteTree(d: File): Unit =
    try {
      val paths = Files.walk(d.toPath)
      try paths.iterator().asScala.toSeq.reverse.foreach(_.toFile.delete())
      finally paths.close()
    } catch { case _: Throwable => () }
}

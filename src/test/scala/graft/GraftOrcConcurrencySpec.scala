package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Real concurrent committers against one manifest table — the
  * optimistic-concurrency contract with actual thread interleavings
  * instead of single-threaded simulations: appends retry on top of
  * winners, the blind upsert sequence-validates (and re-stamps) against
  * rival rewrites, compaction refuses to commit over sidecars it did not
  * plan for, and whatever the interleaving, the final state equals the
  * serial application of the operations that reported success.
  *
  * The committers live in [[ConcurrentCommitters]]; this spec pins the
  * contract in CI at a size that keeps the suite fast. The in-JVM race of
  * appends against auto and explicit compaction under the file commit
  * lock is pinned by GraftOrcCompactSpec.
  */
class GraftOrcConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("appends + blind upsert + compaction racing one table: every " +
    "commit lands exactly once or throws; final state equals the " +
    "serial oracle of the successes") {
    val dir = Files.createTempDirectory("graft-conc").toString + "/t"
    val res = ConcurrentCommitters.concurrentCommitters(spark, dir,
      appenders = 3, rounds = 3)
    assert(res.ok,
      s"diverged: $res")
    // the race is real: all attempts resolved (no hangs), and the
    // successes + loud conflicts account for every committer
    assert(res.attempted == res.succeeded + res.conflicts, res)
    assert(res.succeeded > 0)
  }
}

package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** The one way graft-orc ships a Hadoop configuration to its tasks: as a
  * `Broadcast[SerializableConfiguration]`, the way Spark's own
  * `OrcScan.createReaderFactory` does, never embedded in a task closure
  * or reader/writer factory. An embedded conf (about a thousand entries,
  * ~100 KB serialized) is deserialized by every task; a broadcast once
  * per executor.
  *
  * '''Memo.''' [[broadcast]] ships a COPY of the given conf and
  * memoizes the broadcast by that copy's full content (every key/value
  * pair) per live `SparkContext`, so repeated scans and writes under an
  * unchanged conf reuse one broadcast instead of re-serializing the conf
  * on the driver each time. Any changed value is a different key: a
  * stale conf is never served. Entries of stopped contexts are purged on
  * the next call.
  *
  * '''Eviction.''' At most [[MaxEntries]] broadcasts stay memoized,
  * least recently used first out. An evicted broadcast is only dropped
  * from the memo, never destroyed — a planned or running query may still
  * read it; Spark's `ContextCleaner` removes it once no plan references
  * it.
  *
  * '''Read-only contract.''' In local mode the broadcast value is the
  * driver's own object, shared by every task of every query that reuses
  * the entry (on a cluster, by every task of an executor). Task code must
  * never mutate `value.value`: copy it first (`new Configuration(...)`)
  * wherever a reader or writer sets keys.
  */
object GraftOrcConfShipping {

  /** Memo bound. Distinct confs in use at once are few: the session
    * conf, and one prepared write conf per target schema and option set.
    */
  val MaxEntries = 16

  private final class Entry(val sc: SparkContext,
                            val props: java.util.Map[String, String],
                            val bc: Broadcast[SerializableConfiguration])

  // most recently used first
  private val memo = collection.mutable.ArrayBuffer.empty[Entry]

  def broadcast(sc: SparkContext,
                conf: Configuration): Broadcast[SerializableConfiguration] = {
    val props = contentOf(conf)
    memo.synchronized {
      memo.filterInPlace(!_.sc.isStopped)
      val i = memo.indexWhere(e => (e.sc eq sc) && e.props == props)
      val entry =
        if (i >= 0) memo.remove(i)
        else {
          // key the entry by what it ships: the copy, not `conf`, which
          // another thread may have changed since `props` was read
          val copy = new Configuration(conf)
          new Entry(sc, contentOf(copy),
            sc.broadcast(new SerializableConfiguration(copy)))
        }
      memo.prepend(entry)
      if (memo.size > MaxEntries) memo.remove(memo.size - 1)
      entry.bc
    }
  }

  private def contentOf(conf: Configuration): java.util.Map[String, String] = {
    val props = new java.util.HashMap[String, String]()
    conf.iterator().forEachRemaining(e => props.put(e.getKey, e.getValue))
    props
  }
}

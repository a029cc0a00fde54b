package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The operator memos: one entry per kind (the LSH pair list, the cluster
  * labels, the signature bases, the BPE merge table, ...), tagged with the
  * (session, data dir) it was built for. Reusing an intermediate within a
  * session is the library's own concern; [[reset]] drops every entry, so a
  * measurement sees each query as a user's first call runs it.
  *
  * A call for another session or dir replaces the kind's entry; a replaced
  * or reset `localCheckpoint`ed frame has its blocks freed, which the
  * ContextCleaner would not do while this object still reached the frame. */
object Memo {
  private final class Slot {
    var key: (SparkSession, String) = null
    var value: Any = null
  }

  // One lock per kind: running a multi-second build inside
  // ConcurrentHashMap.compute would hold that hash BIN's lock, silently
  // serializing concurrent builds of different kinds that collide in a bin
  // ("ngram" and "embed_assigned" do, in the initial 16-bin table),
  // defeating ensembleEdges' concurrent base warm. computeIfAbsent here only
  // allocates a Slot, so it never blocks on Spark work.
  private val slots = new ConcurrentHashMap[String, Slot]

  /** The `kind` entry for (s, dir), built by `build` on a miss. A build that
    * throws memoizes nothing. */
  def get[T](kind: String, s: SparkSession, dir: String)(build: => T): T = {
    val slot = slots.computeIfAbsent(kind, _ => new Slot)
    slot.synchronized {
      if (slot.key != ((s, dir))) {
        free(slot)
        slot.value = build
        slot.key = (s, dir)
      }
      slot.value.asInstanceOf[T]
    }
  }

  /** Drops every entry, so the next query runs its pipeline cold. */
  def reset(): Unit = slots.values.forEach(slot => slot.synchronized(free(slot)))

  private def free(slot: Slot): Unit = {
    slot.value match {
      case df: Dataset[_] => freeBlocks(df)
      case _ =>
    }
    slot.key = null
    slot.value = null
  }

  /** Frees the blocks of a `localCheckpoint`ed frame: the block-backed RDD
    * its LogicalRDD holds. `df.unpersist()` is a no-op there, the frame is
    * not in the catalog cache. A frame that reads the freed blocks fails
    * when it next runs. */
  private[graft] def freeBlocks(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false))
}

package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.{GraftSession, Memo}

/** Runs every driver loop: the graph fixpoints (connected components,
  * pagerank, k-core, HITS, BFS levels, path counts), k-means, k-center
  * and the BPE trainer. A call site writes only its round step and its
  * trace rows; [[run]] and [[Scope.loop]] own the rest:
  *
  *  - rounds 1..maxRounds, stopping after the first round that reports
  *    done, with the trace rows in round order and the round count;
  *  - the AQE setting, per call site: `aqe = false` holds
  *    [[GraftSession.AqeOff]] over the body (its pre-loop checkpoints and
  *    its rounds), `aqe = true` leaves the session's setting;
  *  - the blocks of every frame made by [[Scope.checkpoint]], freed once
  *    nothing reads the frame. A round frees the frames the new state no
  *    longer reads; a pre-loop frame the start state does not hold (a
  *    loop-invariant edge list) lives until [[run]] returns, and [[run]]
  *    then frees every frame its result does not read. Frames the caller
  *    passed in (the memos) are never freed: only checkpoints made here
  *    are owned.
  *
  * A state "reads" a checkpoint when a Dataset reachable from it through
  * tuples, case classes, options and collections has the checkpoint's
  * RDD as a leaf. A round must therefore carry in its state every frame
  * a later round reads, except the pre-loop ones. */
object Fixpoint {

  /** One round's outcome: the state the next round reads, the trace rows
    * this round adds, and whether the loop has converged. */
  final case class Round[+S, +T](state: S, trace: Seq[T] = Nil, done: Boolean = false)

  /** A finished loop: the last state, every round's trace rows in round
    * order, and the number of rounds run. */
  final case class Result[+S, +T](state: S, trace: Seq[T], rounds: Int)

  final class Scope private[Fixpoint] () {
    private val owned = ArrayBuffer.empty[DataFrame]

    /** `df.localCheckpoint()`, owned by this scope. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      owned += c
      c
    }

    /** Runs `step(state, round)` for rounds 1..maxRounds until a round is
      * done, freeing after each round the frames it superseded. */
    def loop[S, T](maxRounds: Int, start: S)(step: (S, Int) => Round[S, T]): Result[S, T] = {
      val pinned = owned.map(rddId).toSet -- reads(start)
      val trace = Vector.newBuilder[T]
      var state = start
      var rounds = 0
      var done = false
      while (!done && rounds < maxRounds) {
        rounds += 1
        val r = step(state, rounds)
        trace ++= r.trace
        state = r.state
        done = r.done
        freeUnread(pinned ++ reads(state))
      }
      Result(state, trace.result(), rounds)
    }

    private[Fixpoint] def freeUnread(live: Set[Int]): Unit = {
      val (keep, drop) = owned.partition(f => live.contains(rddId(f)))
      drop.foreach(Memo.freeBlocks)
      owned.clear()
      owned ++= keep
    }
  }

  /** Runs `body` with a fresh [[Scope]], under [[GraftSession.AqeOff]]
    * unless `aqe`. On return every checkpoint the scope made that the
    * result does not read is freed; if the body throws, all of them are. */
  def run[R](s: SparkSession, aqe: Boolean)(body: Scope => R): R = {
    val scope = new Scope
    var out: Option[R] = None
    try {
      out = Some(if (aqe) body(scope) else GraftSession.withConf(s, GraftSession.AqeOff)(body(scope)))
      out.get
    } finally scope.freeUnread(reads(out))
  }

  private def rddId(checkpoint: DataFrame): Int = leafRdds(checkpoint).head

  private def leafRdds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  private def reads(x: Any): Set[Int] = x match {
    case df: Dataset[_] => leafRdds(df).toSet
    case xs: IterableOnce[_] => xs.iterator.flatMap(reads).toSet
    case p: Product => p.productIterator.flatMap(reads).toSet
    case _ => Set.empty
  }
}

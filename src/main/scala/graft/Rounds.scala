package graft

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** Driver-side round loops over eagerly checkpointed frames: the one
  * mechanism under w08 PageRank, connected components, the k-center
  * coreset greedy and the unigram-LM EM.
  *
  * Each round's frame is materialized by an eager `localCheckpoint`,
  * which truncates the logical plan to the checkpointed RDD, so the
  * plan of round k does not nest the k rounds before it. The round a new
  * round supersedes is released as soon as the new one is materialized:
  * never more than two round-sized block sets are in flight, and none
  * waits for driver GC. Per-round numbers (convergence counts,
  * row-count invariants) are `observe` metrics on the checkpoint's own
  * action, so they cost no extra job; the loop reads them before the
  * next round starts. A metric that is missing or does not arrive
  * within [[MetricWait]] throws, and so does a loop that must converge
  * and reaches its round cap: no partial result leaves silently.
  * SURVEY.md gives the fault-tolerance trade of `localCheckpoint`. */
object Rounds {

  /** Bound on the wait for a round's observed metrics. They are posted
    * by the listener bus after the checkpoint action returns, normally
    * within milliseconds. */
  val MetricWait: FiniteDuration = 60.seconds

  /** Eagerly `localCheckpoint` `df`, observing the long-valued
    * aggregates `metrics` (name → column) on the checkpoint's action. */
  def checkpoint(df: DataFrame, metrics: (String, Column)*)
      : (DataFrame, Map[String, Long]) =
    if (metrics.isEmpty) (df.localCheckpoint(true), Map.empty)
    else {
      val obs = new Observation()
      val cols = metrics.map { case (name, c) => c.as(name) }
      val cp = df.observe(obs, cols.head, cols.tail: _*).localCheckpoint(true)
      (cp, await(obs, metrics.map(_._1), MetricWait))
    }

  /** The named long metrics of `obs`. Throws if they do not arrive
    * within `bound`, or if one is missing or null. */
  private[graft] def await(obs: Observation, names: Seq[String],
      bound: FiniteDuration): Map[String, Long] = {
    val row = try Await.result(obs.future, bound) catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"observed metrics ${names.mkString(", ")} did not arrive within $bound")
    }
    val values = row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    names.map { n =>
      values.get(n) match {
        case Some(v: Number) => n -> v.longValue
        case _ => throw new IllegalStateException(
          s"observed metric $n is missing from $values")
      }
    }.toMap
  }

  /** Unpersist the checkpointed blocks under `df` (every `LogicalRDD`
    * its plan reads) now. Only for frames nothing live reads again. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run up to `maxRounds` rounds from `init` and return the last
    * round's checkpoint. `round` builds the next frame from the current
    * one, or returns None when nothing is left to do. `metrics` are
    * observed on every round's checkpoint and handed to `converged`,
    * which ends the loop when it holds and may throw to reject a round.
    * A loop that reaches `maxRounds` unconverged throws when
    * `mustConverge`, and otherwise returns its last round (fixed-count
    * loops). `init` belongs to the loop: it is released once round 1
    * supersedes it, and the current round is released if the loop
    * throws. */
  def iterate(what: String, init: DataFrame, maxRounds: Int,
      metrics: Seq[(String, Column)] = Nil,
      converged: Map[String, Long] => Boolean = _ => false,
      mustConverge: Boolean = false)(
      round: DataFrame => Option[DataFrame]): DataFrame = {
    var cur = init
    var done = false
    var rounds = 0
    var last = Map.empty[String, Long]
    try {
      while (!done && rounds < maxRounds) {
        round(cur) match {
          case None => done = true
          case Some(next) =>
            val (cp, m) = checkpoint(next, metrics: _*)
            release(cur)
            cur = cp
            last = m
            rounds += 1
            done = converged(m)
        }
      }
      if (!done && mustConverge)
        throw new IllegalStateException(
          s"$what did not converge in $maxRounds rounds (last round: " +
            s"${last.map { case (k, v) => s"$k=$v" }.mkString(", ")}); " +
            "refusing to return a partial result")
    } catch {
      case NonFatal(e) => release(cur); throw e
    }
    cur
  }
}

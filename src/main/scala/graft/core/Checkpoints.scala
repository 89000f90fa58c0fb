package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

import scala.concurrent.Await
import scala.concurrent.duration._

/** The one switch for the local-vs-reliable checkpoint choice, and the
  * one convergence driver of the engine's data-dependent fixpoint loops.
  *
  * Iterative operators (lineage walks, label-propagation CC, the global
  * rank) must eagerly truncate plan lineage every iteration or the plan
  * tree grows with depth. On local[n] the right tool is
  * `localCheckpoint` (executor-local blocks, no directory needed); on a
  * real cluster those blocks die with an executor, so long jobs want
  * reliable `checkpoint` into the fault-tolerant checkpoint dir. Every
  * pinning operator routes through [[pin]], so ONE session conf flips
  * the whole engine:
  *
  *   spark.conf.set(Checkpoints.ModeKey, "reliable")
  *   spark.sparkContext.setCheckpointDir("hdfs://…/ckpt")
  *
  * Both modes are EAGER — callers rely on the action having run (plan
  * truncated, Observation metrics posted) when pin() returns.
  *
  * Loops that run until the data converges (both CC operators, the
  * lineage walks) go through [[converge]] with one [[pinObserved]] per
  * round: the round's convergence probe rides the pin's own action, the
  * wait for it is bounded, and a loop that outruns its cap throws.
  */
object Checkpoints {
  val ModeKey = "spark.graft.checkpoint.mode"

  /** How long [[pinObserved]] waits for the metrics of an action that
    * has already run. They are posted by the listener bus right after the
    * job, so only an engine that stopped routing checkpoint actions
    * through the listener path can exhaust this. */
  private val ObservationDeadline: FiniteDuration = 300.seconds

  /** Truncate `df`'s plan lineage per the session's configured mode:
    * "local" (default) → `localCheckpoint`, "reliable" → `checkpoint`. */
  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(ModeKey).getOrElse("local") match {
      case "reliable" => df.checkpoint()
      case "local"    => df.localCheckpoint()
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }

  /** [[pin]] `df` and return it with `aggs` computed over its rows by
    * that same action — one job, no second pass. The row holds the aggs
    * in order; over an empty frame a fold is null and a count is 0. */
  def pinObserved(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val pinned = pin(df.observe(obs, aggs.head, aggs.tail: _*))
    val metrics =
      try Await.result(obs.future, ObservationDeadline)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            "pinObserved: metrics of a finished pin did not arrive within " +
              s"$ObservationDeadline — the Observation no longer rides the " +
              "checkpoint action on this Spark version")
      }
    (pinned, metrics)
  }

  /** Run `step` from `init` until it reports convergence (`true`) and
    * return the state it converged at. Throws `IllegalStateException`
    * with `message` as soon as `cap` rounds pass without convergence —
    * a capped loop refuses loudly, never returns a truncated answer. */
  @scala.annotation.tailrec
  def converge[S](init: S, cap: Int, message: => String)(
      step: S => (S, Boolean)): S = {
    if (cap <= 0) throw new IllegalStateException(message)
    val (next, converged) = step(init)
    if (converged) next else converge(next, cap - 1, message)(step)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame

/** THE scaffold for driver-driven DataFrame fixpoints (connected
  * components, PageRank, BFS, k-core peeling, label propagation, BPE's
  * merge loop). Every iterative operator previously hand-rolled the same
  * three obligations; centralizing them means a drift in any one of them
  * (a forgotten localCheckpoint quietly growing lineage 2^rounds, a
  * missing backstop spinning on a non-converging input, a collect
  * sneaking into a probe) is now a single-site review, not a five-site
  * audit.
  *
  * Contract:
  *   - every state (the seed and each step's output) is
  *     `localCheckpoint()`ed HERE — per-round lineage stays O(1), and
  *     `step` sends and receives plain, already-materialized frames;
  *   - progress is OBSERVED, never probed: the caller names aggregate
  *     columns that ride each state's checkpoint job, and `same` compares
  *     the previous and the new state's values on the driver — no
  *     `count()`, no collect, no second job per round; a fixed schedule
  *     names no metric and never converges;
  *   - `maxRounds` is a BACKSTOP for schedule-shaped callers (a fixed
  *     merge-round budget) and a tripwire for convergence-shaped ones:
  *     correctness-bearing fixpoints (CC labels deciding what gets
  *     DROPPED, ranks, peeling) must call [[Fixpoint.requireConverged]]
  *     on the result, which RAISES when the cap cut the loop mid-flight —
  *     silently returning half-propagated labels would split components
  *     and mis-dedup without any symptom.
  */
private[operators] object Iterate {

  /** Drop the checkpoint blocks backing a SUPERSEDED fixpoint state
    * (non-blocking). Every round's `localCheckpoint()` pins its blocks in
    * the BlockManager until the RDD object is GC'd and the ContextCleaner
    * notices — on a large driver heap that is effectively never, so a
    * fixpoint's storage footprint grew O(rounds) (and a long session
    * accumulated every finished query's dead rounds on top). Freeing the
    * previous state the moment the next one is materialized keeps live
    * checkpoint storage O(1) per fixpoint — at 100 TB the difference
    * between one round's state resident and the whole history. Only ever
    * called on states this scaffold created and no caller can still see:
    * the seed and intermediate rounds, never the returned final state. */
  private def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.GraftBridge.dropBlocks(r.rdd)
      case _ => ()
    }

  /** Converged (or capped) state plus the number of `step` rounds
    * actually executed — the spec hook for round-complexity claims
    * (star-contraction logarithmic rounds, convergence-stopped ranks).
    * `converged` is false iff the cap fired while progress was still
    * being made. */
  final case class Fixpoint(state: DataFrame, rounds: Int, converged: Boolean) {

    /** This fixpoint, for convergence-shaped callers: raises if the round
      * cap fired before the probe said done, instead of handing back a
      * state the algorithm itself says is not final. */
    def requireConverged: Fixpoint = {
      if (!converged)
        throw new IllegalStateException(
          s"fixpoint still progressing after $rounds rounds — raise the " +
            "backstop or inspect the input (returning the capped state " +
            "would be silently wrong)")
      this
    }
  }

  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** A count-shaped single-metric probe for [[fixpointObservedBy]]:
    * done once the new state's value is no longer positive. A NULL (a sum
    * over an empty state) reads as 0, i.e. converged. */
  val noneLeft: (Seq[Any], Seq[Any]) => Boolean = (_, next) =>
    next.head == null || next.head.asInstanceOf[Number].longValue <= 0

  /** Drive `state0` through `step(state, roundIndex)` (0-based index)
    * until `same` says the state stopped changing or `maxRounds` rounds
    * ran. `metrics` are AGGREGATE columns evaluated over each state's
    * rows during the eager `localCheckpoint()` job itself (Spark's
    * Observation/CollectMetrics machinery — the metrics ride the plan,
    * every row is observed exactly once by the materializing action, and
    * the values are available the moment the checkpoint returns). The
    * seed's checkpoint is observed too, so a round pays exactly ONE job.
    *
    * `same(prev, next)` sees the two observed value sequences (metric
    * order preserved) and returns true once converged: a state-summary
    * comparison (sssp's (count, Σdist), CC's label sum, a shrinking
    * set's size), or [[noneLeft]] for a count of what the new state
    * still has to do (peeling's "nodes that just died", PageRank's
    * unsettled ranks, BPE's words with a pair left). It may throw to
    * surface probe-integrity violations (e.g. a decimal overflow turning
    * a sum NULL). A fixed schedule passes no metrics and a `same` that
    * is always false: it runs exactly `maxRounds` rounds and reports
    * `converged == false`. */
  def fixpointObservedBy(state0: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      metrics: Seq[org.apache.spark.sql.Column])(
      same: (Seq[Any], Seq[Any]) => Boolean): Fixpoint = {
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    def observed(df: DataFrame): (DataFrame, Seq[Any]) = {
      if (named.isEmpty) return (df.localCheckpoint(), Nil) // observe needs a column
      val obs = org.apache.spark.sql.Observation(
        s"graft_fixpoint_${obsId.incrementAndGet()}")
      val ckpt = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
      // the eager checkpoint is the observed action — get does not block
      val m = obs.get
      (ckpt, named.indices.map(i => m(s"m$i")))
    }
    var (state, prevVals) = observed(state0)
    var rounds = 0
    var more = true
    while (more && rounds < maxRounds) {
      val (next, nextVals) = observed(step(state, rounds))
      rounds += 1
      more = !same(prevVals, nextVals)
      prevVals = nextVals
      dropCheckpoint(state) // superseded: next is materialized
      state = next
    }
    Fixpoint(state, rounds, converged = !more)
  }
}

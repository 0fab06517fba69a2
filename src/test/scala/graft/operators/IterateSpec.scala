package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit coverage for the Observation-folded fixpoint's subtle paths
  * (previously guarded only by the end-to-end oracle gate): the
  * null-metric-on-empty-state branch, agreement with an in-JVM model
  * of a multi-round peel, metric-order preservation in the
  * state-summary shape, `same` throwing as an overflow surrogate, and
  * the round-cap tripwire next to the no-metric fixed schedule. */
class IterateSpec extends SparkSpec {

  test("observed fixpoint: a NULL metric over an empty round output reads as converged") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("x")
    // sum over zero rows is NULL — the probe must read it as 0/converged,
    // not throw or spin
    val fp = Iterate.fixpointObservedBy(empty, 5)((st, _) => st)(Seq(sum(col("x"))))(
      Iterate.noneLeft).requireConverged
    assert(fp.converged)
    assert(fp.rounds === 1)
    assert(fp.state.count() === 0)
  }

  test("observed fixpoint matches the two-argument probe shape on a multi-round peel") {
    import spark.implicits._
    val seed = (1L to 8L).toDF("x")
    // peel: keep evens, halve them; progress = odd values in the NEW
    // state (they die next round) — the k-core probe shape
    def step(st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      st.filter(col("x") % 2 === 0).select((col("x") / 2).cast("long").as("x"))
    val observed = Iterate.fixpointObservedBy(seed, 20)((st, _) => step(st))(
      Seq(count(when(col("x") % 2 =!= 0, 1))))(Iterate.noneLeft).requireConverged
    // the reference: the same peel as a plain Scala loop with the
    // two-argument probe (odd values in the new state), no Spark, no
    // scaffold
    var model: Seq[Long] = 1L to 8L
    var modelRounds = 0
    var more = true
    while (more && modelRounds < 20) {
      model = model.filter(_ % 2 == 0).map(_ / 2)
      modelRounds += 1
      more = model.exists(_ % 2 != 0)
    }
    assert(!more)
    assert(observed.rounds === modelRounds)
    assert(observed.rounds === 4) // {1..8} -> {1..4} -> {1,2} -> {1} -> {}
    assert(observed.state.collect().map(_.getLong(0)).sorted.toSeq === model.sorted)
    assert(observed.converged)
  }

  test("state-summary fixpoint preserves metric order and handles a NULL sum on an empty seed") {
    import spark.implicits._
    val seed = Seq(1L, 2L, 3L).toDF("x")
    var seen = List.empty[Seq[Any]]
    val fp = Iterate.fixpointObservedBy(seed, 5)((st, _) => st)(
      Seq(count(lit(1)), sum(col("x"))))( (prev, next) => {
        seen = seen :+ prev :+ next
        // order must be (count, sum) exactly as passed — a reorder would
        // compare a count against a sum and still "converge" here, so
        // assert the shape explicitly
        assert(prev.head.asInstanceOf[Number].longValue === 3L, s"metric order lost: $prev")
        assert(prev(1).asInstanceOf[Number].longValue === 6L, s"metric order lost: $prev")
        prev == next
      }).requireConverged
    assert(fp.converged && fp.rounds === 1)
    assert(seen.nonEmpty)
    // empty seed: count is 0, sum is NULL — the caller's `same` sees the
    // raw values and the loop still terminates
    val empty = Seq.empty[Long].toDF("x")
    val fpE = Iterate.fixpointObservedBy(empty, 5)((st, _) => st)(
      Seq(count(lit(1)), sum(col("x"))))( (prev, next) => {
        assert(prev.head.asInstanceOf[Number].longValue === 0L)
        assert(prev(1) == null, "sum over an empty frame must surface as NULL, not 0")
        true
      }).requireConverged
    assert(fpE.converged && fpE.rounds === 1)
  }

  test("a throwing `same` (overflow surrogate) propagates instead of converging silently") {
    import spark.implicits._
    val seed = Seq(1L, 2L).toDF("x")
    val ex = intercept[IllegalStateException] {
      Iterate.fixpointObservedBy(seed, 5)((st, _) => st)(
        Seq(sum(col("x"))))((_, _) =>
        throw new IllegalStateException("probe integrity violation")).requireConverged
    }
    assert(ex.getMessage.contains("probe integrity"))
  }

  test("the round cap raises on a non-converging observed fixpoint") {
    import spark.implicits._
    val seed = Seq(1L).toDF("x")
    // metric is always 1 — never converges; the cap must raise, not hand
    // back a mid-flight state
    intercept[IllegalStateException] {
      Iterate.fixpointObservedBy(seed, 3)((st, _) => st)(Seq(count(lit(1))))(
        Iterate.noneLeft).requireConverged
    }
    // a fixed schedule (no metrics, `same` never true) runs exactly the
    // cap and says it did not converge
    val sched = Iterate.fixpointObservedBy(seed, 3)((st, _) =>
      st.select((col("x") + 1).as("x")))(Nil)((_, _) => false)
    assert(sched.rounds === 3 && !sched.converged)
    assert(sched.state.collect().map(_.getLong(0)).toSeq === Seq(4L))
    intercept[IllegalStateException](sched.requireConverged)
  }

  test("superseded round checkpoints are unpersisted; the final state survives") {
    import spark.implicits._
    // r15 fixpoint-storage contract: each localCheckpoint()ed round is
    // dropped the moment its successor materializes, so live checkpoint
    // blocks stay O(1) per fixpoint instead of O(rounds) — while the
    // RETURNED state's blocks must never be dropped (its lineage is
    // truncated; dropping them would make it unreadable, not slow).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val seed = (1L to 32L).toDF("x")
    val fp = Iterate.fixpointObservedBy(seed, 20)((st, _) =>
      st.filter(col("x") % 2 === 0).select((col("x") / 2).cast("long").as("x")))(
      Seq(count(when(col("x") % 2 =!= 0, 1))))(Iterate.noneLeft)
    // {1..32} -> {1..16} -> {1..8} -> {1..4} -> {1,2} -> {1} -> {}:
    // the {1} state still carries an odd value (progress 1), so the loop
    // runs one more round and converges on the empty state
    assert(fp.rounds === 6)
    // 7 states were checkpointed (seed + 6 rounds); only the final one may
    // remain persisted — the unpersist is async (blocking=false), so allow
    // the tail to drain before asserting
    val deadline = System.currentTimeMillis() + 10000
    def live() = spark.sparkContext.getPersistentRDDs.keySet.diff(before).size
    while (live() > 1 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(live() === 1, s"expected only the final state's blocks to stay persisted, got ${live()}")
    // and the survivor is the final state, still fully readable
    assert(fp.converged && fp.state.count() === 0)
    fp.state.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.GraftBridge.dropBlocks(r.rdd)
      case _ => ()
    }
  }
}

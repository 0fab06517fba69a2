package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Timed A/B of the three answers to a skewed fact join (not part of the
  * driver contract): on a planted hot-key table (99% of rows on one key,
  * the same shape PlanShapeSpec's AQE-split test pins and
  * q_skew_audit's salt_advised flags), measure
  *
  *   a) the unmitigated baseline — SMJ with AQE skew-join OFF (one task
  *      drags the whole hot key);
  *   b) the runtime defense — AQE skew-join ON (the hot partition is
  *      split after map output sizes are known);
  *   c) the manual fallback — [[graft.operators.Skew.saltedJoin]] (for
  *      plans where AQE's split can't apply).
  *
  * Prints min-of-3 per variant plus the row count (all three must agree).
  * Results recorded in NOTES_BUILD.md.
  */
object SkewAb {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 20000000L
    val spark = graft.GraftSession.start(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]",
      "spark.sql.shuffle.partitions" -> "8")

    // materialized inputs (localCheckpoint) so the timed body is the JOIN,
    // not the parallel-friendly data generation
    def planted(s: SparkSession) = {
      val left = s.range(rows).select(
        when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
        .localCheckpoint()
      val right = s.range(1000).select(col("id").as("k"), col("id").as("r"))
        .localCheckpoint()
      (left, right)
    }

    def time3(label: String)(body: => Long): Unit = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      val n = times.head._2
      require(times.forall(_._2 == n), s"$label: row counts diverged")
      println(f"[skew-ab] $label%-28s min=${times.map(_._1).min}%6.2f s  rows=$n")
    }

    // a) unmitigated: AQE skew handling off, SMJ forced
    val sA = spark.newSession()
    sA.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sA.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (lA, rA) = planted(sA)
    time3("baseline (skewJoin off)") { lA.join(rA, "k").count() }

    // b) AQE split: defaults except forced SMJ (broadcast would hide the
    // shuffle; at real scale the right side is not broadcastable)
    val sB = spark.newSession()
    sB.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sB.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sB.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    sB.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
    sB.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    val (lB, rB) = planted(sB)
    time3("AQE skew-split") { lB.join(rB, "k").count() }
    // confirm the split actually fired — execute THIS frame's OWN
    // QueryExecution (count() would plan a separate aggregate and leave
    // jB's adaptive plan non-final; collect() would pull ~all join rows
    // onto the driver just to read the plan). toRdd.count() runs the
    // physical plan to completion with rows staying on the executors.
    val jB = lB.join(rB, "k")
    jB.queryExecution.toRdd.count()
    val pB = jB.queryExecution.executedPlan.toString
    println(s"[skew-ab] AQE plan skew=true: ${pB.contains("skew=true")}")

    // c) manual salt (salt=8 — one sub-key per core here)
    val sC = spark.newSession()
    sC.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sC.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (lC, rC) = planted(sC)
    time3("Skew.saltedJoin (salt=8)") {
      graft.operators.Skew.saltedJoin(lC, rC, lC("k"), rC("k"), 8).count()
    }

    // d) audit-driven: Skew.autoSalt consulting a materialized audit of
    // the planted table — must land in the salted class (c), not (a)
    val sD = spark.newSession()
    sD.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sD.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (lD, rD) = planted(sD)
    val audit = graft.operators.Maintenance
      .skewAuditOf(lD.select(lit("planted.hot").as("tbl_col"), col("k")))
      .localCheckpoint()
    time3("Skew.autoSalt (audit-driven)") {
      graft.operators.Skew.autoSalt(lD, rD, lD("k"), rD("k"), audit, "planted.hot").count()
    }

    graft.GraftSession.stop(spark)
  }
}

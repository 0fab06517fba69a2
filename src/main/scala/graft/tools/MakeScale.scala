package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch scale-up generator (not part of the driver contract): builds
  * an N×-replicated copy of a testdata SF dir for scaling measurements —
  * `runMain graft.tools.MakeScale <srcDir> <dstDir> [reps] [salt]`.
  * Fact-table ids are offset per replica (offset ≡ 0 mod 5, so documents'
  * deterministic mod-5 batch slice survives); dimension tables copy
  * verbatim, which preserves every FK and 10×es the facts-per-dim fanout
  * exactly like a real SF step.
  *
  * Two document modes, two scaling questions:
  *   - verbatim (default): every doc gains reps−1 IDENTICAL twins —
  *     duplicate mass grows quadratically, the ADVERSARIAL shape for the
  *     pairwise dedup sweeps (what exposed the pre-collapse cliffs);
  *   - `salt`: every token is suffixed `~r` per replica, so replicas
  *     share NO shingles — each replica keeps the source corpus's own
  *     dup structure, i.e. dup density stays CONSTANT as the corpus
  *     grows, the realistic linear-scaling shape (n_chars is recomputed
  *     so text-derived stats stay consistent).
  * TESTDATA.md's dirs stay untouched — this writes only under the given
  * destination (target/, typically). */
object MakeScale {
  private val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    val salt = args.length > 3 && args(3) == "salt"
    val spark = graft.GraftSession.start("local[8]")

    def rep(t: String)(offset: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val out = offset(base.crossJoin(spark.range(reps).select(col("id").as("__r"))),
        col("__r") * Off).drop("__r")
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[make-scale] $t: ${out.columns.length} cols x${reps}")
    }
    def copy(t: String): Unit = {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[make-scale] $t: copied")
    }

    rep("lineitem")((d, o) => d.withColumn("l_orderkey", col("l_orderkey") + o))
    rep("orders")((d, o) => d.withColumn("o_orderkey", col("o_orderkey") + o))
    rep("documents") { (d, o) =>
      val base = d.withColumn("doc_id", col("doc_id") + o)
      if (!salt) base
      else base
        .withColumn("text",
          array_join(
            transform(split(col("text"), "\\s+"),
              w => concat(w, lit("~"), col("__r"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    rep("embeddings")((d, o) => d.withColumn("vec_id", col("vec_id") + o))
    rep("events")((d, o) => d
      .withColumn("event_id", col("event_id") + o)
      .withColumn("user_id", col("user_id") + o))
    Seq("region", "nation", "customer", "supplier", "part").foreach(copy)
    graft.GraftSession.stop(spark)
  }
}

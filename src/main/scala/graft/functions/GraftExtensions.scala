package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Exposes the native expressions to SQL users.
  *
  * Two wirings:
  *   - `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *     build time (the SparkSessionExtensions path — what a deployment
  *     would configure), or
  *   - `GraftFunctions.register(spark)` on a live session.
  *
  * After either, `spark.sql("SELECT graft_cosine_sim(a, b) ...")` works —
  * the library's operators become available to pure-SQL pipelines, not just
  * the Scala DSL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, arity, builder) =>
      ext.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo(builder.getClass.getName, name),
          (exprs: Seq[Expression]) => {
            require(exprs.length == arity, s"$name expects $arity arguments")
            builder(exprs)
          }))
    }
    ext.injectOptimizerRule(_ => TokenCountEnvelope)
  }
}

object GraftFunctions {
  /** (name, arity, builder) for every SQL-exposed native expression. */
  val all: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine_sim", 2, es => CosineSim(es(0), es(1))),
    ("graft_dot_prod", 2, es => DotProd(es(0), es(1))),
    ("graft_tokens", 1, es => Tokens(es(0))),
    ("graft_normalize_ws", 1, es => NormalizeWs(es(0))),
    ("graft_simhash64", 1, es => SimHash64(es(0))),
    ("graft_char_trigrams", 1, es => CharTrigrams(es(0))),
    // fixed n=3 (trigrams) — the SQL surface mirrors the dedup pipeline's
    // width; the Scala DSL (NativeExprs.wordShingles) exposes n
    ("graft_word_shingles", 1, es => WordShingles(es(0), 3)))

  /** Idempotent: a name the session already holds (an earlier call, or
    * the extensions path) keeps its builder, so repeat calls replace
    * nothing. */
  def register(spark: SparkSession): Unit =
    all.filter(f => GraftBridge.functionBuilder(spark, f._1).isEmpty).foreach {
      case (name, arity, builder) =>
        // same arity validation as the extensions path — without it a
        // wrong-arity SQL call dies in the builder with a nameless
        // IndexOutOfBoundsException instead of a usable error
        GraftBridge.registerFunction(
          spark,
          name,
          (exprs: Seq[Expression]) => {
            require(exprs.length == arity, s"$name expects $arity arguments")
            builder(exprs)
          })
    }

  /** Live-session twin of the extensions path's `injectOptimizerRule` —
    * idempotent (the rule itself is a no-op once its envelope exists,
    * and double-registration is avoided). */
  def installOptimizations(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(TokenCountEnvelope))
      spark.experimental.extraOptimizations = cur :+ TokenCountEnvelope
  }
}

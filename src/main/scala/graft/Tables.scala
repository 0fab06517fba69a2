package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated analytics tables (TESTDATA.md).
  *
  * Each table is one parquet file under `$dir/`. Reads go through
  * `spark.read.parquet` so Catalyst gets vectorized scans, predicate
  * pushdown and column pruning for free — at 100 TB these tables would be
  * partitioned directories instead of single files and the same code holds.
  */
object Tables {
  /** Session config required to read OLDER generations of the `events`
    * table, whose `ts` column was parquet INT64 TIMESTAMP(NANOS) — a type
    * Spark rejects natively ([PARQUET_TYPE_ILLEGAL]). With this flag that
    * generation reads as LongType nanoseconds and [[normalizeTs]] converts
    * to a microsecond timestamp. Current testdata writes TIMESTAMP(MICROS)
    * directly (the flag is then a no-op), but sessions keep setting it so
    * either generation of the files loads. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Plain parquet scan — deliberately NO scan-parallelism floor. An r15
    * experiment round-robin repartitioned every 256 KB–64 MB table to the
    * session's default parallelism (the bench files are single-row-group,
    * so every scan plans as one task); A/B-measured at sf0.1/local[32] it
    * was a net LOSS and was reverted: per-query floors were within noise
    * on the pipelines it targeted (tokenize/shingle), while every
    * query gained an exchange per table (q1_pricing_summary 0 → 6.4 MB
    * shuffled, q_join_card_est +29 MB) and queries that ran driver-side
    * jobs during construction (q_dedup_semantic's count + CC fixpoint at
    * the time, q_zorder_ranked's ntile boundaries) DOUBLED — each tiny
    * job paid the extra shuffle. The parallelism these scans lose is
    * already recovered downstream: every heavy pipeline exchanges within
    * a few operators (the shingle window on `sh`, aggregate/join
    * exchanges), so only the pre-exchange scan leg is single-task, and
    * that leg measured cheap. At 100 TB splits come from row groups;
    * OPTIMIZATION_r15.md C1 has the numbers.
    *
    * The parquet schema is MEMOIZED: inference reads footers in a Spark
    * job (32–43 ms a load, fired while the caller is still building its
    * DataFrame), so only a load whose key changed infers; every other
    * load reads with `.schema(s)` and fires no job. The key is the
    * path's leaf files — path, length and mtime, listed through the
    * Hadoop `FileSystem` (no job) — plus the session's
    * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` confs, which
    * decide the inferred types ([[NanosAsLong]] turns NANOS `ts` into
    * LongType). A rewritten file is therefore re-inferred: the `events`
    * ts generation changes between driver runs ([[normalizeTs]]), and a
    * stale schema would misread it. One entry per path; a failed
    * inference (or an unlistable path) is not memoized. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // Spark raises its own missing-path error
      case Some(key) =>
        schemas.get(path) match {
          case (`key`, schema) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(path, (key, df.schema))
            df
        }
    }
  }

  /** Leaf files (path, length, mtime) and the session's parquet confs. */
  private type SchemaKey = (Vector[(String, Long, Long)], Map[String, String])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaKey, StructType)]()

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = Vector.newBuilder[(String, Long, Long)]
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => return None }
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    Some((files.result(), confs))
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** Normalize the events `ts` column to session-TZ TimestampType at
    * microsecond precision, ADAPTIVE to the generation of the parquet —
    * THE conversion for event time, shared by the batch loader below and
    * the streaming file source
    * ([[graft.streaming.EventStreams.hourlyFromDirectory]]) so the rule
    * cannot drift between the two. Generations seen from the driver:
    *
    *   - INT64 TIMESTAMP(NANOS): reads as LongType under [[NanosAsLong]];
    *     converted by exact integer DIV (not `/`: Column./ is DOUBLE
    *     division, and a double cannot hold epoch nanos ~1.7e18 without
    *     precision loss) — the same ns→µs truncation DuckDB applies.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *     TimestampNTZType; cast to TimestampType is a pure re-tag under
    *     the UTC session timezone every entry point pins.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000L)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalArgumentException(s"unsupported events.ts type: $other")
    }
  }

  /** Events with `ts` exposed as a proper TimestampType column (see
    * [[normalizeTs]] for the per-generation rules). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(t(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

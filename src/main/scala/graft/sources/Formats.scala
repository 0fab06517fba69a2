package graft.sources

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.{asScaled, asScaledSql, sumExact}

/** File-format coverage beyond parquet and the engine's KV sink: CSV,
  * JSON-lines and ORC sink→source round-trips.
  *
  * The reference's storage layer is format-agnostic raw files
  * (DistrStorage.java:88-102 — bytes in flat directories; the binaries
  * decide the encoding), so format support is part of its capability
  * surface. Here each round-trip query writes a driver-table slice to the
  * format under test, reads it back with an EXPLICIT schema (never
  * inferSchema — a second full scan and nondeterministic at that), and
  * aggregates; the DuckDB oracle computes the same aggregate straight from
  * the parquet table, so a hash match proves the sink+source preserved
  * every value bit-for-bit (timestamps through CSV's ISO text form,
  * doubles through JSON's shortest-round-trip form, everything through
  * ORC's binary form).
  *
  * Scale notes: all three formats write one file per partition and read
  * back splittable (CSV/JSON by line, ORC by stripe) — the round-trip
  * parallelizes at any SF. The sink defaults to a fixed java.io.tmpdir
  * subpath, overwritten per run (no accumulation across Bench passes /
  * rounds); that path is DRIVER-LOCAL, correct only in local mode where
  * driver and executors share a filesystem — a cluster run must point
  * GRAFT_ROUNDTRIP_DIR at shared storage, and the local-mode guard makes
  * the misconfiguration fail loudly instead of silently reading the
  * driver-local subset of a multi-node write.
  */
object Formats {

  // env var for external launches; the system property is the in-process
  // override (env cannot be set from inside a JVM — ClusterProbe.main uses
  // it to default the sink to a fresh temp dir on a standalone run)
  private[graft] def sinkDir(s: SparkSession, fmt: String): String =
    sys.env.get("GRAFT_ROUNDTRIP_DIR")
      .orElse(sys.props.get("graft.roundtrip.dir"))
      .map(base => s"$base/$fmt").getOrElse {
      require(
        s.sparkContext.isLocal,
        "default round-trip sink is driver-local /tmp; set GRAFT_ROUNDTRIP_DIR " +
          "to shared storage when running on a cluster")
      s"${sys.props("java.io.tmpdir")}/graft-roundtrip/$fmt"
    }

  /** CSV: timestamps survive as ISO-8601 text; header on to prove
    * name-based column binding. */
  def qSourceCsv(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val out = sinkDir(s, "csv")
    orders.write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(orders.schema).option("header", "true").csv(out)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        (sumExact(asScaled(col("o_totalprice"), 2)) / lit(100.0)).as("total_price"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_date"))
      .orderBy("o_orderstatus")
  }

  private val qSourceCsvSql =
    s"""SELECT o_orderstatus, count(*) AS n,
       |  sum(${asScaledSql("o_totalprice", 2)}) / 100.0 AS total_price,
       |  strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
       |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_date
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** JSON lines: doubles survive via Jackson's shortest-round-trip
    * rendering — the sum over read-back acctbals must be cent-exact. */
  def qSourceJson(s: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(s, d)
    val out = sinkDir(s, "json")
    customer.write.mode("overwrite").json(out)
    s.read.schema(customer.schema).json(out)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        (sumExact(asScaled(col("c_acctbal"), 2)) / lit(100.0)).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  private val qSourceJsonSql =
    s"""SELECT c_mktsegment, count(*) AS n,
       |  sum(${asScaledSql("c_acctbal", 2)}) / 100.0 AS total_bal
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** ORC: the columnar binary sibling — longs (nanos timestamps read as
    * long), strings and doubles through ORC stripes. */
  def qSourceOrc(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val out = sinkDir(s, "orc")
    events.write.mode("overwrite").orc(out)
    s.read.schema(events.schema).orc(out)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        (sumExact(asScaled(col("value"), 2)) / lit(100.0)).as("total_value"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy("event_type")
  }

  private val qSourceOrcSql =
    s"""SELECT event_type, count(*) AS n,
       |  sum(${asScaledSql("value", 2)}) / 100.0 AS total_value,
       |  min(event_id) AS min_event,
       |  max(event_id) AS max_event
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Parquet SCHEMA EVOLUTION — the lakehouse append-with-a-new-column
    * case: batch 0 is written BEFORE the `lang` column existed (even
    * doc_ids, two columns), batch 1 after (odd doc_ids, three columns);
    * the read unions both under `mergeSchema=true`, which merges the
    * footers into the superset schema and null-fills the legacy rows.
    * The aggregate pins all three behaviors at once: total counts (no
    * row lost to the schema difference), `n_legacy` (nulls appear
    * exactly where the column predates the row), and `n_langs` (typed
    * values bind by NAME across heterogeneous files). mergeSchema costs
    * a footer read per file — fine for a round-trip demo; a production
    * table keeps the superset schema in the metastore and reads with it
    * explicitly, same semantics. */
  def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val out = sinkDir(s, "evolve")
    val docs = Tables.documents(s, d).select("doc_id", "source", "lang")
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "source")
      .write.mode("overwrite").parquet(s"$out/b0")
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/b1")
    s.read.option("mergeSchema", "true").parquet(s"$out/b0", s"$out/b1")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_legacy"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
  }

  private val qSchemaEvolutionSql =
    """SELECT source, count(*)::BIGINT AS n_total,
      |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_legacy,
      |  count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END)::BIGINT AS n_langs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** The reference's NATIVE `"<key> <value>"` line format through the
    * custom DataSource V2 reader ([[KvDirSource]]): documents written as
    * KV lines by the plain text sink (the engine's own line format),
    * read back as a first-class (key, value) table via
    * `format("graft-kv")`, aggregated, and hash-matched against the
    * parquet-derived oracle — certifying the custom source's parsing,
    * file enumeration and type bridging end-to-end. The write intentionally
    * uses the STOCK text sink, not the engine's `graft-kv` writer:
    * producer and consumer are independent implementations of the same
    * format contract. */
  def qSourceKv(s: SparkSession, d: String): DataFrame = {
    val out = sinkDir(s, "kv")
    Tables.documents(s, d)
      .select(concat_ws(" ", col("doc_id"), col("source")).as("value"))
      .write.mode("overwrite").text(out)
    s.read.format("graft-kv").load(out)
      .select(col("key").cast("long").as("doc_id"), col("value").as("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source")
  }

  private val qSourceKvSql =
    """SELECT source, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** XML: Spark 4's built-in XML source (the spark-xml lineage merged
    * into sql/core) — element-per-row documents with explicit `rowTag`,
    * values through XML text form. Ints and strings round-trip exactly;
    * the balance rides as pre-scaled exact CENTS (BIGINT) because XML
    * text re-parse of a shortest-form double is the one step in this
    * format without a bit-exactness guarantee we can pin locally. Read
    * back with an explicit schema like every round-trip here (schema
    * inference over XML is a second full scan). */
  def qSourceXml(s: SparkSession, d: String): DataFrame = {
    val out = sinkDir(s, "xml")
    val slim = Tables.customer(s, d)
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        col("c_nationkey"),
        asScaled(col("c_acctbal"), 2).as("bal_cents"))
    slim.write.mode("overwrite").option("rowTag", "customer").xml(out)
    s.read.schema(slim.schema).option("rowTag", "customer").xml(out)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        (sumExact(col("bal_cents")) / lit(100.0)).as("total_bal"),
        max(col("c_custkey")).as("max_key"))
      .orderBy("c_mktsegment")
  }

  private val qSourceXmlSql =
    s"""SELECT c_mktsegment, count(*) AS n,
       |  count(DISTINCT c_nationkey)::BIGINT AS n_nations,
       |  sum(${asScaledSql("c_acctbal", 2)}) / 100.0 AS total_bal,
       |  max(c_custkey) AS max_key
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Binary-file ingestion: one real `.png` FILE per document (identity
    * in the filename — the on-disk layout a crawler drops media as),
    * read back through Spark's built-in `binaryFile` source and decoded
    * from the file CONTENT column. This is the missing first mile of the
    * media pipeline ([[graft.operators.Multimodal]] starts from blobs
    * already in a table; this starts from a directory of files). The
    * compared columns are decode-derived (real dimensions + full-raster
    * pixel sum — the shared deterministic formula the DuckDB twin
    * replays); the PNG's compressed byte length is deliberately NOT
    * compared (encoder-dependent). Bounded to doc_id < 300 (file-count
    * hygiene); the directory is cleared and scoped per data dir so a
    * previous SF's files can never leak into the read-back. At scale the
    * source lists and splits files like any other; blobs stay in the
    * scan stage (decode in the projection, scalars onward). */
  def qSourceBinary(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    import s.implicits._
    val out = sinkDir(s, s"binary-png/${d.replaceAll("[^A-Za-z0-9]", "_")}")
    val dir = new java.io.File(out)
    if (dir.exists()) Warehouse.rm(dir)
    dir.mkdirs()
    Tables.documents(s, d)
      .select(col("doc_id"))
      .filter(col("doc_id") < 300)
      .as[Long]
      .foreachPartition { (ids: Iterator[Long]) =>
        ids.foreach { id =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, f"doc_$id%06d.png"),
            Multimodal.PngCodec.encode(id))
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.png").load(out)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = Multimodal.PngCodec.decode(bytes)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          (id, img.getWidth.toLong, img.getHeight.toLong, sum)
        }
      }
      .toDF("doc_id", "width", "height", "pixel_sum")
      .orderBy("doc_id")
  }

  /** Replays [[graft.operators.Multimodal.PngCodec]]'s deterministic
    * pixel formula (PNG is lossless) over the same doc slice. */
  private val qSourceBinarySql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS width, (doc_id % 32 + 24)::BIGINT AS height
      |  FROM documents WHERE doc_id < 300)
      |SELECT d.doc_id, d.width, d.height,
      |       sum((xs.x * 7 + ys.y * 13 + d.doc_id * 31) % 256)::BIGINT AS pixel_sum
      |FROM dims d, (SELECT unnest(range(80)) AS x) xs, (SELECT unnest(range(56)) AS y) ys
      |WHERE xs.x < d.width AND ys.y < d.height
      |GROUP BY d.doc_id, d.width, d.height
      |ORDER BY d.doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q_source_csv", qSourceCsv, Some(qSourceCsvSql)),
    Q("q_source_json", qSourceJson, Some(qSourceJsonSql)),
    Q("q_source_orc", qSourceOrc, Some(qSourceOrcSql)),
    Q("q_source_xml", qSourceXml, Some(qSourceXmlSql)),
    Q("q_source_binary", qSourceBinary, Some(qSourceBinarySql)),
    Q("q_schema_evolution", qSchemaEvolution, Some(qSchemaEvolutionSql)),
    Q("q_source_kv", qSourceKv, Some(qSourceKvSql)))
}

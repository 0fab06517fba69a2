package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque BINARY columns with typed
  * metadata, processed batch-wise in executor-side partitions.
  *
  * The media payloads are REAL PNGs: each document yields a small grayscale
  * image whose pixel values follow a deterministic integer formula of
  * `(x, y, doc_id)` (see [[PngCodec.pixel]]), encoded with the JDK's
  * `javax.imageio` PNG writer. Every query then decodes the compressed
  * bytes back through `ImageIO.read` — a genuine codec round-trip (IHDR
  * parse, IDAT inflate) — and all asserted outputs (dimensions, pixel
  * sums, histograms, resized checksums) are computed from the DECODED
  * raster. Because PNG is lossless, the DuckDB oracle can replay the pixel
  * formula and hash-match the decoded results end-to-end.
  *
  * At 100 TB the plan shape is what matters: the blob column is projected
  * into exactly one mapPartitions decode stage per query (streaming
  * iterator, constant memory, per-partition codec amortization — where a
  * real deployment initializes its JNI decoder / vision encoder once);
  * blobs never cross a shuffle, and everything downstream runs on pruned
  * scalar columns.
  */
object Multimodal {

  /** Real PNG encode/decode via the JDK-only `javax.imageio` (no external
    * deps, works offline). Thread-safe: `ImageIO.read`/`write` construct a
    * fresh reader/writer per call; the disk cache is disabled so blobs stay
    * memory-only. */
  object PngCodec {
    ImageIO.setUseCache(false)

    /** THE deterministic grayscale formula — one definition for still
      * images (frame 0) and video frames, which every DuckDB oracle
      * replays; a second copy could silently drift from the oracles. */
    def framePixel(x: Int, y: Int, id: Long, f: Int): Int =
      ((x * 7L + y * 13L + id * 31L + f * 97L) % 256L).toInt

    /** Still-image value at (x, y) for document `id` (≡ frame 0). */
    def pixel(x: Int, y: Int, id: Long): Int = framePixel(x, y, id, 0)

    def width(id: Long): Int  = (id % 48 + 32).toInt // 32..79
    def height(id: Long): Int = (id % 32 + 24).toInt // 24..55

    /** Encode document `id`'s image as a real compressed PNG byte blob. */
    def encode(id: Long): Array[Byte] = encodeFrame(id, 0)

    /** Decode a PNG blob back to its raster. */
    def decode(bytes: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, "ImageIO could not decode blob as an image")
      img
    }

    /** Frame `f` of document `id`'s "video": same dimensions as the
      * still image, [[framePixel]] shifted per frame. */
    def encodeFrame(id: Long, f: Int): Array[Byte] = {
      val w = width(id); val h = height(id)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, framePixel(x, y, id, f)); x += 1 }
        y += 1
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
  }

  /** A minimal real video CONTAINER: magic "GMV1", big-endian int32 frame
    * count, then per frame an int32 byte length followed by a genuine PNG
    * payload. The point is the processing shape of video at scale: a
    * demux step parses the header and frame directory, and SELECTIVE
    * decode reads only the sampled frames — unsampled frame bytes are
    * skipped arithmetically, never inflated. (A production deployment
    * swaps the PNG payloads and this demuxer for a real codec's
    * keyframe-seek; every Spark-side property is identical.) */
  object VideoContainer {
    def nFrames(id: Long): Int = (id % 6 + 2).toInt // 2..7

    def encode(id: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(out)
      dos.writeBytes("GMV1")
      val n = nFrames(id)
      dos.writeInt(n)
      var f = 0
      while (f < n) {
        val png = PngCodec.encodeFrame(id, f)
        dos.writeInt(png.length)
        dos.write(png)
        f += 1
      }
      out.toByteArray
    }

    /** Demux: (frameCount, per-frame (offset, length)) without touching
      * any frame payload. */
    def demux(bytes: Array[Byte]): (Int, Array[(Int, Int)]) = {
      val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GMV1", "not a GMV1 container")
      val n = in.readInt()
      val dir = new Array[(Int, Int)](n)
      var off = 8
      var f = 0
      while (f < n) {
        val len = in.readInt()
        dir(f) = (off + 4, len)
        in.skipBytes(len)
        off += 4 + len
        f += 1
      }
      (n, dir)
    }

    /** Decode ONLY frame `f` (selective decode via the directory). */
    def decodeFrame(bytes: Array[Byte], dir: Array[(Int, Int)], f: Int): BufferedImage = {
      val (off, len) = dir(f)
      PngCodec.decode(java.util.Arrays.copyOfRange(bytes, off, off + len))
    }
  }

  /** A media "table": one real blob per document, generated from
    * `doc_id` alone and PERSISTED build-once as a managed table
    * ([[graft.sources.Warehouse]]) — exactly how a production pipeline
    * holds media: a stored table of ingested bytes, not something
    * re-derived per query. Queries only SCAN the blob column; the
    * decode-side plan is identical either way. One definition for the
    * PNG/WAV/GMV tables, which differ only in prefix and encoder. */
  private def mediaTable(s: SparkSession, d: String, prefix: String)(
      encode: Long => Array[Byte]): DataFrame = {
    val tbl = graft.sources.Warehouse.tableName(prefix, d)
    graft.sources.Warehouse.ensure(s, tbl, "doc_id", srcDir = d) {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(ids => ids.map(id => (id, encode(id))))
        .toDF("doc_id", "blob")
    }
    s.table(tbl)
  }

  private def blobs(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d, "graft_media_png")(PngCodec.encode)

  final case class MediaMeta(doc_id: Long, width: Long, height: Long, n_pixels: Long, pixel_sum: Long)
  final case class Frame(doc_id: Long, frame_idx: Long, sample_value: Long)
  final case class MediaFeature(
      doc_id: Long,
      h0: Long, h1: Long, h2: Long, h3: Long,
      h4: Long, h5: Long, h6: Long, h7: Long)
  final case class ResizedMeta(doc_id: Long, width: Long, height: Long, out_w: Long, out_h: Long, resized_sum: Long)

  /** Metadata extraction: decode each PNG, report REAL dimensions from the
    * decoded header plus a full-raster pixel sum (proves the IDAT bytes
    * were actually inflated, not just the header peeked). */
  def qMediaMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = PngCodec.decode(bytes)
          val w = img.getWidth; val h = img.getHeight
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          MediaMeta(id, w.toLong, h.toLong, w.toLong * h, sum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle replays the pixel formula (PNG is lossless, so decoded samples
    * equal the authored values). Max dims are 79×55 → bounded unnest. */
  private val qMediaMetaSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS width, (doc_id % 32 + 24)::BIGINT AS height
      |  FROM documents)
      |SELECT d.doc_id, d.width, d.height, (d.width * d.height)::BIGINT AS n_pixels,
      |       sum((xs.x * 7 + ys.y * 13 + d.doc_id * 31) % 256)::BIGINT AS pixel_sum
      |FROM dims d, (SELECT unnest(range(80)) AS x) xs, (SELECT unnest(range(56)) AS y) ys
      |WHERE xs.x < d.width AND ys.y < d.height
      |GROUP BY d.doc_id, d.width, d.height
      |ORDER BY d.doc_id""".stripMargin

  private def videoBlobs(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d, "graft_media_gmv")(VideoContainer.encode)

  final case class VideoMeta(doc_id: Long, n_frames: Long, width: Long, height: Long, f0_sum: Long)

  /** Video metadata: demux the container (header + frame directory, no
    * payload decode), then decode ONLY frame 0 for a content checksum —
    * the metadata-pass shape that must not pay full-decode cost. */
  def qVideoMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (n, dir) = VideoContainer.demux(bytes)
          val img = VideoContainer.decodeFrame(bytes, dir, 0)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          VideoMeta(id, n.toLong, img.getWidth.toLong, img.getHeight.toLong, sum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val qVideoMetaSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS width, (doc_id % 32 + 24)::BIGINT AS height,
      |         (doc_id % 6 + 2)::BIGINT AS n FROM documents)
      |SELECT d.doc_id, d.n AS n_frames, d.width, d.height,
      |       sum((xs.x * 7 + ys.y * 13 + d.doc_id * 31) % 256)::BIGINT AS f0_sum
      |FROM dims d, (SELECT unnest(range(80)) AS x) xs, (SELECT unnest(range(56)) AS y) ys
      |WHERE xs.x < d.width AND ys.y < d.height
      |GROUP BY d.doc_id, d.n, d.width, d.height
      |ORDER BY d.doc_id""".stripMargin

  /** Frame sampling over the video container: demux, pick ≤4 evenly
    * spaced frame indices, and SELECTIVELY decode only those — unsampled
    * frames are skipped via the directory, never inflated (the keyframe-
    * seek shape; at 100 TB sampling 4 of 10⁴ frames must cost 4 decodes,
    * not 10⁴). Emits each sampled frame's decoded center pixel. */
  def qFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val (n, dir) = VideoContainer.demux(bytes)
          val idxs = (0 until 4).map(k => k * (n - 1) / 3).distinct
          idxs.iterator.map { fi =>
            val img = VideoContainer.decodeFrame(bytes, dir, fi)
            val v = img.getRaster.getSample(img.getWidth / 2, img.getHeight / 2, 0)
            Frame(id, fi.toLong, v.toLong)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  private val qFrameSampleSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS w, (doc_id % 32 + 24)::BIGINT AS h,
      |         (doc_id % 6 + 2)::BIGINT AS n FROM documents),
      |sampled AS (
      |  SELECT DISTINCT doc_id, w, h, ((ks.k * (n - 1)) // 3)::BIGINT AS frame_idx
      |  FROM dims, (SELECT unnest(range(4)) AS k) ks)
      |SELECT doc_id, frame_idx,
      |       (((w // 2) * 7 + (h // 2) * 13 + doc_id * 31 + frame_idx * 97) % 256)::BIGINT
      |         AS sample_value
      |FROM sampled ORDER BY doc_id, frame_idx""".stripMargin

  /** Feature extraction: an 8-bin histogram over the DECODED raster as the
    * stand-in "embedding" (a real pipeline runs a vision encoder in this
    * exact mapPartitions slot). Bins are scalar columns h0..h7 so both the
    * driver's hash compare and a plain SQL oracle work; downstream vector
    * consumers re-pack with `array(col("h0"), ..., col("h7"))`. Also
    * validated by ExtrasSpec against a formula-direct computation that
    * never touches the codec. */
  def qFeatureExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = PngCodec.decode(bytes)
          val w = img.getWidth; val h = img.getHeight
          val raster = img.getRaster
          val hist = new Array[Long](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { hist(raster.getSample(x, y, 0) % 8) += 1L; x += 1 }
            y += 1
          }
          MediaFeature(id, hist(0), hist(1), hist(2), hist(3), hist(4), hist(5), hist(6), hist(7))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val qFeatureExtractSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS width, (doc_id % 32 + 24)::BIGINT AS height
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, (xs.x * 7 + ys.y * 13 + d.doc_id * 31) % 256 AS v
      |  FROM dims d, (SELECT unnest(range(80)) AS x) xs, (SELECT unnest(range(56)) AS y) ys
      |  WHERE xs.x < d.width AND ys.y < d.height)
      |SELECT doc_id,
      |  count(CASE WHEN v % 8 = 0 THEN 1 END)::BIGINT AS h0,
      |  count(CASE WHEN v % 8 = 1 THEN 1 END)::BIGINT AS h1,
      |  count(CASE WHEN v % 8 = 2 THEN 1 END)::BIGINT AS h2,
      |  count(CASE WHEN v % 8 = 3 THEN 1 END)::BIGINT AS h3,
      |  count(CASE WHEN v % 8 = 4 THEN 1 END)::BIGINT AS h4,
      |  count(CASE WHEN v % 8 = 5 THEN 1 END)::BIGINT AS h5,
      |  count(CASE WHEN v % 8 = 6 THEN 1 END)::BIGINT AS h6,
      |  count(CASE WHEN v % 8 = 7 THEN 1 END)::BIGINT AS h7
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  final case class SceneCuts(doc_id: Long, n_frames: Long, n_cuts: Long, sad_total: Long)

  /** Scene-cut detection over the video container — the keyframe-selection
    * pass a video-pretraining pipeline runs before sampling (cut-adjacent
    * frames are the informative ones; within-shot frames are near-dups).
    * Per consecutive frame pair, the sum of absolute pixel differences
    * (SAD) over the decoded rasters; a pair is a CUT when its mean
    * absolute difference exceeds 120 per pixel (SAD > 120·n_pixels, exact
    * integer compare — the bar sits at the formula's expected drift, so
    * real containers produce a non-vacuous cut/no-cut mix decided by
    * exact pixel counts, not a threshold everything clears).
    *
    * Unlike [[qFrameSample]]'s selective decode, scene detection is
    * inherently a full-scan op — every pair must be compared — so the
    * loop decodes each frame ONCE and keeps only the previous raster
    * (O(1) frames in memory however long the video; a production swap-in
    * runs the same two-raster sweep over a real codec's decode iterator).
    * Emits the per-doc card (n_frames, n_cuts, sad_total) — exact
    * integers a DuckDB twin replays from the authored pixel formula
    * (consecutive frames differ by +97 mod 256, so |Δ| is 97 on
    * non-wrapping pixels and 159 on wrapping ones). */
  def qSceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (n, dir) = VideoContainer.demux(bytes)
          val r0 = VideoContainer.decodeFrame(bytes, dir, 0).getRaster
          val w = r0.getWidth; val h = r0.getHeight
          // bulk-extract each raster ONCE (one getSamples call per frame)
          // instead of w×h per-sample virtual calls per comparison —
          // measured ~3× on the 10× sweep, and still only two frame
          // buffers live at a time
          var prev = r0.getSamples(0, 0, w, h, 0, null: Array[Int])
          var cuts = 0L
          var sadTotal = 0L
          var f = 1
          while (f < n) {
            val cur = VideoContainer.decodeFrame(bytes, dir, f).getRaster
              .getSamples(0, 0, w, h, 0, null: Array[Int])
            var sad = 0L
            var i = 0
            val m = w * h
            while (i < m) {
              sad += math.abs(cur(i) - prev(i))
              i += 1
            }
            sadTotal += sad
            if (sad > 120L * w * h) cuts += 1
            prev = cur
            f += 1
          }
          SceneCuts(id, n.toLong, cuts, sadTotal)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val qSceneCutsSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS w, (doc_id % 32 + 24)::BIGINT AS h,
      |         (doc_id % 6 + 2)::BIGINT AS n FROM documents),
      |pairs AS (
      |  SELECT doc_id, w, h, n, unnest(range(n - 1)) AS f FROM dims),
      |sad AS (
      |  SELECT p.doc_id, p.f, (p.w * p.h)::BIGINT AS npx,
      |    sum(CASE WHEN (xs.x * 7 + ys.y * 13 + p.doc_id * 31 + p.f * 97) % 256 < 159
      |             THEN 97 ELSE 159 END)::BIGINT AS sad
      |  FROM pairs p, (SELECT unnest(range(80)) AS x) xs, (SELECT unnest(range(56)) AS y) ys
      |  WHERE xs.x < p.w AND ys.y < p.h
      |  GROUP BY 1, 2, 3)
      |SELECT d.doc_id, d.n AS n_frames,
      |  COALESCE(sum(CASE WHEN s.sad > 120 * s.npx THEN 1 ELSE 0 END), 0)::BIGINT AS n_cuts,
      |  COALESCE(sum(s.sad), 0)::BIGINT AS sad_total
      |FROM dims d LEFT JOIN sad s USING (doc_id)
      |GROUP BY 1, 2 ORDER BY d.doc_id""".stripMargin

  /** Resize: decode, then nearest-neighbor downscale into a 48×48 box with
    * aspect preserved (integer source mapping `src = i*in/out` so the
    * DuckDB oracle replays it exactly). The resample reads every real
    * decoded pixel it maps — asserted via the resized-raster checksum. */
  def qResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = PngCodec.decode(bytes)
          val w = img.getWidth; val h = img.getHeight
          val raster = img.getRaster
          val mx = math.max(w, h)
          val outW = w * 48 / mx
          val outH = h * 48 / mx
          var sum = 0L
          var j = 0
          while (j < outH) {
            var i = 0
            while (i < outW) { sum += raster.getSample(i * w / outW, j * h / outH, 0); i += 1 }
            j += 1
          }
          ResizedMeta(id, w.toLong, h.toLong, outW.toLong, outH.toLong, sum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val qResizeSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS width, (doc_id % 32 + 24)::BIGINT AS height
      |  FROM documents),
      |od AS (
      |  SELECT doc_id, width, height,
      |         (width * 48 // greatest(width, height)) AS out_w,
      |         (height * 48 // greatest(width, height)) AS out_h
      |  FROM dims)
      |SELECT o.doc_id, o.width, o.height, o.out_w::BIGINT AS out_w, o.out_h::BIGINT AS out_h,
      |       sum((((ix.i * o.width) // o.out_w) * 7
      |            + ((jx.j * o.height) // o.out_h) * 13
      |            + o.doc_id * 31) % 256)::BIGINT AS resized_sum
      |FROM od o, (SELECT unnest(range(48)) AS i) ix, (SELECT unnest(range(48)) AS j) jx
      |WHERE ix.i < o.out_w AND jx.j < o.out_h
      |GROUP BY o.doc_id, o.width, o.height, o.out_w, o.out_h
      |ORDER BY o.doc_id""".stripMargin

  /** Real WAV encode/decode via JDK-only `javax.sound.sampled` (pure
    * file-format conversion — no audio hardware involved). 8-bit unsigned
    * PCM mono: lossless in WAV, so the DuckDB oracle replays the sample
    * formula exactly like the PNG path replays pixels. */
  object WavCodec {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}

    val SampleRate = 8000

    /** Deterministic unsigned 8-bit sample `i` for document `id`. */
    def sample(i: Int, id: Long): Int = ((i * 11L + id * 17L) % 256L).toInt

    def nSamples(id: Long): Int = (id % 400 + 100).toInt // 100..499

    private def fmt = new AudioFormat(
      AudioFormat.Encoding.PCM_UNSIGNED, SampleRate.toFloat, 8, 1, 1, SampleRate.toFloat, false)

    /** Encode document `id`'s clip as a real RIFF/WAVE byte blob. */
    def encode(id: Long): Array[Byte] = {
      val n = nSamples(id)
      val raw = Array.tabulate(n)(i => sample(i, id).toByte)
      val out = new ByteArrayOutputStream()
      val ais = new AudioInputStream(new ByteArrayInputStream(raw), fmt, n.toLong)
      AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Decode a WAV blob: (sampleRateHz, unsigned samples). */
    def decode(bytes: Array[Byte]): (Int, Array[Int]) = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val rate = ais.getFormat.getSampleRate.toInt
      val buf = ais.readAllBytes()
      (rate, buf.map(_ & 0xff))
    }
  }

  private def audioBlobs(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d, "graft_media_wav")(WavCodec.encode)

  final case class AudioMeta(doc_id: Long, sample_rate: Long, n_samples: Long, duration_ms: Long, amp_sum: Long)
  final case class AudioFeature(doc_id: Long, e0: Long, e1: Long, e2: Long, e3: Long)

  /** Audio metadata: decode each WAV, report the REAL sample rate and
    * frame count from the RIFF header plus a full-stream amplitude sum
    * (proves the PCM data was actually read, not just the header). */
  def qAudioMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (rate, samples) = WavCodec.decode(bytes)
          AudioMeta(
            id, rate.toLong, samples.length.toLong,
            samples.length.toLong * 1000L / rate, samples.map(_.toLong).sum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val qAudioMetaSql =
    s"""WITH dims AS (SELECT doc_id, (doc_id % 400 + 100)::BIGINT AS n FROM documents)
       |SELECT d.doc_id, ${WavCodec.SampleRate}::BIGINT AS sample_rate, d.n AS n_samples,
       |       (d.n * 1000 // ${WavCodec.SampleRate})::BIGINT AS duration_ms,
       |       sum((i.i * 11 + d.doc_id * 17) % 256)::BIGINT AS amp_sum
       |FROM dims d, (SELECT unnest(range(500)) AS i) i
       |WHERE i.i < d.n
       |GROUP BY d.doc_id, d.n
       |ORDER BY d.doc_id""".stripMargin

  /** Audio feature extraction: per-quartile energy (Σ |s−128| over four
    * equal integer-boundary chunks of the decoded stream) — the windowed-
    * energy shape of a real audio featurizer, over real decoded PCM. */
  def qAudioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (_, samples) = WavCodec.decode(bytes)
          val n = samples.length
          val e = new Array[Long](4)
          var i = 0
          while (i < n) {
            // chunk q covers [q*n/4, (q+1)*n/4) — i*4/n lands i in it
            e(i * 4 / n) += math.abs(samples(i) - 128).toLong
            i += 1
          }
          AudioFeature(id, e(0), e(1), e(2), e(3))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val qAudioFeaturesSql =
    """WITH dims AS (SELECT doc_id, (doc_id % 400 + 100)::BIGINT AS n FROM documents),
      |px AS (
      |  SELECT d.doc_id, (i.i * 4 // d.n) AS q,
      |         abs((i.i * 11 + d.doc_id * 17) % 256 - 128) AS a
      |  FROM dims d, (SELECT unnest(range(500)) AS i) i
      |  WHERE i.i < d.n)
      |SELECT doc_id,
      |  sum(CASE WHEN q = 0 THEN a ELSE 0 END)::BIGINT AS e0,
      |  sum(CASE WHEN q = 1 THEN a ELSE 0 END)::BIGINT AS e1,
      |  sum(CASE WHEN q = 2 THEN a ELSE 0 END)::BIGINT AS e2,
      |  sum(CASE WHEN q = 3 THEN a ELSE 0 END)::BIGINT AS e3
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** 56-bit perceptual difference hash (dHash) of a DECODED raster:
    * nearest-neighbor downscale to an 8×8 grid with the same integer
    * source mapping [[qResize]] uses (`src = i*dim/8`), then one bit per
    * horizontal neighbor comparison (7 per row × 8 rows). 56 bits keep
    * the value positive in a BIGINT, matching the repo's md5-prefix
    * digest convention. Structurally identical images (crops/re-encodes
    * of the same content) agree on almost every bit, which is what makes
    * Hamming distance over dHash the standard image near-dup key. */
  def dHash(img: BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    var v = 0L
    var j = 0
    while (j < 8) {
      val sy = j * h / 8
      var i = 0
      while (i < 7) {
        val p0 = raster.getSample(i * w / 8, sy, 0)
        val p1 = raster.getSample((i + 1) * w / 8, sy, 0)
        if (p1 > p0) v |= 1L << (j * 7 + i)
        i += 1
      }
      j += 1
    }
    v
  }

  /** The 4×14-bit Hamming-LSH banding of a 56-bit dHash — ONE definition
    * shared by the batch near-dup sweep ([[qImageDedup]]) and the
    * streaming admission gate
    * ([[graft.streaming.StreamingDedup.dhashAgainstCorpus]]), so the two
    * paths cannot drift on band layout. Expects a `dhash` column in
    * scope; yields struct rows (band, bkey). */
  private[graft] val DHashBandsExpr =
    "transform(sequence(0, 3), b -> struct(b AS band, shiftright(dhash, b * 14) & 16383L AS bkey))"

  /** Perceptual image near-dup: decode each PNG, dHash the raster, then
    * find all pairs within Hamming ≤ 2 via a 4×14-bit band join — the
    * Hamming-space LSH that never enumerates all pairs. By pigeonhole,
    * ≤3 differing bits cannot touch all four bands, so banding is
    * COMPLETE (not probabilistic) for the ≤2 bar — which is why the
    * DuckDB oracle can be the brute-force all-pairs join over the
    * replayed pixel formula and must match row-for-row (the
    * [[Dedup.qSimhashComplete]] argument, applied to images). At 100 TB
    * the band join's fanout is bounded by bucket occupancy (~n/2¹⁴ per
    * band on near-uniform perceptual hashes), and blobs never cross the
    * shuffle — only (doc_id, dhash) does. */
  def qImageDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dh = blobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => (id, dHash(PngCodec.decode(bytes))) })
      .toDF("doc_id", "dhash")
      .cache()
    // identical-dhash collapse (the [[Dedup.expandRepPairs]] move): every
    // derivation the banded join uses — band keys, XOR distance — is a
    // function of the 64-bit dhash alone, so docs sharing a dhash are
    // interchangeable and the Hamming-LSH self-join only needs one
    // representative per distinct hash. Visually-duplicated images are
    // the NORM in crawled corpora (the same logo/thumbnail under millions
    // of URLs), and without the collapse a g-sized identical-hash group
    // costs the band join g² candidate rows; with it the join scales with
    // distinct hashes while member pairs expand back output-linearly
    // (intra-group Hamming is identically 0 ≤ 2, so whole groups always
    // qualify against themselves).
    val members = Dedup.groupMembersBy(dh, col("dhash")).cache()
    val reps = dh.join(
      members.filter(col("rep") === col("doc_id")).select("doc_id"), "doc_id")
    val banded = reps.select(
      col("doc_id"),
      col("dhash"),
      explode(expr(DHashBandsExpr)).as("bb"))
      .select(col("doc_id"), col("dhash"), col("bb.band"), col("bb.bkey"))
    val repPairs = banded.as("x")
      .join(banded.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        col("x.dhash").as("ha"),
        col("y.dhash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 2)
      .select(col("doc_a").as("da"), col("doc_b").as("db"), col("hamming"))
    Dedup.expandRepPairs(repPairs, members,
        members.select("rep").distinct(), "hamming", lit(0L))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  private val qImageDedupSql =
    """WITH dims AS (
      |  SELECT doc_id, (doc_id % 48 + 32)::BIGINT AS w, (doc_id % 32 + 24)::BIGINT AS h
      |  FROM documents),
      |dh AS (
      |  SELECT d.doc_id,
      |    sum(CASE WHEN ((((i.i + 1) * d.w // 8) * 7 + ((j.j * d.h // 8)) * 13 + d.doc_id * 31) % 256)
      |               > (((i.i * d.w // 8) * 7 + ((j.j * d.h // 8)) * 13 + d.doc_id * 31) % 256)
      |             THEN (1::BIGINT << (j.j * 7 + i.i)) ELSE 0 END)::BIGINT AS dhash
      |  FROM dims d, (SELECT unnest(range(7)) AS i) i, (SELECT unnest(range(8)) AS j) j
      |  GROUP BY d.doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
      |FROM dh a, dh b
      |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.dhash, b.dhash)) <= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Silence segmentation over real decoded PCM: per-16-sample window
    * energy (Σ|s−128|), an integer activity threshold, then
    * gaps-and-islands over the ACTIVE windows (window_idx − row_number
    * is constant within a contiguous run) to count segments and the
    * longest run per clip — the media → relational composition a speech
    * pipeline runs to cut clips at silence boundaries. The decode stage
    * emits only (doc_id, window_idx, energy); everything after runs on
    * scalar columns partitioned by doc_id, so at 100 TB the window
    * functions shuffle integers, never audio bytes. */
  def qAudioSilence(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val win = audioBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val (_, samples) = WavCodec.decode(bytes)
          val nw = (samples.length + 15) / 16
          (0 until nw).iterator.map { w =>
            var e = 0L
            var i = w * 16
            val end = math.min(i + 16, samples.length)
            while (i < end) { e += math.abs(samples(i) - 128).toLong; i += 1 }
            (id, w.toLong, e)
          }
        }
      }
      .toDF("doc_id", "w", "energy")
    val active = win.filter(col("energy") > 1024)
    val grp = active.withColumn(
      "grp",
      col("w") - row_number().over(Window.partitionBy("doc_id").orderBy("w")))
    val runs = grp
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), max("run_len").as("max_run"))
    win
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("energy") > 1024, 1L).otherwise(0L)).as("n_active"))
      .join(runs, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_windows"), col("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("doc_id")
  }

  private val qAudioSilenceSql =
    """WITH dims AS (SELECT doc_id, (doc_id % 400 + 100)::BIGINT AS n FROM documents),
      |win AS (
      |  SELECT d.doc_id, (i.i // 16) AS w,
      |         sum(abs((i.i * 11 + d.doc_id * 17) % 256 - 128)) AS energy
      |  FROM dims d, (SELECT unnest(range(500)) AS i) i
      |  WHERE i.i < d.n
      |  GROUP BY d.doc_id, (i.i // 16)),
      |act AS (
      |  SELECT doc_id, w, w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
      |  FROM win WHERE energy > 1024),
      |runs0 AS (
      |  SELECT doc_id, grp, count(*) AS run_len FROM act GROUP BY doc_id, grp),
      |runs AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_segments, max(run_len)::BIGINT AS max_run
      |  FROM runs0 GROUP BY doc_id),
      |tot AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_windows,
      |         sum(CASE WHEN energy > 1024 THEN 1 ELSE 0 END)::BIGINT AS n_active
      |  FROM win GROUP BY doc_id)
      |SELECT t.doc_id, t.n_windows, t.n_active,
      |       coalesce(r.n_segments, 0)::BIGINT AS n_segments,
      |       coalesce(r.max_run, 0)::BIGINT AS max_run
      |FROM tot t LEFT JOIN runs r ON t.doc_id = r.doc_id
      |ORDER BY t.doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q_media_meta", qMediaMeta, Some(qMediaMetaSql)),
    Q("q_video_meta", qVideoMeta, Some(qVideoMetaSql)),
    Q("q_frame_sample", qFrameSample, Some(qFrameSampleSql)),
    Q("q_scene_cuts", qSceneCuts, Some(qSceneCutsSql)),
    Q("q_media_features", qFeatureExtract, Some(qFeatureExtractSql)),
    Q("q_media_resize", qResize, Some(qResizeSql)),
    Q("q_audio_meta", qAudioMeta, Some(qAudioMetaSql)),
    Q("q_audio_features", qAudioFeatures, Some(qAudioFeaturesSql)),
    Q("q_image_dedup", qImageDedup, Some(qImageDedupSql)),
    Q("q_audio_silence", qAudioSilence, Some(qAudioSilenceSql)))
}

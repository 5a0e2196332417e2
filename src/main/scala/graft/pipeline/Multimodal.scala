package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Multimodal (binary) column operators for training-data pipelines:
  * opaque image/audio payloads as `binary` columns with typed metadata,
  * plus decode / feature-extract / resize / frame-sample / embed stages.
  *
  * Image decode and resize are REAL: the fixture's image payloads are
  * valid 24-bit BMP files (built bit-exactly by the expression-based
  * generator below) and the decode path runs them through
  * `javax.imageio` — a genuine codec round-trip, verified against a
  * DuckDB oracle that recomputes pixel statistics from the known
  * generator byte layout (24bpp BMP stores the raw BGR pixel array at
  * offset 54; widths are multiples of 4 so rows carry no padding).
  * Audio payloads are treated as unsigned-8-bit PCM, where decode IS
  * the identity over payload bytes. [[withEmbedding]] derives its
  * vectors from the decoded content (strided sample sums), so the
  * multimodal→ANN chain is content-based end to end.
  *
  * The decode/resample steps are Scala UDFs of necessity — a codec is
  * imperative JVM code, not a Catalyst expression — but remain pure
  * per-row projections: scan-speed parallel, shuffle-free at 100 TB.
  * Everything else (byte slicing, window explosion, checksums) is
  * native Catalyst inside whole-stage codegen.
  */
object Multimodal {

  // Probe-only overrides (GRAFT_MEDIA_ROOT / GRAFT_MEDIA_ROWS): scale
  // probes generate an N-times media corpus under /tmp without touching
  // the committed fixture. Defaults reproduce it bit for bit — rows are
  // generated per media_id, so a larger count simply extends the id
  // range.
  val root = sys.env.getOrElse("GRAFT_MEDIA_ROOT",
    Paths.get("fixtures/media").toAbsolutePath.toString)
  val nRows: Int = {
    val n = sys.env.get("GRAFT_MEDIA_ROWS").map(_.toInt).getOrElse(2000)
    require(n >= 1, s"GRAFT_MEDIA_ROWS must be >= 1, got $n")
    n
  }

  /** Deterministic synthetic media fixture: 2000 rows; image rows carry
    * a REAL 24-bit BMP (4..124 px wide, width % 4 == 0 so the pixel
    * array is unpadded; 4..64 px tall; md5-chain pixel bytes — ~1300
    * images / ~9 MB of pixels, so the decode entries measure codec
    * throughput, not fixed JVM overhead), audio rows carry 200–3999
    * bytes of md5-chain u8 "PCM".
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (!Files.exists(Paths.get(s"$root/media/_SUCCESS"))) generate(spark)
  }

  /** Little-endian hex of an int32/int16 column (BMP headers are LE). */
  private def le32(c: Column): Column = {
    val be = lpad(hex(c.cast("long")), 8, "0")
    concat(substring(be, 7, 2), substring(be, 5, 2),
      substring(be, 3, 2), substring(be, 1, 2))
  }

  def generate(spark: SparkSession): Unit = {
    // spark.range, NOT a driver-local (0 until n).toDF: the local
    // relation embeds every id in the plan and generates on the
    // driver; at the 100× probe (200 k rows) that write wedged in
    // AQE's final-plan wait with zero tasks scheduled. Range is
    // distributed from the start; the int cast keeps xxhash64 inputs
    // (IntegerType) — hence the committed fixture bytes — identical.
    val ids = spark.range(nRows.toLong)
      .select(col("id").cast("int").as("media_id"))
    val h = xxhash64(lit("media"), col("media_id"))
    val audioLen = (pmod(h, lit(3800L)) + 200L).cast("int")
    val media = ids
      .withColumn("kind",
        when(pmod(h, lit(3L)) < 2, "image").otherwise("audio"))
      // image dims: width in {4,8,...,124} (mult of 4 => no BMP row
      // padding), height in 4..64
      .withColumn("width",
        (pmod(xxhash64(lit("w"), col("media_id")), lit(31L)) * 4 + 4).cast("int"))
      .withColumn("height",
        (pmod(xxhash64(lit("h"), col("media_id")), lit(61L)) + 4).cast("int"))
      .withColumn("channels", lit(3))
      .withColumn("_pix", col("width") * 3 * col("height"))
      // md5 chain sized per row at runtime (16 payload bytes per md5
      // block): a literal concat of ceil(124*3*64/16) = 1488 md5 nodes
      // would blow the expression tree; transform+array_join loops in
      // ONE expression and the chain stays byte-replayable from
      // (media_id, block index) on any engine
      .withColumn("_chain", array_join(transform(
        sequence(lit(0),
          floor((greatest(col("_pix"), audioLen) + lit(15)) / 16)
            .cast("int") - 1),
        j => md5(concat(col("media_id"), lit("|"), j))), ""))
      // 54-byte BITMAPINFOHEADER BMP, fields little-endian:
      // "BM" | file size | reserved | data offset 54 | header size 40 |
      // width | height | planes 1 | bpp 24 | BI_RGB | image size |
      // ppm x/y + palette counts (zeros)
      .withColumn("_bmp_hdr", concat(
        lit("424D"), le32(col("_pix") + 54), lit("00000000"),
        lit("36000000"), lit("28000000"),
        le32(col("width")), le32(col("height")),
        lit("0100"), lit("1800"), lit("00000000"),
        le32(col("_pix")),
        lit("00000000000000000000000000000000")))
      .withColumn("payload",
        when(col("kind") === "image",
          unhex(concat(col("_bmp_hdr"), col("_chain").substr(lit(1), col("_pix") * 2))))
        .otherwise(unhex(col("_chain").substr(lit(1), audioLen * 2))))
      .withColumn("sample_rate",
        when(pmod(xxhash64(lit("sr"), col("media_id")), lit(2L)) === 0, 8000)
          .otherwise(16000))
      // true sample count: pixel-array values for images (the 54-byte
      // BMP header is container, not samples), payload bytes for audio
      .withColumn("n_samples",
        when(col("kind") === "image", col("_pix"))
          .otherwise(length(col("payload"))))
      .drop("_pix", "_bmp_hdr")
    // 32 files: media tables must be laid out to DECODE cost, not
    // bytes — Spark sizes scan splits by bytes (maxPartitionBytes), so
    // a handful of ~9 MB files caps codec parallelism at a handful of
    // cores (measured: 4 files ⇒ cpu/wall ≈ 3.5 on local[32]). At
    // 100 TB the same rule holds: write media with row-count-sized
    // files (or repartition before the decode stage).
    media.repartition(32).write.mode("overwrite").parquet(s"$root/media")
  }

  /** Raw payload bytes as an INT array (0–255) — the u8-PCM "decode"
    * for audio rows. A native codegen expression
    * ([[graft.expressions.ByteValues]]): the hex-string composition it
    * replaced (`conv(substr(hex(payload), ...))` per element) paid
    * ~2–4 µs of UTF8String+parse machinery per byte — ~18 s of CPU
    * over the 1.3 M-byte audio corpus — where a primitive loop pays
    * nanoseconds.
    */
  def byteValues(payload: Column): Column =
    graft.expressions.ByteValues(payload)

  /** Decoded per-row sample statistics: decoded dims, value count, and
    * sum/min/max over sample values.
    */
  case class DecodedStats(dec_width: Int, dec_height: Int, n_vals: Long,
                          val_sum: Long, val_min: Int, val_max: Int)

  /** REAL image decode via javax.imageio (BMP/PNG ship with the JDK):
    * sums every channel value of every pixel. Returns None when the
    * payload is not a decodable image.
    */
  private val decodeImage = udf { bytes: Array[Byte] =>
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      var sum = 0L; var mn = 255; var mx = 0
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          var c = 0
          while (c < 3) {
            val v = (rgb >> (8 * c)) & 0xff
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Some(DecodedStats(img.getWidth, img.getHeight,
        3L * img.getWidth * img.getHeight, sum, mn, mx))
    }
  }

  /** Decode dispatch: image rows run the real codec (so `dec_width` /
    * `dec_height` are DECODED dims — comparing them against the
    * metadata columns is a true codec check); audio rows decode as
    * u8 PCM (sample values = payload bytes, dims pass through).
    */
  def withSampleStats(df: DataFrame): DataFrame = {
    val bv = col("_bv")
    val audioStats = struct(
      col("width").as("dec_width"), col("height").as("dec_height"),
      length(col("payload")).cast("long").as("n_vals"),
      aggregate(bv, lit(0L), (a, x) => a + x.cast("long")).as("val_sum"),
      array_min(bv).as("val_min"), array_max(bv).as("val_max"))
    // decode bytes only for the rows whose branch consumes them, staged
    // once as a column so the three stat references share one pass
    df.withColumn("_bv",
        when(col("kind") === "audio", byteValues(col("payload"))))
      .withColumn("_dec",
        when(col("kind") === "image", decodeImage(col("payload")))
          .otherwise(audioStats))
      .select(col("*"), col("_dec.*")).drop("_dec", "_bv")
  }

  case class Resampled(out_sum: Long, out_fp: Long)

  /** REAL nearest-neighbor resample to outW x outH after an imageio
    * decode: source pixel of output (x, y) is (x*W/outW, y*H/outH)
    * (integer floor). Emits the exact sum over all resampled channel
    * values plus an order-sensitive fingerprint Σ v_i·(i+1) over the
    * (y, x, BGR) traversal — BGR to mirror the BMP byte layout the
    * oracle reads, so a transposed or mis-ordered resample cannot pass.
    */
  private def resampleImage(outW: Int, outH: Int) = udf { bytes: Array[Byte] =>
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      var sum = 0L; var fp = 0L; var i = 0L
      var y = 0
      while (y < outH) {
        var x = 0
        while (x < outW) {
          val sx = x * img.getWidth / outW
          val sy = y * img.getHeight / outH
          val rgb = img.getRGB(sx, sy)
          var c = 0
          while (c < 3) {
            val v = (rgb >> (8 * c)) & 0xff // c=0 blue, 1 green, 2 red
            sum += v
            i += 1
            fp += v.toLong * i
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Some(Resampled(sum, fp))
    }
  }

  /** Resize stage over image rows: adds out_width/out_height metadata
    * plus the resample statistics (out_sum, out_fp).
    */
  def resampled(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("_r", resampleImage(w, h)(col("payload")))
      .withColumn("out_width", lit(w))
      .withColumn("out_height", lit(h))
      .select(col("*"), col("_r.*")).drop("_r")

  /** Frame/window sampling: explode audio payloads into fixed-size
    * windows (UDTF shape — one row per window, batch-friendly).
    *
    * `hex(payload)` is STAGED once per doc before the explode: inlined
    * in the per-window `substr` it would re-encode the whole payload for
    * every exploded row — O(payload × windows) per doc. The no-CSE
    * staging pitfall documented for lambdas applies to the
    * explode/substr shape too: stage shared subexpressions BELOW the
    * Generate, where they run once per input row.
    */
  def audioWindows(df: DataFrame, windowBytes: Int): DataFrame =
    df.filter(col("kind") === "audio")
      .withColumn("_hexp", hex(col("payload")))
      .select(col("media_id"), col("sample_rate"), col("_hexp"),
        posexplode(sequence(lit(0),
          ceil((length(col("_hexp")) / 2) / lit(windowBytes.toDouble))
            .cast("int") - 1))
          .as(Seq("win_idx", "_w")))
      .withColumn("win_payload", unhex(col("_hexp")
        .substr(col("win_idx") * (2 * windowBytes) + 1, lit(2 * windowBytes))))
      .withColumn("win_bytes", length(col("win_payload")).cast("long"))
      .drop("_w", "_hexp")

  /** Temporal frame sampling — the video-pipeline DECIMATION move
    * ([[audioWindows]] explodes every window; this keeps every
    * `stride`-th): the payload is treated as consecutive
    * `frameBytes`-sized frames and only frames at indices ≡ 0 (mod
    * stride) survive, each with exact per-frame statistics
    * (sum/min/max over sample values via the codegen
    * [[graft.expressions.ByteValues]]). This is the Spark-side shape
    * of sampling every Nth video frame before an expensive
    * feature-extract: the explode, the stride filter, and the stats
    * are all scan-speed narrow projections — no shuffle, output
    * bounded by payload bytes / (frameBytes · stride) per row. A real
    * codec slots in where ByteValues reads the payload, with the same
    * schema and the same decimation arithmetic.
    */
  def frameSample(df: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes >= 1 && stride >= 1,
      s"frameBytes/stride must be >= 1: $frameBytes/$stride")
    val fv = col("_fv")
    audioWindows(df, frameBytes)
      .filter(pmod(col("win_idx"), lit(stride)) === 0)
      .withColumn("_fv", byteValues(col("win_payload")))
      .select(col("media_id"), col("sample_rate"), col("win_idx"),
        col("win_bytes").as("frame_bytes"),
        aggregate(fv, lit(0L), (a, x) => a + x).as("frame_sum"),
        array_min(fv).as("frame_min"),
        array_max(fv).as("frame_max"))
  }

  /** CONTENT-DERIVED embedding: feature k is the exact sum of sample
    * values at stream positions ≡ k (mod `dim`). The sample stream is
    * the REAL imageio decode in (y top-down, x, BGR) traversal for
    * image rows — the same order as [[resampled]]'s fingerprint, so the
    * DuckDB oracle replays it from the raw BMP byte layout — and the
    * u8-PCM payload bytes for audio rows. Deterministic, exactly
    * oracle-reproducible, and genuinely content-sensitive (any payload
    * byte change moves a feature); a model forward pass slots in here
    * in production with the same schema.
    */
  private def imageFeatures(dim: Int) = udf { bytes: Array[Byte] =>
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      val acc = new Array[Long](dim)
      var i = 0; var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          var c = 0
          while (c < 3) { // c=0 blue, 1 green, 2 red — BMP byte order
            acc(i % dim) += (rgb >> (8 * c)) & 0xff
            i += 1; c += 1
          }
          x += 1
        }
        y += 1
      }
      Some(acc)
    }
  }

  def withEmbedding(df: DataFrame, dim: Int = 16): DataFrame = {
    // byte array staged as a column so the dim stride passes share one
    // decode; image rows skip it (their features come from the codec)
    val strided = transform(sequence(lit(0), lit(dim - 1)), k =>
      aggregate(filter(col("_bv"), (v, i) => i % dim === k),
        lit(0L), (a, v) => a + v.cast("long")))
    df.withColumn("_bv",
        when(col("kind") === "audio", byteValues(col("payload"))))
      .withColumn("iv",
        when(col("kind") === "image", imageFeatures(dim)(col("payload")))
          .otherwise(strided))
      .drop("_bv")
  }
}

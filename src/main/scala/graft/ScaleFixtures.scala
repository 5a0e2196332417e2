package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe fixture builder (DESIGN.md "10× scale probes"): writes an
  * N× `events.parquet` built as N user-disjoint copies of a source table
  * — copy i offsets `user_id` by i·(max_user+1) and `event_id` by
  * i·(max_id+1), leaving `ts`/`event_type`/`value` untouched — so every
  * per-user event sequence (sessions, funnels, cohorts) is preserved
  * EXACTLY while distinct-user count, per-window row count, and live
  * state-store keys all scale by N. The same construction discipline as
  * the vocabulary-disjoint sf1 document corpus: structure preserved
  * within a copy, zero interaction across copies.
  *
  * Usage: runMain graft.ScaleFixtures <srcSfDir> <outDir> <factor>
  * Emits `<outDir>/events.parquet` as ONE file (the streaming entries
  * stage/copy it as a single file, matching the driver's testdata
  * layout).
  */
object ScaleFixtures {
  def scaledEvents(s: SparkSession, srcDir: String, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val ev = s.read.parquet(s"$srcDir/events.parquet")
    val (uStride, eStride) = {
      val r = ev.agg(max("user_id"), max("event_id")).head()
      (r.getLong(0) + 1L, r.getLong(1) + 1L)
    }
    (0 until factor).map { i =>
      ev.select(
        (col("event_id") + lit(i * eStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * uStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)
  }

  /** N× documents corpus as N VOCABULARY-DISJOINT copies (the sf1
    * construction, now reproducible at any factor): every token of
    * copy i is prefixed `c<i>` — a per-copy bijective token mapping,
    * so within-copy shingle/n-gram similarity structure (hence the
    * dup-pair and cluster profile) is preserved EXACTLY while
    * cross-copy similarity is zero; pair/cluster counts scale ~N.
    * doc_id offsets by i·(max_doc_id+1).
    */
  def scaledDocs(s: SparkSession, srcDir: String, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val docs = s.read.parquet(s"$srcDir/documents.parquet")
    val dStride = docs.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(i * dStride)).as("doc_id"),
        // prefix only NON-empty tokens: consecutive spaces split into
        // empty tokens, and turning those into bare "c<i>" would
        // perturb the token-count profile vs the source corpus
        concat_ws(" ",
          transform(split(col("text"), " "),
            t => when(t === "", t).otherwise(concat(lit(s"c$i"), t))))
          .as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionAll _)
      // n_chars must describe the REWRITTEN text (the prefixes grew
      // it), or char-based quality stats drift vs the text column
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** N× embeddings corpus as N ID-OFFSET copies: vec_id offsets by
    * i·(max_vec_id+1); embedding and label are kept byte-identical, so
    * per-copy geometry (centroid structure, bucket occupancy profile,
    * neighbor distances) is preserved exactly while corpus size, LSH
    * bucket density, IVF list length, and PQ training mass all scale
    * by N. Copies are exact — a deliberately duplicate-heavy corpus:
    * probes that enumerate near-dup PAIRS grow ~N² on it by
    * construction (fixture artifact, not an operator property); the
    * ANN probes (train/encode/scan/top-k) scale in corpus size.
    */
  def scaledEmbeddings(s: SparkSession, srcDir: String, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val emb = s.read.parquet(s"$srcDir/embeddings.parquet")
    val stride = emb.agg(max("vec_id")).head().getLong(0) + 1L
    (0 until factor).map { i =>
      emb.select(
        (col("vec_id") + lit(i * stride)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionAll _)
  }

  /** N× embeddings as N per-copy REFLECTED copies — the
    * pair-preserving construction the id-offset form (above) cannot
    * give (VERDICT r12 missing #2): copy i flips the sign of each
    * dimension d iff md5-hash("refl|i|d") is odd (copy 0 = identity,
    * so the base corpus is preserved verbatim). A sign pattern is an
    * ISOMETRY: every within-copy pairwise cosine — hence the
    * within-copy near-dup pair set and cluster geometry — is
    * preserved EXACTLY (cos(s∘u, s∘v) = cos(u, v)), while a
    * cross-copy twin pair sees cos(s_i∘x, s_j∘x) =
    * Σ_d ±x_d²/‖x‖² ≈ 0 under the random ~half-dims flip — far below
    * any near-dup threshold, so exact duplication is BROKEN and pair
    * output scales ~N instead of the exact-copy fixture's ~N².
    * Cluster count must scale with N for a fixed-size-cluster probe
    * (k ∝ copies — the SemDeDup deployment rule anyway).
    */
  def reflectedEmbeddings(s: SparkSession, srcDir: String, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val emb = s.read.parquet(s"$srcDir/embeddings.parquet")
    val stride = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until factor).map { i =>
      val signs = Array.tabulate(dim)(d =>
        if (i == 0) 1.0f
        else if ((graft.pipeline.TextOps.hash60(s"refl|$i|$d") & 1L) == 1L) -1.0f
        else 1.0f)
      emb.select(
        (col("vec_id") + lit(i * stride)).as("vec_id"),
        zip_with(col("embedding"), lit(signs), (x, sg) => x * sg)
          .as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleFixtures <srcSfDir> <outDir> <factor> [events|documents|embeddings|embeddings_reflect]")
    val Array(src, out, f) = args.take(3)
    val table = if (args.length == 4) args(3) else "events"
    val spark = Session()
    import java.io.File
    import java.nio.file.Files
    val outDir = new File(out); outDir.mkdirs()
    val staging = new File(outDir, "_staging")
    val scaled = table match {
      case "documents"          => scaledDocs(spark, src, f.toInt)
      case "embeddings"         => scaledEmbeddings(spark, src, f.toInt)
      case "embeddings_reflect" => reflectedEmbeddings(spark, src, f.toInt)
      case _                    => scaledEvents(spark, src, f.toInt)
    }
    scaled
      // 2 MB row groups (the SyntheticMs convention): a single-file
      // fixture with the default 128 MB group is ONE indivisible scan
      // split — every probe on it serializes on 1-2 tasks no matter
      // what maxPartitionBytes asks for (measured: pl_a6 at 100×
      // utilized ~2 of 32 cores until this write matched the scans).
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 2L * 1024 * 1024)
      .parquet(staging.getAbsolutePath)
    val part = staging.listFiles().filter(_.getName.endsWith(".parquet")).head
    // the reflected variant still stands in for the embeddings table
    val fileBase = if (table == "embeddings_reflect") "embeddings" else table
    val dst = new File(outDir, s"$fileBase.parquet")
    if (dst.exists()) dst.delete()
    Files.move(part.toPath, dst.toPath)
    Option(staging.listFiles()).foreach(_.foreach(_.delete()))
    staging.delete()
    println(s"[scale] wrote ${dst.getAbsolutePath} (${f}x $src)")
    spark.stop()
  }
}

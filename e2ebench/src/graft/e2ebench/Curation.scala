package graft.e2ebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Caches, CorpusFilter, Dedup, Sampling, TextOps}

/** The stages `pl_p3_full_curation` composes, run as separate calls the
  * way CurationProbe runs them. Each stage is its own method so the
  * trace can attribute its jobs by call site ([[Trace.span]]).
  */
object Curation {

  /** Mixture budgets at the sf1 corpus size (50,000 documents); a run
    * scales them with its corpus so the mixture admits the same share.
    */
  val BaseBudgets = Map("src1" -> 2000L, "src3" -> 400L)
  val BaseDefaultBudget = 1000L
  val BaseDocs = 50000L

  /** One pass: documents parquet in, chunk table parquet out. Returns the
    * chunk count. `mark` receives each stage's span name and its
    * [start, end] epoch ms, so the driver time between a stage's jobs is
    * attributed to the stage too.
    */
  def run(spark: SparkSession, docsPath: String, outPath: String, nDocs: Long,
          mark: (String, Long, Long) => Unit): Long = {
    def span[A](name: String)(f: => A): A = {
      val t0 = System.currentTimeMillis()
      try f finally mark(name, t0, System.currentTimeMillis())
    }
    val docs = spark.read.parquet(docsPath)
    val corpus = docs.filter(pmod(col("doc_id"), lit(37L)) =!= 0L)
    val held = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
    val (kept, sigs) = span("pipeline.dedup")(dedup(corpus))
    val clean0 = span("pipeline.clean") {
      try clean(corpus, held, kept) finally Caches.release(sigs)
    }
    val chunks = span("pipeline.package") {
      try pack(clean0, nDocs) finally Caches.release(clean0)
    }
    span("pipeline.write")(try write(chunks, outPath) finally Caches.release(chunks))
  }

  def dedup(corpus: DataFrame): (DataFrame, DataFrame) =
    CorpusFilter.keptPlan(corpus, 0.7)

  def clean(corpus: DataFrame, held: DataFrame, kept: DataFrame): DataFrame = {
    val contam = Dedup.contaminated(corpus, held, 4).select("doc_id")
    Caches.materialize(kept.select("doc_id", "source", "n_tokens", "text")
      .join(contam, Seq("doc_id"), "left_anti"))
  }

  def pack(clean: DataFrame, nDocs: Long): DataFrame = {
    def scaled(b: Long) = math.max(1L, b * nDocs / BaseDocs)
    val mixed = Sampling.tokenBudgetMix(clean, col("doc_id"), col("source"),
      col("n_tokens"), BaseBudgets.map { case (k, v) => k -> scaled(v) },
      scaled(BaseDefaultBudget))
    val labeled = Sampling.splitLabels(mixed, col("doc_id"),
      Seq("train" -> 900000L, "val" -> 50000L, "test" -> 50000L))
    val chunks = TextOps.chunkTokens(labeled.select("doc_id", "text"), 32, 24)
    Caches.materialize(
      chunks.join(labeled.select("doc_id", "source", "split", "cum_before"),
        Seq("doc_id"))
        .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens",
          "source", "split", "cum_before"))
  }

  def write(chunks: DataFrame, outPath: String): Long = {
    chunks.write.parquet(outPath)
    chunks.count()
  }
}

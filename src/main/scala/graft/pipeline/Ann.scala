package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps.hash60
import graft.expressions.{Centroids, NearestCentroids}

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the correctness baseline, plus two
  * scale paths — sign-random-projection LSH and a label-partitioned
  * IVF (coarse quantizer → search one inverted list).
  *
  * Exactness design: embeddings are scaled to integers
  * (round(x·10⁴) as BIGINT), so dot products and squared norms are
  * exact integer sums on every engine; cosine = dot/(√n1·√n2) divides
  * identical integer-derived doubles, so even ordering ties break
  * identically cross-engine.
  *
  * Scale design (100 TB / 10⁹ vectors):
  *  - Brute force is O(probes × corpus) — the baseline only; probes
  *    are broadcast so the corpus is scanned once, never shuffled.
  *  - LSH: the signature is a projection; candidate retrieval shuffles
  *    on (band_id, bucket) — each probe touches b buckets holding
  *    ~corpus/2^r vectors. Tune r (bits/band) so buckets fit an
  *    executor's memory; add bands for recall.
  *  - IVF: centroid assignment is one broadcast-join (centroid table
  *    = k rows); each probe reranks only its list (~corpus/k).
  */
object Ann {

  val Dim = 64
  val Scale = 10000
  val Planes = 24
  val BitsPerBand = 8 // 3 bands of 8 bits: at the planted near-dup
  // grade (cos ≈ 0.99999 ⇒ per-plane bit agreement p ≈ 0.9986) the
  // per-pair miss rate is (1 − p⁸)³ ≈ 1.4e-6 — two orders below the
  // old 2-band 1.3e-4, pushing the deterministic-recall ceiling from
  // ~10⁴ to ~10⁶ source vectors (see Dedup.withRequantVariants).
  // 8 bits/band keeps 256 buckets per band (selectivity unchanged);
  // the third band costs one more projection column + candidate row.

  val PqSubspaces = 8           // M: subvectors per embedding
  val PqSubDim = Dim / PqSubspaces
  val PqCodes = 16              // K: codebook size per subspace
  // PQ compresses a vector to M small codes (here 8 × log2(16) = 4
  // bits — 4 bytes padded, vs 256 bytes of float32): the
  // representation that makes a 100 TB embedding corpus scannable
  // from memory. Distances against a probe read ONLY the codes plus
  // a per-probe M×K lookup table.

  /** Integer-scaled copy of the embedding. */
  def scaled(e: Column): Column =
    transform(e, x => round(x.cast("double") * Scale).cast("bigint"))

  /** Exact integer dot product of two scaled vectors — the native
    * codegen expression (graft.expressions.DotProductL): a primitive
    * loop over ArrayData instead of the allocating
    * `aggregate(zip_with(...))` composition.
    */
  def doti(a: Column, b: Column): Column =
    graft.expressions.DotProductL(a, b)

  /** Cosine from integer dot/norms (identical doubles cross-engine). */
  def cosine(dot: Column, n1: Column, n2: Column): Column =
    dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  /** Largest member count for which the rational-distance numerator
    * Σ_d(n·x−s)² provably fits Int64. Assumes embeddings in [-1, 1], so
    * scaled components satisfy |x| ≤ Scale and |s|/n ≤ Scale ⇒ each
    * term ≤ (2·Scale·n)², ×Dim=64 ⇒ sum ≤ 2.56·10¹⁰·n², which stays
    * below 2⁶³ while n ≤ ~1.9·10⁴ ≥ 2¹⁴. Beyond that, the exact path
    * would overflow silently (wrap) or throw under ANSI — fall back to
    * the double form ‖x − s/n‖², whose 2⁻⁵³ relative error is far below
    * inter-centroid spacing at that cluster size. The DuckDB oracles
    * mirror this exact/approx CASE at the same threshold
    * (PipelineQueries.ratD2Sql) so both engines agree at any n.
    */
  val ExactNMax: Long = 1L << 14

  /** Squared distance of scaled vector `iv` to centroid (sum `sv`,
    * count `n`): exact rational (Σ(n·x−s)²)/n² while n ≤ ExactNMax,
    * double fallback above — the Column form of
    * [[graft.expressions.Centroids.d2]], for the joins that pair a row
    * with a centroid table (annIvf's probes, the PQ lookup table).
    */
  private def ratD2(iv: Column, sv: Column, n: Column): Column = {
    // Σ_d(n·x−s)² expanded to n²·Σx² − 2n·Σxs + Σs²: the SAME exact
    // integer (bit-identical double after /n², so the DuckDB oracle's
    // summed form needs no change), but native codegen DotProductL
    // loops instead of an interpreted zip_with+aggregate per
    // (row, centroid). Intermediates stay in int64 for n ≤ ExactNMax:
    // n²Σx² ≤ 2⁶¹, |2nΣxs| ≤ 2⁶², Σs² ≤ 2⁶¹, every partial sum < 2⁶³
    // (no ANSI overflow).
    val exact = (n * n * doti(iv, iv) - lit(2L) * n * doti(iv, sv) +
      doti(sv, sv)).cast("double") / (n * n)
    val approx = aggregate(zip_with(iv, sv, (x, s) => {
        val d = x.cast("double") - s.cast("double") / n.cast("double")
        d * d
      }), lit(0.0d), (a, t) => a + t)
    when(n <= lit(ExactNMax), exact).otherwise(approx)
  }

  /** The k-row centroid frame collected driver-side as
    * (c_id, n, sv) rows — the Bda-sizing collect discipline; feeds
    * [[assign]]. Callers collect per Lloyd round: the frame is k tiny
    * rows and already eagerly materialized there.
    */
  private def collectCent(cent: DataFrame): Array[(Int, Long, Array[Long])] =
    cent.select("c_id", "n", "sv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(_._1)

  /** Centroid assignment as a pure projection: the k collected centroid
    * rows become a [[graft.expressions.NearestCentroids]] table and each
    * row's cluster is its (d2 asc, c_id asc) argmin — ONE corpus scan
    * and ZERO exchanges, where a join against the centroid frame would
    * shuffle the exploded N×k-row frame per Lloyd round.
    */
  private def assign(cents: Array[(Int, Long, Array[Long])],
                     iv: Column, ivNorm: Column): Column = {
    require(cents.nonEmpty, "centroid assignment needs >= 1 centroid")
    NearestCentroids.argmin(Centroids.rational(cents, ExactNMax), iv, ivNorm)
  }

  /** Deterministic hyperplane coefficients in [-1000, 1000], computed
    * driver-side with the same md5 formula the oracle uses and shipped
    * as a literal (a p×d constant — never recomputed per row).
    */
  def planeCoef(p: Int, d: Int): Long = hash60(s"pl|$p|$d") % 2001 - 1000

  /** Adds iv (scaled ints) and norm2. */
  def withScaled(df: DataFrame, embCol: String = "embedding"): DataFrame =
    df.withColumn("iv", scaled(col(embCol)))
      .withColumn("norm2", doti(col("iv"), col("iv")))

  /** Brute-force exact top-k by cosine for a probe set. Probes are
    * broadcast; candidates stream. Returns
    * (probe_id, rank, neighbor_id, dot_scaled, cos).
    */
  def knnBrute(vectors: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val v = withScaled(vectors)
    val probes = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"))
    val scored = v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
    topK(scored, k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("dot_scaled"), round(col("cos"), 6).as("cos"))
  }

  /** Filtered ("hybrid") exact top-k: cosine search restricted to the
    * candidates satisfying a metadata predicate — the
    * filter-then-search form every vector store pairs with ANN. The
    * predicate applies to the CANDIDATE side before scoring, so
    * Catalyst pushes it into the parquet scan (PlanShapeSpec asserts
    * `PushedFilters` carries it) and the corpus read itself shrinks;
    * probes are taken from the unfiltered corpus. Same scan shape as
    * [[knnBrute]]: probes broadcast, candidates streamed once.
    */
  def knnBruteFiltered(vectors: DataFrame, probeFilter: Column,
                       candidateFilter: Column, k: Int): DataFrame = {
    val v = withScaled(vectors)
    val probes = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"))
    val scored = withScaled(vectors.filter(candidateFilter))
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
    topK(scored, k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label"), round(col("cos"), 6).as("cos"))
  }

  /** Sign-random-projection signature: bit p = (Σ coef(p,d)·iv[d] ≥ 0),
    * folded into one bucket int per band. Pure projection.
    */
  def withLshBuckets(df: DataFrame): DataFrame = {
    val coefs = (0 until Planes).map { p =>
      array((0 until Dim).map(d => lit(planeCoef(p, d))): _*)
    }
    val bits = (0 until Planes).map { p =>
      when(doti(col("iv"), coefs(p)) >= 0, lit(1L)).otherwise(lit(0L))
    }
    val nBands = Planes / BitsPerBand
    val buckets = (0 until nBands).map { b =>
      (0 until BitsPerBand)
        .map(j => bits(b * BitsPerBand + j) * (1L << j))
        .reduce(_ + _)
        .as(s"bucket$b")
    }
    df.select((df.columns.toIndexedSeq.map(col) ++ buckets): _*)
  }

  /** ANN via LSH: candidates share ≥1 band bucket with the probe, then
    * exact cosine rerank to top-k. Returns
    * (probe_id, rank, neighbor_id, n_cand, cos).
    */
  def annLsh(vectors: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val v = withLshBuckets(withScaled(vectors))
    val nBands = Planes / BitsPerBand
    def bandRows(df: DataFrame, idAs: String, extra: Seq[(String, String)]): DataFrame =
      df.select(col("vec_id").as(idAs) +: extra.map { case (f, t) => col(f).as(t) } :+
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band_id"), col(s"bucket$b").as("bucket"))): _*)).as("bb"): _*)
        .select(col(idAs) +: extra.map(e => col(e._2)) :+
          col("bb.band_id") :+ col("bb.bucket"): _*)
    val probeB = bandRows(v.filter(probeFilter), "probe_id",
      Seq("iv" -> "p_iv", "norm2" -> "p_norm2"))
    val candB = bandRows(v, "neighbor_id", Seq("iv" -> "iv", "norm2" -> "norm2"))
    val cand = candB.join(broadcast(probeB), Seq("band_id", "bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select("probe_id", "neighbor_id", "iv", "norm2", "p_iv", "p_norm2")
      .distinct()
    val nCand = cand.groupBy(col("probe_id").as("pid"))
      .agg(count(lit(1)).as("n_cand"))
    val scored = cand
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
    topK(scored, k)
      .join(broadcast(nCand), col("probe_id") === col("pid"))
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("n_cand"),
        round(col("cos"), 6).as("cos"))
  }

  /** IVF with the label column as coarse partition: centroids are
    * per-label mean vectors; a probe searches only its nearest
    * centroid's list. Distance to a centroid (sum s, count n) is
    * compared via the exact rational ‖n·x − s‖²/n² — the numerator is
    * an exact integer ≤ 2^45, so the double quotient ranks identically
    * everywhere. Returns (probe_id, assigned_label, rank, neighbor_id, cos).
    */
  def annIvf(vectors: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val v = withScaled(vectors)
    val cent = v
      .select(col("label"), posexplode(col("iv")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
      .groupBy(col("label").as("c_label"), col("n"))
      .agg(array_sort(collect_list(struct(col("d"), col("s")))).as("ds"))
      .select(col("c_label"), col("n"), transform(col("ds"), r => r("s")).as("sv"))
    val probes = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"))
    val dist = probes.crossJoin(broadcast(cent))
      .withColumn("d2", ratD2(col("p_iv"), col("sv"), col("n")))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("d2").asc, col("c_label").asc)
    val assigned = dist.withColumn("rk", row_number().over(wA))
      .filter(col("rk") === 1)
      .select(col("probe_id"), col("p_iv"), col("p_norm2"),
        col("c_label").as("assigned_label"))
    val scored = v.join(broadcast(assigned),
      col("label") === col("assigned_label") && col("vec_id") =!= col("probe_id"))
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
    topK(scored, k)
      .select(col("probe_id"), col("assigned_label"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic k-means over scaled integer vectors: seeds = the k
    * vectors with smallest (hash60("km|" + vec_id), vec_id); then
    * `rounds` Lloyd iterations with EXACT rational distances — a
    * centroid is its (per-dim sum vector, member count), and
    * ‖x − s/n‖² compares as Σ(n·x_d − s_d)² / n², whose numerator is an
    * exact 64-bit integer — so assignment is bit-identical on every
    * engine. Ties break by centroid id. Returns (vec_id, cluster).
    *
    * Scale: each round's assignment is a PURE PROJECTION — the k
    * centroid rows (eagerly materialized anyway) collect driver-side
    * into a NearestCentroids table, [[assign]] — so the corpus is
    * scanned once per round with ZERO exchanges;
    * centroid recompute is a (cluster, dim) partial aggregation.
    * (r15 and earlier shipped crossJoin(broadcast) + a
    * row_number().over(partitionBy(vec_id)) window here — an Exchange
    * of the exploded N×k-row frame EVERY round, in every trained path:
    * pl_a4/a5/a10/a11 and pl_d14's clustering. VERDICT r15 #1.)
    */
  def kmeansClusters(vectors: DataFrame, k: Int, rounds: Int): DataFrame = {
    // the assignment is a pure projection (r16) — the centroid
    // checkpoint has no consumer once training returns, release it
    val (assigned, cent, _) = kmeansModelRows(vectors, k, rounds)
    Caches.releaseQuiet(cent)
    assigned.select("vec_id", "cluster")
  }

  /** The trainable form: returns BOTH the final assignment (vec_id, iv,
    * cluster) and the centroid table that produced it (c_id, n, sv) —
    * the pair an IVF index needs (lists + quantizer must be mutually
    * consistent, see [[annIvfKmeans]]).
    */
  def kmeansModel(vectors: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) = {
    val (assigned, cent, _) = kmeansModelRows(vectors, k, rounds)
    (assigned, cent)
  }

  /** [[kmeansModel]] plus the final centroid table ALREADY collected —
    * the rows the last Lloyd round's assignment routed against.
    * Callers that only need driver-side centroids (every r16
    * projection-argmin path) take the rows and `releaseQuiet` the frame
    * instead of re-collecting it: the re-collect was a redundant k-row
    * job for rounds ≥ 2 and, for rounds = 1, re-ran the corpus-wide
    * TakeOrdered seed scan (the returned frame is the un-materialized
    * seed plan in that case — which also makes releaseQuiet a safe
    * no-op on it).
    */
  private[graft] def kmeansModelRows(vectors: DataFrame, k: Int,
      rounds: Int): (DataFrame, DataFrame, Array[(Int, Long, Array[Long])]) = {
    val v = withScaled(vectors).select("vec_id", "iv")
    // seed centroids: n = 1, sv = iv. orderBy+limit compiles to
    // TakeOrderedAndProject (per-partition top-k, k-row merge on the
    // driver) — no global single-partition window; the row_number that
    // assigns c_id runs over the k surviving rows only.
    val seedHash = TextOps.hash60(concat(lit("km|"), col("vec_id").cast("string")))
    val seedW = Window.orderBy(col("_h").asc, col("vec_id").asc)
    var cent = v
      .withColumn("_h", seedHash)
      .orderBy(col("_h").asc, col("vec_id").asc)
      .limit(k)
      .withColumn("_rk", row_number().over(seedW))
      .select((col("_rk") - 1).as("c_id"), lit(1L).as("n"), col("iv").as("sv"))

    var assigned: DataFrame = null
    var lastCent = cent
    var lastRows: Array[(Int, Long, Array[Long])] = null
    // storage hygiene: each round's checkpoint supersedes the previous
    // one — once the new k-row frame is materialized (eager, lineage
    // truncated) the prior round's blocks are unreachable from any
    // returned plan, so release them. The LAST checkpoint is lastCent
    // (part of the returned model) and is never released here.
    var prevCkpt: DataFrame = null
    val vN = v.withColumn("_ivn", doti(col("iv"), col("iv")))
    for (rd <- 0 until rounds) {
      lastCent = cent
      // round 0 collects the seed (one TakeOrdered job over the
      // corpus); later rounds read back the just-materialized k-row
      // checkpoint — either way k tiny rows on the driver, and the
      // assignment is a zero-exchange argmin projection
      val centRows = collectCent(cent)
      // the train-then-assign CONTRACT (r16 review #6): an empty
      // training input fails loudly here, with a domain message —
      // never an unclustered corpus or a cryptic empty-table error
      // (the pre-r16 join form silently produced an empty result;
      // emptiness at train time is an upstream bug, not a state to
      // propagate). Spec-pinned in PipelineSpec.
      require(centRows.nonEmpty,
        s"k-means training input is empty (k=$k): filter upstream or " +
          "check the train sample rate")
      lastRows = centRows
      assigned = vN
        .withColumn("cluster",
          assign(centRows, col("iv"), col("_ivn")))
        .select(col("vec_id"), col("iv"), col("cluster"))
      // materialize each INTERMEDIATE centroid table (k tiny rows):
      // round r+1 and every downstream consumer then build on a
      // lineage-truncated k-row frame instead of re-executing the full
      // training prefix per plan branch (the classic iterative-algo
      // checkpoint; measured 100×: pl_a5 42.0 s with duplicated
      // lineage). The final round's recompute is skipped entirely —
      // the model the caller gets is (assignment r, centroids r−1),
      // which eager evaluation would otherwise waste a pass on.
      if (rd < rounds - 1) {
        cent = Caches.materialize(assigned
          .select(col("cluster"), posexplode(col("iv")).as(Seq("d", "x")))
          .groupBy("cluster", "d")
          .agg(sum("x").as("s"), count(lit(1)).as("cn"))
          .groupBy(col("cluster").as("c_id"))
          .agg(max("cn").as("n"),
            transform(array_sort(collect_list(struct(col("d"), col("s")))),
              r => r("s")).as("sv")))
        if (prevCkpt != null) Caches.release(prevCkpt)
        prevCkpt = cent
      }
    }
    (assigned, lastCent, lastRows)
  }

  /** Hierarchical (coarse → fine) cluster assignment — the SemDeDup
    * 100 TB path for k ∝ corpus (DESIGN.md r13: exact Lloyd
    * assignment is N·k distance evaluations and became the measured
    * wall of the 100× semantic-dedup probe once k scaled with N).
    * Routing each vector through `b` ≈ √k coarse centroids and then
    * only the fine centroids PARENTED to its coarse cell costs
    * N·(b + k/b) ≈ 2N√k. Three exactness choices make the
    * approximation bit-replayable by the SQL oracle:
    *  - k-means trains on a deterministic hash SAMPLE (`trainPpm`,
    *    salt "kmt") — the production shape: train on a sample,
    *    assign the corpus;
    *  - centroids are QUANTIZED to integer means
    *    `qv_d = round_half_away(sv_d / n)` computed in pure integer
    *    arithmetic (`(2|s|+n) div 2n`, sign restored), so every
    *    routing distance is an integer Σ(a−b)² — no rationals, no
    *    doubles, no engine-specific rounding anywhere;
    *  - the coarse subset is the b centroids with the smallest
    *    md5("hc|c_id") (the seeding rule applied to centroid ids);
    *    parents/assignments are integer argmins with c_id tie-break.
    * The centroid table is k tiny rows — quantization, coarse pick,
    * and parenting run driver-side (the Bda-sizing collect
    * discipline) and ship back as NearestCentroids tables inside a
    * single projection: both routing stages are per-row (d2, id)
    * argmins, so the corpus is touched by exactly ONE scan and the
    * whole assignment plans ZERO exchanges (PlanShapeSpec-locked).
    * Returns (vec_id, iv, norm2, cluster).
    */
  def hierAssign(vectors: DataFrame, k: Int, b: Int, rounds: Int,
                 trainPpm: Long = 1000000L, probes: Int = 1,
                 trainedCoarse: Boolean = false): DataFrame =
    hierAssignModel(vectors, k, b, rounds, trainPpm, probes,
      trainedCoarse)._1

  /** [[hierAssign]] plus the quantized fine-centroid table it routed
    * against — the model a hier-routed
    * index ([[annIvfSq8Hier]]) needs: probe-side assignment must
    * quantize against the SAME integer centroids that built the lists.
    */
  private[graft] def hierAssignModel(vectors: DataFrame, k: Int, b: Int,
      rounds: Int, trainPpm: Long = 1000000L, probes: Int = 1,
      trainedCoarse: Boolean = false)
      : (DataFrame, Centroids) = {
    require(b >= 1 && b <= k, s"need 1 <= b <= k, got b=$b k=$k")
    require(probes >= 1 && probes <= b,
      s"need 1 <= probes <= b, got probes=$probes b=$b")
    val train =
      if (trainPpm >= 1000000L) vectors
      else graft.pipeline.Sampling.uniform(
        vectors, col("vec_id"), trainPpm, salt = "kmt")
    val (_, cent, centRows) = kmeansModelRows(train, k, rounds)
    // integer round-half-away-from-zero of s/n — the oracle replays
    // the same div formula, so no double ever enters the quantizer
    def qRound(s: Long, n: Long): Long = {
      val q = (2L * math.abs(s) + n) / (2L * n)
      if (s >= 0) q else -q
    }
    val cents = centRows.map { case (cid, n, sv) =>
      (cid, sv.map(s => qRound(s, n)))
    }
    Caches.releaseQuiet(cent)
    val coarse0 = cents.sortBy { case (id, _) =>
      (TextOps.hash60(s"hc|$id"), id) }.take(b)
    def d2(a: Array[Long], c: Array[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val t = a(i) - c(i); acc += t * t; i += 1 }
      acc
    }
    // TRAINED coarse layer (r15, the second quality knob next to
    // multi-probe): instead of routing through a RANDOM size-b subset
    // of the fine centroids (the md5 pick — cheap but increasingly
    // unrepresentative as k grows, the measured agreement decay in
    // DESIGN.md), run Lloyd over the k quantized fine centroids,
    // seeded by the same hc-hash pick, with the same
    // (assignment r, centers r−1) contract as kmeansModel — so the
    // parenting argmin below IS the final Lloyd assignment round.
    // All driver-side over k rows (the centroid table is tiny); every
    // step is integer (same d2, same qRound quantizer, same c_id
    // tie-breaks), so the oracle replays it CTE-by-CTE. A seed's c_id
    // labels its cell across rounds; a cell that ends a recompute
    // with no members disappears (GROUP BY semantics, both engines).
    val coarse =
      if (!trainedCoarse) coarse0
      else (1 until rounds).foldLeft(coarse0) { (cur, _) =>
        cents
          .groupBy { case (_, qv) =>
            cur.minBy { case (cid, cqv) => (d2(qv, cqv), cid) }._1 }
          .toArray
          .map { case (cid, members) =>
            val n = members.length.toLong
            (cid, Array.tabulate(members.head._2.length) { dIdx =>
              qRound(members.map(_._2(dIdx)).sum, n) })
          }
          .sortBy(_._1)
      }
    val parentOf = cents.map { case (id, qv) =>
      id -> coarse.minBy { case (cid, cqv) => (d2(qv, cqv), cid) }._1
    }.toMap
    // Stage-1 candidates: only cells with >=1 child can yield a fine
    // centroid. With random coarse every cell parents itself (d2=0)
    // so the filter is an exact no-op; with trained coarse a
    // childless cell must not absorb a probe (the oracle mirrors via
    // `WHERE c_id IN (SELECT coarse FROM par)`).
    val live = parentOf.values.toSet
    val routable = coarse.filter { case (cid, _) => live(cid) }
    val nProbes = math.min(probes, routable.length)
    // Both routing argmins are PURE PROJECTIONS (r15; r13/r14 shipped
    // crossJoin(broadcast)+row_number().over(partitionBy(vec_id)) —
    // an Exchange of the exploded N×b then N×(k/b) frame, ~2N√k
    // shuffled rows at k∝N, for a per-row argmin that needs no
    // shuffle at all). The integer tables route through the same
    // NearestCentroids kernel as the rational ones (n = 1: its exact
    // branch is Σ(iv−qv)² = norm2 − 2·⟨iv,qv⟩ + ⟨qv,qv⟩), with the
    // same (d2 asc, id asc) rule — the c_id tie-break the window gave.
    // Stage 1 is MULTI-PROBE (r15): the `probes` nearest coarse cells;
    // probes=1 is the single argmin. Stage 2 is the best fine
    // centroid parented to any probed cell — the kernel skips every
    // other centroid before computing its distance, so a row still
    // pays b + probes·k/b dots. Zero exchanges at any p.
    val probed = NearestCentroids.topP(Centroids.quantized(routable),
      col("iv"), col("norm2"), nProbes)
    val fine = Centroids.quantized(cents, parentOf)
    (withScaled(vectors).select("vec_id", "iv", "norm2")
      .withColumn("cluster", NearestCentroids.argmin(fine, col("iv"),
        col("norm2"), Some(probed))), fine)
  }

  /** IVF over the TRAINED k-means quantizer — the end-to-end form that
    * replaces annIvf's label stand-in: inverted lists are the corpus's
    * final k-means assignment, probes quantize against the SAME centroid
    * table that produced those lists, then search only their list.
    * Scale shape is identical to annIvf (k centroid rows broadcast, one
    * list scanned per probe); training adds `rounds` bounded
    * broadcast+aggregate passes. Returns
    * (probe_id, assigned_cluster, rank, neighbor_id, cos).
    */
  def annIvfKmeans(vectors: DataFrame, probeFilter: Column, topk: Int,
                   k: Int = 8, rounds: Int = 2): DataFrame = {
    val v = withScaled(vectors)
    val (assigned, cent, centRows) = kmeansModelRows(vectors, k, rounds)
    // centroids live on as driver-side rows only — release the checkpoint
    Caches.releaseQuiet(cent)
    // the model's assignment is itself a pure projection over the
    // corpus (vec_id, iv, cluster) — compose the list table ON TOP of
    // it instead of self-joining the corpus on vec_id (r16: the join
    // was a corpus-sized shuffle for columns a projection already
    // carries; norm2 re-derives from iv as the same doti expression)
    val lists = assigned.withColumn("norm2", doti(col("iv"), col("iv")))
    val probes = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"))
    // probe assignment via the same argmin (P tiny rows; the old
    // crossJoin+window shape planned an Exchange even for these)
    val pAssigned = probes.withColumn("assigned_cluster",
      assign(centRows, col("p_iv"), col("p_norm2")))
    val scored = lists.join(broadcast(pAssigned),
        col("cluster") === col("assigned_cluster") &&
          col("vec_id") =!= col("probe_id"))
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
    topK(scored, topk)
      .select(col("probe_id"), col("assigned_cluster"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Product-quantization model: per subspace m (PqSubDim dims), a
    * deterministic k-means (seeds by hash, `rounds` Lloyd iterations,
    * exact rational distances — the [[kmeansModel]] contract) trains
    * PqCodes centroids. ALL subspaces assign in the SAME projection
    * (r16): the M×K codebook collects driver-side per round and every
    * subspace's code is an argmin ([[assign]]) over its K
    * centroids — zero exchanges per Lloyd round except the
    * (m, code, d)-keyed centroid recompute aggregation, and the
    * compressed-corpus output is a pure projection (no
    * groupBy(vec_id) round-trip).
    *
    * Returns (codes, codebook): codes = (vec_id, codes array<int>
    * ordered by m — the compressed corpus, M small ints per vector);
    * codebook = (m, c_id, n, sv) — the centroid table the codes were
    * assigned against (mutually consistent, like annIvfKmeans).
    */
  def pqModel(vectors: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val v = withScaled(vectors).select("vec_id", "iv")
    val subs = v.select(col("vec_id"), explode(array(
        (0 until PqSubspaces).map(m => struct(lit(m).as("m"),
          slice(col("iv"), m * PqSubDim + 1, PqSubDim).as("siv"))): _*)).as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.siv").as("siv"))
    // seeds: per subspace, the K subvectors with smallest
    // (hash60("pq|m|vec_id"), vec_id) — a window over M tiny
    // partitions (ties impossible: vec_id is in the key).
    val seedW = Window.partitionBy("m")
      .orderBy(col("_h").asc, col("vec_id").asc)
    var cent = subs
      .withColumn("_h", hash60(concat(lit("pq|"), col("m").cast("string"),
        lit("|"), col("vec_id").cast("string"))))
      .withColumn("_rk", row_number().over(seedW))
      .filter(col("_rk") <= PqCodes)
      .select(col("m"), (col("_rk") - 1).as("c_id"),
        lit(1L).as("n"), col("siv").as("sv"))

    var lastCent = cent
    // same round-over-round checkpoint release as kmeansModel
    var prevCkpt: DataFrame = null
    // per-subspace slices + self-dots staged ONCE per row (the r15
    // expression-shape rules: each candidate references them, so they
    // must be named columns, never re-inlined slices)
    val vS = (0 until PqSubspaces).foldLeft(v) { (df, m) =>
      df.withColumn(s"_siv$m", slice(col("iv"), m * PqSubDim + 1, PqSubDim))
        .withColumn(s"_sivn$m", doti(col(s"_siv$m"), col(s"_siv$m")))
    }
    // the collected codebook, split by subspace — feeds assign
    def byM(cent: DataFrame): Map[Int, Array[(Int, Long, Array[Long])]] =
      cent.select("m", "c_id", "n", "sv").collect()
        .map(r => (r.getInt(0),
          (r.getInt(1), r.getLong(2), r.getSeq[Long](3).toArray)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    var codebook: Map[Int, Array[(Int, Long, Array[Long])]] = null
    for (rd <- 0 until rounds) {
      lastCent = cent
      // assignment is a PURE PROJECTION (r16 — the kmeansModel
      // argmin discipline, per subspace): the M×K codebook collects
      // driver-side and each subspace's code is the (d2 asc,
      // c_id asc) argmin over its K centroids — the rule the old
      // partial-aggregated min(struct) used, with the SAME rational
      // distances, so codes are bit-identical; the per-round
      // N×M-row groupBy exchange is gone.
      codebook = byM(cent)
      // same train-then-assign contract as kmeansModelRows
      require(codebook.size == PqSubspaces,
        s"PQ training input is empty or degenerate " +
          s"(${codebook.size}/$PqSubspaces subspaces seeded): " +
          "filter upstream")
      // intermediate codebooks checkpoint (M×K tiny rows) — same
      // rationale as kmeansModel: downstream branches (codes AND the
      // probe LUT) share one training pass instead of re-running it.
      if (rd < rounds - 1) {
        val enc = vS.select(col("vec_id") +: (0 until PqSubspaces).map { m =>
          struct(
            assign(codebook(m), col(s"_siv$m"), col(s"_sivn$m"))
              .as("code"),
            col(s"_siv$m").as("siv")).as(s"_e$m")
        }: _*)
          .select(col("vec_id"), explode(array((0 until PqSubspaces).map {
            m => struct(lit(m).as("m"), col(s"_e$m.code").as("code"),
              col(s"_e$m.siv").as("siv"))
          }: _*)).as("e"))
          .select(col("e.m").as("m"), col("e.code").as("code"),
            col("e.siv").as("siv"))
        cent = Caches.materialize(enc
          .select(col("m"), col("code"), posexplode(col("siv")).as(Seq("d", "x")))
          .groupBy("m", "code", "d")
          .agg(sum("x").as("s"), count(lit(1)).as("cn"))
          .groupBy(col("m"), col("code").as("c_id"))
          .agg(max("cn").as("n"),
            transform(array_sort(collect_list(struct(col("d"), col("s")))),
              r => r("s")).as("sv")))
        if (prevCkpt != null) Caches.release(prevCkpt)
        prevCkpt = cent
      }
    }
    // the compressed corpus: one projection, codes in m order — the
    // old groupBy(vec_id)+collect_list round-trip is gone too
    val codes = vS.select(col("vec_id"),
      array((0 until PqSubspaces).map { m =>
        assign(codebook(m), col(s"_siv$m"), col(s"_sivn$m"))
      }: _*).as("codes"))
    (codes, lastCent)
  }

  /** ANN via product quantization: train [[pqModel]], compress the
    * corpus to M codes/vector, then answer probes with an
    * asymmetric-distance (ADC) scan — each probe precomputes an M×K
    * table of exact subspace distances to every codebook centroid,
    * and a corpus row's distance is the fold of M table lookups (in
    * m order, so the double sum associates identically on every
    * engine). The ADC top-k then gets ONE exact cosine rerank over
    * k rows per probe.
    *
    * Scale shape: the scan reads only (vec_id, codes) — no shuffle;
    * probes (with their lookup maps, P×M×K doubles) broadcast; the
    * only corpus-wide shuffle is the top-k ranking of P×corpus scored
    * rows. Returns (probe_id, rank, neighbor_id, adc, cos).
    */
  def annPq(vectors: DataFrame, probeFilter: Column, k: Int,
            rounds: Int = 2): DataFrame = {
    val v = withScaled(vectors)
    val (codes, cent) = pqModel(vectors, rounds)
    val probes = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"))
    // per-probe lookup table as a map keyed m*K + c_id — keys are a
    // function of the SURVIVING codebook rows, so an emptied cluster
    // (possible after a Lloyd round) simply has no key, and no code
    // references it (codes were assigned against this same table).
    val lut = probes.crossJoin(broadcast(cent))
      .withColumn("pd2", ratD2(
        slice(col("p_iv"), col("m") * PqSubDim + 1, lit(PqSubDim)),
        col("sv"), col("n")))
      .groupBy("probe_id")
      .agg(map_from_entries(collect_list(struct(
        (col("m") * PqCodes + col("c_id")).cast("int"), col("pd2")))).as("lut"))
      // densify ONCE PER PROBE: position m·K + c holds pd2 (null for
      // an emptied cluster no code references). The per-pair ADC scan
      // must never probe the catalyst MAP — element_at on it is a
      // linear key scan and the HOF composition around it is
      // interpreted; the dense array + native AdcSum keeps the
      // P×corpus stage inside whole-stage codegen (measured 10×:
      // 35 s → ~2 s warm).
      .withColumn("luta", transform(
        sequence(lit(0), lit(PqSubspaces * PqCodes - 1)),
        i => element_at(col("lut"), i.cast("int"))))
      .drop("lut")
      .join(probes, "probe_id")
    val scored = codes.crossJoin(broadcast(lut))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        graft.expressions.AdcSum(col("codes"), col("luta"), PqCodes))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val top = scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "adc", "p_iv", "p_norm2")
    // exact rerank of the winners only: k rows per probe join back to
    // the uncompressed corpus for the true cosine.
    v.select(col("vec_id"), col("iv"), col("norm2"))
      .join(broadcast(top), "vec_id")
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 6).as("adc"), round(col("cos"), 6).as("cos"))
  }

  /** ANN scale path 4: per-dimension scalar quantization (SQ8).
    * Each corpus vector is compressed to Dim uint8 codes against a
    * GLOBAL per-dimension [min, max] grid:
    * `code_d = floor((iv_d − min_d)·255 / range_d)` (0 when the
    * dimension is constant). One byte per dimension (vs 4–8 for
    * floats) — the compressed representation vector stores ship when
    * PQ's codebook training is too heavy, because SQ8 "training" is a
    * single min/max pass.
    *
    * Probes are answered by an asymmetric integer distance: the probe
    * keeps its exact coordinates, the candidate is dequantized on its
    * grid cell floor. Scaling everything by 255 keeps it in pure
    * int64 — `sqd = Σ_d (255·(p_d − min_d) − code_d·range_d)²`, each
    * term ≤ (2·255·Scale)² and ×Dim=64 ⇒ Σ ≤ 1.7·10¹⁵ < 2⁶³ — so the
    * ranking is bit-replayable by the DuckDB oracle with no doubles
    * anywhere before the final cosine. Top-k by (sqd asc, vec_id asc)
    * then ONE exact cosine rerank over k rows per probe (annPq's
    * discipline).
    *
    * Scale shape (100 TB / 10⁹ vectors): training is one
    * partial-aggregated global min/max (2·Dim agg columns over
    * element_at — map-side combine, a 1-row final exchange; NO
    * posexplode shuffle of N×Dim rows). The 2·Dim-long grid ships
    * back as LITERAL arrays inside the encode/score projections
    * (hierAssign's collect discipline), so encoding adds zero joins
    * and the scored scan reads only (vec_id, codes). The only
    * corpus-wide exchange is the P×corpus top-k ranking.
    * Returns (probe_id, rank, neighbor_id, sqd, cos).
    */
  /** One-pass global SQ8 grid over the RAW embedding column (direct
    * array access — aggregating element_at over the scaled `iv` would
    * re-evaluate the whole scale-transform per agg expression in
    * interpreted mode). round(·Scale) is monotone non-decreasing, so
    * min/max commute with it and the driver applies the IDENTICAL
    * rounding rule Spark's round() uses (BigDecimal.decimal →
    * HALF_UP) to land on the same grid the oracle derives from iv.
    * Dim×2 tiny values collect driver-side (the Bda-sizing
    * discipline) and return as TRUE array literals: lit(Array[Long])
    * is ONE Literal of ArrayType with constant-time element_at,
    * where array(lit, lit, …) is a CreateArray that interpreted
    * evaluation would rebuild on every access. Returns (mins, ranges).
    */
  private def sq8Grid(v: DataFrame): (Column, Column) = {
    // the element aggregates cast to double (float→double is exact, so
    // the min/max values are unchanged for ARRAY<FLOAT> input) — the
    // grid then works for any numeric element type instead of throwing
    // ClassCastException on an ARRAY<DOUBLE> corpus (ADVICE r15)
    val aggs = (1 to Dim).flatMap { d =>
      Seq(min(element_at(col("embedding"), d).cast("double")).as(s"mn$d"),
        max(element_at(col("embedding"), d).cast("double")).as(s"mx$d"))
    }
    val row = v.agg(aggs.head, aggs.drop(1): _*).head()
    def toGrid(x: Double): Long =
      BigDecimal.decimal(x * Scale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val mins = Array.tabulate(Dim)(i => toGrid(row.getDouble(2 * i)))
    val rngs = Array.tabulate(Dim)(i =>
      toGrid(row.getDouble(2 * i + 1)) - mins(i))
    (lit(mins), lit(rngs))
  }

  /** Candidate-side SQ8 encode: dequantized-on-grid coordinates
    * cr_d = code_d·range_d with code_d = floor((iv_d − min_d)·255 /
    * range_d) (0 when the dimension is constant). (iv_d − min_d) ≥ 0,
    * so floor of the double quotient is exact integer division
    * (numerator ≤ 2·Scale·255 ≈ 5.1e6, far inside double exactness).
    * Index-lambda transform over the array column — the input array
    * evaluates once per row (see the expression-shape rules on
    * [[annSq8]]).
    */
  private def sq8Cr(minsL: Column, rngsL: Column): Column =
    transform(col("iv"), (x, i) => {
      val rng = element_at(rngsL, i + 1)
      when(rng === 0L, 0L).otherwise(
        floor((x - element_at(minsL, i + 1)).cast("double") * 255d
          / rng.cast("double")).cast("bigint") * rng)
    })

  /** Probe-side grid shift: pm_d = 255·(p_d − min_d). */
  private def sq8Pm(minsL: Column): Column =
    transform(col("iv"), (x, i) =>
      (x - element_at(minsL, i + 1)) * lit(255L))

  def annSq8(vectors: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val v = withScaled(vectors)
    val (minsL, rngsL) = sq8Grid(v)

    // Three expression-shape rules keep the hot path off interpreted
    // higher-order-function cliffs (measured: the HOF form cost 50×
    // the scan at 10×, and nested element_at(<transform>, i) chains
    // re-run the whole inner transform PER INDEX — combinatorial
    // blowup under CollapseProject):
    //  1. per-dimension work uses the index-lambda transform over the
    //     array column — each input array evaluates once per row;
    //  2. per-side arrays (cr, pm) and self-dots are computed once
    //     per ROW, never per pair;
    //  3. the per-PAIR work is a single native-codegen DotProductL.
    val cand = v.select(col("vec_id"), sq8Cr(minsL, rngsL).as("cr"))
      .withColumn("crn", doti(col("cr"), col("cr")))
    val probes = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"), sq8Pm(minsL).as("pm"))
      .withColumn("pmn", doti(col("pm"), col("pm")))

    // sqd = Σ(pm−cr)² expanded to pmn − 2·pm·cr + crn: the SAME exact
    // integer (ratD2's trick), but one DotProductL per pair. Bounds:
    // pmn, crn ≤ 64·(2·255·Scale)² ≈ 1.7e15, |2·pm·cr| ≤ 3.4e15 —
    // every partial sum far inside int64.
    val scored = cand.join(broadcast(probes),
        col("vec_id") =!= col("probe_id"))
      .withColumn("sqd",
        col("pmn") + col("crn") - lit(2L) * doti(col("pm"), col("cr")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sqd").asc, col("vec_id").asc)
    val top = scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "sqd", "p_iv", "p_norm2")
    // exact rerank of the winners only (same tail as annPq).
    v.select(col("vec_id"), col("iv"), col("norm2"))
      .join(broadcast(top), "vec_id")
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("sqd"), round(col("cos"), 6).as("cos"))
  }

  /** IVF-SQ8: the production vector-store composition — a TRAINED
    * coarse quantizer partitions the corpus into k inverted lists
    * ([[kmeansModel]], the pl_a5 trainer) and each list stores only
    * SQ8-compressed vectors; a probe quantizes against the same
    * centroids and scans ITS list's codes with the pure-int64
    * asymmetric distance, then exact-reranks the top-k winners.
    *
    * Scale shape (100 TB / 10⁹ vectors): combines the two
    * sublinearities — the list assignment cuts candidates to
    * ~corpus/k per probe (annIvfKmeans's contract) and the scan
    * reads 1-byte/dim codes instead of raw floats (annSq8's
    * contract). Grid + centroids are tiny and ship inside the plan;
    * the list build is a zero-exchange corpus projection
    * (assignment = [[assign]], r16 — r15 shipped an N×k-row
    * crossJoin+window Exchange here) and the only corpus-wide
    * exchange in the whole query is the per-probe top-k. Returns
    * (probe_id, assigned_cluster, rank, neighbor_id, sqd, cos).
    */
  def annIvfSq8(vectors: DataFrame, probeFilter: Column, topk: Int,
                k: Int = 8, rounds: Int = 2,
                trainPpm: Long = 1000000L, probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= k,
      s"need 1 <= probes <= k, got probes=$probes k=$k")
    val v = withScaled(vectors)
    // the production knobs, same contracts as hierAssign: the coarse
    // quantizer trains on a deterministic hash sample (salt "kmt" —
    // caps the N·k Lloyd wall the AnnProbe grid measures) and each
    // probe scans its `probes` nearest lists (the IVF recall knob; a
    // vector lives in exactly one list, so the union is dedup-free).
    val train =
      if (trainPpm >= 1000000L) vectors
      else graft.pipeline.Sampling.uniform(
        vectors, col("vec_id"), trainPpm, salt = "kmt")
    // One assignment form for BOTH train regimes (r16): the final
    // centroid table collects driver-side (k tiny rows) and the
    // full corpus assigns against it as a zero-exchange argmin
    // projection — for full train this IS the model's own final-round
    // assignment (same argmin against the same table), for sampled
    // train it extends the sample's contract to every corpus row.
    // r15 shipped crossJoin(broadcast)+window here — the N×k-row
    // Exchange VERDICT r15 #1 named as the last shipped scale-killer.
    val (_, cent, centRows) = kmeansModelRows(train, k, rounds)
    Caches.releaseQuiet(cent)
    val (minsL, rngsL) = sq8Grid(v)
    // the list table is a single corpus projection: vec_id, SQ8 codes
    // (dequantized coords + self-dot) and the assigned list — no
    // corpus self-join on vec_id (norm2 is the hoisted self-dot the
    // argmin needs; it exists in v already)
    val lists = v
      .withColumn("cluster",
        assign(centRows, col("iv"), col("norm2")))
      .select(col("vec_id"), sq8Cr(minsL, rngsL).as("cr"), col("cluster"))
      .withColumn("crn", doti(col("cr"), col("cr")))
    // probe side: the `probes` nearest lists (hierAssign's stage-1
    // routing over UNquantized centroids) — same (d2 asc, c_id asc)
    // order and keep-rank as the old window, zero exchanges
    val pAssigned = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"), sq8Pm(minsL).as("pm"))
      .withColumn("pmn", doti(col("pm"), col("pm")))
      .withColumn("assigned_cluster", explode(NearestCentroids.topP(
        Centroids.rational(centRows, ExactNMax), col("p_iv"),
        col("p_norm2"), probes)))
    val scored = lists.join(broadcast(pAssigned),
        col("cluster") === col("assigned_cluster") &&
          col("vec_id") =!= col("probe_id"))
      .withColumn("sqd",
        col("pmn") + col("crn") - lit(2L) * doti(col("pm"), col("cr")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sqd").asc, col("vec_id").asc)
    val top = scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= topk)
      .select("probe_id", "assigned_cluster", "rank", "vec_id", "sqd",
        "p_iv", "p_norm2")
    v.select(col("vec_id"), col("iv"), col("norm2"))
      .join(broadcast(top), "vec_id")
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
      .select(col("probe_id"), col("assigned_cluster"), col("rank"),
        col("vec_id").as("neighbor_id"), col("sqd"),
        round(col("cos"), 6).as("cos"))
  }

  /** The 10⁹-vector IVF-SQ8: inverted lists built by the
    * ZERO-EXCHANGE hierarchical router ([[hierAssignModel]] — sampled
    * training caps the Lloyd wall, coarse→fine projection routing
    * costs N·(b + k/b) dots and no shuffle) over SQ8-compressed
    * vectors. Probes take their `listProbes` nearest QUANTIZED fine
    * centroids — the same integer table the lists were routed
    * against, ranked over all k cells (probes are few) — and scan
    * those lists with the pure-int64 asymmetric distance before the
    * exact rerank. Every stage
    * is integer/deterministic, so the composition is oracle-
    * replayable end to end. This fixes both walls the AnnProbe grid
    * measures on the flat composition at k ∝ corpus: full-train
    * Lloyd (sampled) and the N·k assignment (hier routing).
    *
    * RECALL CONTRACT (the deployment rule, measured at 100×/k=800 in
    * DESIGN.md "wall-fix ladder"): `listProbes` is the recall knob
    * and must be SIZED TO THE RECALL SLA, not defaulted — hier-routed
    * list quality inherits the coarse-routing agreement decay, so at
    * k ∝ corpus the default listProbes=2 finds near-zero recall@5
    * while listProbes=32 (scanning 4 % of the corpus) measured 0.275
    * at +25 % wall; per-probed-list cost stays bounded
    * (~corpus/k rows, zero exchanges) at ANY listProbes, which is the
    * property this operator guarantees. The fixture-scale entry runs
    * listProbes=2 of k=8 lists (25 % of the corpus — a high-recall
    * regime at small k); a 10⁹-vector deployment starts its SLA sweep
    * at listProbes ≈ k/25 and tunes on measured recall.
    * Returns (probe_id, assigned_cluster, rank, neighbor_id, sqd, cos).
    */
  def annIvfSq8Hier(vectors: DataFrame, probeFilter: Column, topk: Int,
                    k: Int, b: Int, rounds: Int = 2,
                    trainPpm: Long = 600000L, routeProbes: Int = 2,
                    trainedCoarse: Boolean = true,
                    listProbes: Int = 2): DataFrame =
    ivfSq8HierRanked(vectors, probeFilter, topk, k, b, rounds, trainPpm,
      routeProbes, trainedCoarse, listProbes)
      .withColumn("cos", round(col("cos"), 6))

  /** [[annIvfSq8Hier]] with the exact rerank cosine UNROUNDED — the
    * shared candidate stage: the public entry rounds to 6dp for its
    * oracle, while [[mmrTopKHier]]'s greedy trace needs the exact
    * rel (the pl_a8 rounding lesson, ADVICE r12: a rounded rel makes
    * near-tie greedy picks diverge from the oracle's unrounded
    * replay). Returns
    * (probe_id, assigned_cluster, rank, neighbor_id, sqd, cos).
    */
  private def ivfSq8HierRanked(vectors: DataFrame, probeFilter: Column,
                    topk: Int, k: Int, b: Int, rounds: Int,
                    trainPpm: Long, routeProbes: Int,
                    trainedCoarse: Boolean,
                    listProbes: Int): DataFrame = {
    // mirror annIvfSq8's probes check: listProbes=0 would slice an
    // empty probe-cell array and the explode silently drops every
    // probe — a zero-row result with no signal (ADVICE r15)
    require(listProbes >= 1, s"need listProbes >= 1, got $listProbes")
    val v = withScaled(vectors)
    val (assigned, cents) = hierAssignModel(vectors, k, b, rounds,
      trainPpm, routeProbes, trainedCoarse)
    val (minsL, rngsL) = sq8Grid(v)
    // the router's assignment is a pure corpus projection carrying iv
    // — build the list table ON TOP of it (SQ8 encode + self-dot in
    // the same scan) instead of self-joining the corpus on vec_id
    // (r16: that join was the index build's last remaining shuffle)
    val lists = assigned
      .select(col("vec_id"), sq8Cr(minsL, rngsL).as("cr"), col("cluster"))
      .withColumn("crn", doti(col("cr"), col("cr")))
    // probe cells: the `listProbes` nearest quantized fine centroids
    // through the same NearestCentroids kernel as the router (st16's
    // batch-oracle-gates-the-stream contract rides on every routing
    // site sharing it).
    val pcells = v.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"), sq8Pm(minsL).as("pm"),
        explode(NearestCentroids.topP(cents, col("iv"), col("norm2"),
          listProbes)).as("assigned_cluster"))
      .withColumn("pmn", doti(col("pm"), col("pm")))
    val scored = lists.join(broadcast(pcells),
        col("cluster") === col("assigned_cluster") &&
          col("vec_id") =!= col("probe_id"))
      .withColumn("sqd",
        col("pmn") + col("crn") - lit(2L) * doti(col("pm"), col("cr")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sqd").asc, col("vec_id").asc)
    val top = scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= topk)
      .select("probe_id", "assigned_cluster", "rank", "vec_id", "sqd",
        "p_iv", "p_norm2")
    v.select(col("vec_id"), col("iv"), col("norm2"))
      .join(broadcast(top), "vec_id")
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
      .select(col("probe_id"), col("assigned_cluster"), col("rank"),
        col("vec_id").as("neighbor_id"), col("sqd"), col("cos"))
  }

  private val Window = org.apache.spark.sql.expressions.Window

  /** Top-k per probe by (cos desc, neighbor asc) — deterministic. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val idCol =
      if (scored.columns.contains("neighbor_id")) "neighbor_id" else "vec_id"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** MMR-diversified retrieval (Carbonell & Goldstein 1998): from each
    * probe's top-`n` exact-cosine candidates, greedily select `k` that
    * trade relevance against redundancy —
    * pick₁ = argmax rel; pickᵢ₊₁ = argmax over the unselected of
    * `0.7·rel(c) − 0.3·max_{s∈selected} sim(c, s)` (ties → smallest
    * id). The de-duplicated answer set a retrieval-augmented pipeline
    * wants when the raw top-k is five near-copies of one document.
    *
    * Weights are the LITERAL doubles 0.7/0.3 on both engines (never
    * `1 − λ` computed in Scala, whose float result differs from the
    * SQL literal); rel/sim are the exact-int-derived cosines taken
    * UNROUNDED — the candidate scan is inlined here rather than taken
    * from [[knnBrute]]'s output, whose cos column is rounded to 6dp
    * for its own oracle (ADVICE r12: a rounded rel would make
    * near-tie greedy picks diverge from the oracle's unrounded
    * replay). Every MMR comparison is therefore bit-deterministic and
    * the oracle replays the greedy trace step for step (recursive
    * CTE). Output carries only (probe_id, rank, neighbor_id) — the
    * floats drive ordering, the ordering is the result.
    *
    * Scale: candidates are P×n rows BY CONSTRUCTION (knnBrute's
    * partial top-k), the pairwise sim table P×n² — both bounded by the
    * declared n, not the corpus, and both materialized once (k-step
    * lineage would otherwise double per step). Each greedy step is a
    * candidate-keyed join + one per-probe argmax window over ≤ n rows
    * per probe; the corpus is touched exactly once, inside knnBrute.
    */
  def mmrTopK(vectors: DataFrame, probeFilter: Column, n: Int, k: Int):
      DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    // knnBrute's scan shape (probes broadcast, corpus streamed once)
    // with the cosine kept unrounded — same candidate SET (the top-k
    // window there also orders by the unrounded cos), exact rel.
    val v0 = withScaled(vectors)
    val probes = v0.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"))
    val scored = v0.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        cosine(doti(col("iv"), col("p_iv")), col("p_norm2"), col("norm2")))
    mmrSelect(
      topK(scored, n)
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          col("cos").as("rel")),
      vectors, k)
  }

  /** MMR over SUBLINEAR candidates (r16, VERDICT r15 #2): the same
    * greedy 0.7·rel − 0.3·maxsim trace as [[mmrTopK]], but the
    * candidate stage is the hier-routed IVF-SQ8 index
    * ([[annIvfSq8Hier]]'s chain, cosine unrounded) instead of the
    * brute P×corpus scan — each probe's top-`n` comes from scanning
    * its `listProbes` lists' SQ8 codes (~listProbes·corpus/k rows),
    * so the whole retrieval-plus-diversification pipeline is
    * sublinear in the corpus. The MMR tail is candidate-source-
    * agnostic by design (rel = the exact rerank cosine either way).
    */
  def mmrTopKHier(vectors: DataFrame, probeFilter: Column, n: Int, k: Int,
                  kk: Int, b: Int, rounds: Int = 2,
                  trainPpm: Long = 600000L, routeProbes: Int = 2,
                  trainedCoarse: Boolean = true,
                  listProbes: Int = 2): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    mmrSelect(
      ivfSq8HierRanked(vectors, probeFilter, n, kk, b, rounds, trainPpm,
        routeProbes, trainedCoarse, listProbes)
        .select(col("probe_id"), col("neighbor_id").as("cand_id"),
          col("cos").as("rel")),
      vectors, k)
  }

  /** The shared MMR greedy tail: `candIn` = (probe_id, cand_id, rel)
    * with rel UNROUNDED; materialized once (P×n rows by construction),
    * then k−1 bounded greedy steps — see [[mmrTopK]] for the full
    * exactness/scale contract.
    */
  private def mmrSelect(candIn: DataFrame, vectors: DataFrame, k: Int):
      DataFrame = {
    val cand = Caches.materialize(candIn)
    val v = withScaled(vectors).select("vec_id", "iv", "norm2")
    val cv = cand.select("probe_id", "cand_id")
      .join(v, col("cand_id") === col("vec_id"))
    val a = cv.select(col("probe_id"), col("cand_id").as("a_id"),
      col("iv").as("a_iv"), col("norm2").as("a_n"))
    val b = cv.select(col("probe_id"), col("cand_id").as("b_id"),
      col("iv").as("b_iv"), col("norm2").as("b_n"))
    val sims = Caches.materialize(
      a.join(b, Seq("probe_id")).filter(col("a_id") =!= col("b_id"))
        .withColumn("sim",
          cosine(doti(col("a_iv"), col("b_iv")), col("a_n"), col("b_n")))
        .select("probe_id", "a_id", "b_id", "sim"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("rel").desc, col("cand_id").asc)
    var selAll = Caches.materialize(
      cand.withColumn("_rk", row_number().over(w1)).filter(col("_rk") === 1)
        .select(col("probe_id"), col("cand_id").as("sel_id"),
          lit(1L).as("rank")))
    for (step <- 2 to k) {
      val maxSim = sims
        .join(selAll.select(col("probe_id"), col("sel_id").as("b_id")),
          Seq("probe_id", "b_id"))
        .groupBy(col("probe_id"), col("a_id"))
        .agg(max(col("sim")).as("msim"))
      val pickW = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("mmr").desc, col("cand_id").asc)
      val ms = maxSim.select(col("probe_id").as("_mp"),
        col("a_id").as("_ma"), col("msim"))
      val next = cand
        .join(selAll.select(col("probe_id"), col("sel_id").as("cand_id")),
          Seq("probe_id", "cand_id"), "left_anti")
        .join(ms, col("probe_id") === col("_mp")
          && col("cand_id") === col("_ma"))
        .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("msim"))
        .withColumn("_rk", row_number().over(pickW)).filter(col("_rk") === 1)
        .select(col("probe_id"), col("cand_id").as("sel_id"),
          lit(step.toLong).as("rank"))
      val grown = Caches.materialize(selAll.unionAll(next))
      Caches.release(selAll)
      selAll = grown
    }
    Caches.release(cand); Caches.release(sims)
    selAll.select(col("probe_id"), col("rank"), col("sel_id").as("neighbor_id"))
  }

  case class StreamCand(probe_id: Long, neighbor_id: Long,
                        dot_scaled: Long, cos: Double)
  case class StreamHit(probe_id: Long, rank: Long, neighbor_id: Long,
                       n_cand: Long, cos: Double)

  /** Streaming LSH ANN — a continuous QUERY stream against a static
    * corpus index: probe vectors arrive on `probeStream`, are
    * LSH-bucketed with the same md5-derived hyperplanes as the corpus,
    * and candidates come from a stream-static join against the corpus
    * band-row table (the served-index shape: queries stream in, the
    * index is a batch artifact). Dedup of band collisions, exact
    * rerank, and the per-probe top-k run inside a
    * flatMapGroupsWithState fold — Structured Streaming forbids window
    * functions on append streams, and a probe's candidates all arrive
    * in its own micro-batch, so the group fold IS the rank stage and
    * the operator keeps ZERO state across batches (the stateless point
    * of the streaming design space: each query is answered in the
    * batch it arrives in).
    *
    * Results are bit-identical to [[annLsh]] over the same probe set:
    * same buckets, same exact int-dot cosine, same (cos desc, id asc)
    * ordering, same HALF_UP rounding.
    *
    * Scale: per batch, the stream side is the arriving probes (tiny);
    * the static band-row side re-plans per micro-batch — a production
    * deployment materializes it once (persist or a bucketed table, the
    * standard stream-static caveat) and the join shuffles only on
    * (band_id, bucket).
    */
  def annLshStreamed(probeStream: DataFrame, corpus: DataFrame,
                     k: Int): DataFrame =
    annLshStreamedIndexed(probeStream, corpus, k)._1

  /** [[annLshStreamed]] plus the MATERIALIZED corpus band-row index —
    * the static side of the stream-static join, i.e. the long-lived
    * serve artifact. Callers that stop the query hand the index to
    * [[Caches.release]] (r16 review: without the handle every
    * invocation pinned a corpus-scale checkpoint for the session).
    */
  private[graft] def annLshStreamedIndexed(probeStream: DataFrame,
      corpus: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val s = corpus.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val nBands = Planes / BitsPerBand
    def bandRows(df: DataFrame, idAs: String,
                 extra: Seq[(String, String)]): DataFrame =
      df.select(col("vec_id").as(idAs) +:
        extra.map { case (f, t) => col(f).as(t) } :+
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band_id"), col(s"bucket$b").as("bucket"))): _*))
          .as("bb"): _*)
        .select(col(idAs) +: extra.map(e => col(e._2)) :+
          col("bb.band_id") :+ col("bb.bucket"): _*)
    // the corpus band-row index is the static side of a stream-static
    // join — materialized once (r16, same rationale as the SQ8 serve
    // path: an unmaterialized static side re-executes per micro-batch)
    val candB = Caches.materialize(
      bandRows(withLshBuckets(withScaled(corpus)), "neighbor_id",
        Seq("iv" -> "iv", "norm2" -> "norm2")))
    val probeB = bandRows(withLshBuckets(withScaled(probeStream)), "probe_id",
      Seq("iv" -> "p_iv", "norm2" -> "p_norm2"))
    val scored = probeB.join(candB, Seq("band_id", "bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos", cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
      .select("probe_id", "neighbor_id", "dot_scaled", "cos")
      .as[StreamCand]
    val out = scored
      .groupByKey(_.probe_id)
      .flatMapGroupsWithState[Long, StreamHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (pid: Long, rows: Iterator[StreamCand], state) =>
          // dedup band collisions (same pair from several bands carries
          // identical scores), then the topK ordering
          val uniq = rows.toArray.groupBy(_.neighbor_id).map(_._2.head).toArray
          val n = uniq.length.toLong
          uniq.sortBy(c => (-c.cos, c.neighbor_id)).take(k).zipWithIndex.map {
            case (c, i) =>
              StreamHit(pid, (i + 1).toLong, c.neighbor_id, n,
                java.math.BigDecimal.valueOf(c.cos)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
          }.iterator
      }
      .toDF()
    (out, candB)
  }

  case class Sq8Cand(probe_id: Long, assigned_cluster: Int,
                     neighbor_id: Long, sqd: Long, cos: Double)
  case class Sq8Hit(probe_id: Long, assigned_cluster: Int, rank: Long,
                    neighbor_id: Long, sqd: Long, cos: Double)

  /** Streaming hier-IVF-SQ8 serve — [[annIvfSq8Hier]]'s index as a
    * continuous query endpoint: the model (hier-routed SQ8 lists,
    * quantized centroid table, grid literals) builds ONCE from the
    * static corpus; probe vectors arrive on `probeStream`, route to
    * their `listProbes` nearest quantized cells as a PURE PROJECTION
    * on the stream (the batch entry's NearestCentroids top-p — no
    * per-batch training, no stream-side shuffle before the join), and
    * candidates come from a stream-static EQUI-join on the list key —
    * the shape that stays bounded when the corpus doesn't broadcast:
    * each micro-batch touches ~listProbes·corpus/k candidate rows per
    * probe. Ranking + exact-cosine rerank fold per probe inside
    * flatMapGroupsWithState with ZERO cross-batch state (each query
    * is answered in its arrival batch). Emits [[annIvfSq8Hier]]'s
    * exact rows, so the batch entry's oracle gates the stream.
    */
  def annIvfSq8HierStreamed(probeStream: DataFrame, corpus: DataFrame,
                            topk: Int, k: Int, b: Int, rounds: Int = 2,
                            trainPpm: Long = 600000L, routeProbes: Int = 2,
                            trainedCoarse: Boolean = true,
                            listProbes: Int = 2): DataFrame =
    annIvfSq8HierStreamedIndexed(probeStream, corpus, topk, k, b, rounds,
      trainPpm, routeProbes, trainedCoarse, listProbes)._1

  /** [[annIvfSq8HierStreamed]] plus the MATERIALIZED serve index (the
    * compressed list table) — hand it to [[Caches.release]] when the
    * query stops, same contract as [[annLshStreamedIndexed]].
    */
  private[graft] def annIvfSq8HierStreamedIndexed(probeStream: DataFrame,
      corpus: DataFrame, topk: Int, k: Int, b: Int, rounds: Int = 2,
      trainPpm: Long = 600000L, routeProbes: Int = 2,
      trainedCoarse: Boolean = true,
      listProbes: Int = 2): (DataFrame, DataFrame) = {
    val s = corpus.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val v = withScaled(corpus)
    val (assigned, cents) = hierAssignModel(corpus, k, b, rounds,
      trainPpm, routeProbes, trainedCoarse)
    val (minsL, rngsL) = sq8Grid(v)
    // static side: compressed lists keyed by cluster, carrying the raw
    // iv/norm2 the exact rerank needs — composed ON TOP of the
    // router's corpus projection (r16: no corpus self-join; the batch
    // twin's list-build discipline) and MATERIALIZED once: a
    // stream-static join re-executes the static plan EVERY micro-batch,
    // so an unmaterialized list table re-paid the full corpus
    // routing+encode per batch (StreamServeProbe at 100×: ~11–19 s per
    // 2–3-probe batch, all rebuild). The checkpoint pins the serve
    // index in executor storage (~1 KB/vector — the in-RAM budget any
    // served ANN index pays) for the lifetime of the query, dropping
    // steady-state batches to the candidate-volume term
    // (~listProbes·corpus/k rows per probe).
    val lists = Caches.materialize(assigned
      .select(col("vec_id").as("neighbor_id"),
        sq8Cr(minsL, rngsL).as("cr"), col("iv"), col("norm2"),
        col("cluster"))
      .withColumn("crn", doti(col("cr"), col("cr"))))
    val probes = withScaled(probeStream)
      .select(col("vec_id").as("probe_id"), col("iv").as("p_iv"),
        col("norm2").as("p_norm2"), sq8Pm(minsL).as("pm"),
        explode(NearestCentroids.topP(cents, col("iv"), col("norm2"),
          listProbes)).as("cluster"))
      .withColumn("pmn", doti(col("pm"), col("pm")))
    val scored = probes.join(lists, "cluster")
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("sqd",
        col("pmn") + col("crn") - lit(2L) * doti(col("pm"), col("cr")))
      .withColumn("dot_scaled", doti(col("iv"), col("p_iv")))
      .withColumn("cos",
        cosine(col("dot_scaled"), col("p_norm2"), col("norm2")))
      .select(col("probe_id"), col("cluster").as("assigned_cluster"),
        col("neighbor_id"), col("sqd"), col("cos"))
      .as[Sq8Cand]
    val out = scored
      .groupByKey(_.probe_id)
      .flatMapGroupsWithState[Long, Sq8Hit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (pid: Long, rows: Iterator[Sq8Cand], _) =>
          // a vector lives in exactly one list, so no dedup is needed;
          // rank by the batch tie rule (sqd asc, neighbor asc)
          rows.toArray.sortBy(c => (c.sqd, c.neighbor_id))
            .take(topk).zipWithIndex.map { case (c, i) =>
              Sq8Hit(pid, c.assigned_cluster, (i + 1).toLong,
                c.neighbor_id, c.sqd,
                java.math.BigDecimal.valueOf(c.cos)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
            }.iterator
      }
      .toDF()
    (out, lists)
  }
}

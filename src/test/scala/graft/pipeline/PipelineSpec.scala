package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LLM-pipeline operator tests over the driver's sf0.001 tables plus
  * hand-built cases with exact expectations.
  */
class PipelineSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("token stats: hand-computed exact values") {
    val df = Seq((1L, "the cat sat on a mat the end")).toDF("doc_id", "text")
    val r = TextOps.withTokenStats(df).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 8)
    assert(r.getAs[Long]("n_distinct_tokens") == 7) // 'the' twice
    assert(r.getAs[Long]("sum_token_len") == 21)
    assert(r.getAs[Long]("max_token_len") == 3)
    assert(r.getAs[Long]("n_stopwords") == 3) // the, a, the
  }

  test("shingles: k=3 over 5 tokens yields 3 ordered shingles") {
    val df = Seq("a b c d e").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text"))).as("sh"))
    assert(df.as[Seq[String]].collect()(0) == Seq("a_b_c", "b_c_d", "c_d_e"))
  }

  test("tfidf: hand-computed rational scores and per-doc ranking") {
    val df = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val r = TextOps.tfidfTopK(df, 2).orderBy("doc_id", "rank").collect()
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    val d1 = r.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.map(x => (x.getAs[String]("term"), x.getAs[Double]("score"))).toSeq
      == Seq(("apple", 6.0), ("banana", 1.5)))
    val d3 = r.filter(_.getAs[Long]("doc_id") == 3L)
    assert(d3.head.getAs[String]("term") == "date") // 3.0 beats cherry 1.5
    assert(r.forall(_.getAs[Long]("rank") <= 2))
  }

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "x y z"), (2L, "x y z"), (3L, "other words here"))
      .toDF("doc_id", "text")
    val clusters = Dedup.exactClusters(df).orderBy("keeper").collect()
    assert(clusters.length == 2)
    assert(clusters(0).getAs[Long]("n_copies") == 2)
    assert(clusters(0).getAs[Long]("keeper") == 1)
  }

  test("span dedup: first occurrence kept, later spans dropped, short docs pass") {
    val df = Seq(
      (1L, "a b c d e f g h x y z"),             // keeper of the shared 8-gram
      (2L, "p q a b c d e f g h r"),             // cross-doc dup span at pos 2
      (3L, "one two"),                           // shorter than k: no grams
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u1 u2 u3 u4 u5 u6 u7 u8"), // within-doc dup
      (5L, "a b c d e f g h")                    // fully covered by doc 1's gram
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedup(df, 8).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_dropped"), x.getAs[String]("dedup_text")))).toMap
    assert(r(1L) == ((0L, "a b c d e f g h x y z")))
    assert(r(2L) == ((8L, "p q r")))
    assert(r(3L) == ((0L, "one two")))
    assert(r(4L) == ((8L, "u1 u2 u3 u4 u5 u6 u7 u8")))
    assert(r(5L) == ((8L, ""))) // every position dropped -> empty, not null
  }

  test("sampling: deterministic, rate-monotone, stratified rates honored") {
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val a = Sampling.uniform(df, col("doc_id"), 250000L).collect().map(_.getLong(0))
    val b = Sampling.uniform(df, col("doc_id"), 250000L).collect().map(_.getLong(0))
    assert(a.toSeq == b.toSeq) // pure function of the key: repeatable
    assert(a.length > 150 && a.length < 350) // ~25% of 1000
    // smaller rate draws a SUBSET (nested samples — same hash, lower cut)
    val small = Sampling.uniform(df, col("doc_id"), 100000L)
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a.toSet))
    assert(Sampling.uniform(df, col("doc_id"), 0L).count() == 0)
    assert(Sampling.uniform(df, col("doc_id"), 1000000L).count() == 1000)
    // stratified: en kept at 0, zh kept fully
    val st = Sampling.stratified(df, col("doc_id"), col("lang"),
      Map("en" -> 0L), 1000000L).collect()
    assert(st.length == 500 && st.forall(_.getString(1) == "zh"))
  }

  test("sketches merge: shard-built sketches re-aggregate to the whole-corpus sketch") {
    // The scale claim under test: "the groupBy IS the sketch merge" —
    // build each sketch on two disjoint corpus shards, merge with the
    // SAME aggregation (sum / max / distinct-union), and require exact
    // equality with the one-pass whole-corpus build. This is what makes
    // every sketch shard-parallel and stream-combinable for free.
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"),
      (crc32(col("text")) % 2 === 0).as("shard"))
    val (a, b) = (toks.filter(col("shard")), toks.filter(!col("shard")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    // CMS: per-cell counts add
    val cmsWhole = Sketches.cmsSketch(toks, col("tok"))
    val cmsMerged = Sketches.cmsSketch(a, col("tok"))
      .union(Sketches.cmsSketch(b, col("tok")))
      .groupBy("seed", "cell").agg(sum("cnt").as("cnt"))
    assert(rows(cmsMerged) == rows(cmsWhole))

    // HLL: per-register maxima max
    val hllWhole = Sketches.hllRegisters(toks, col("tok"))
    val hllMerged = Sketches.hllRegisters(a, col("tok"))
      .union(Sketches.hllRegisters(b, col("tok")))
      .groupBy("reg").agg(max("max_rho").as("max_rho"))
    assert(rows(hllMerged) == rows(hllWhole))

    // Bloom: set bits union
    val blWhole = Sketches.bloomBits(toks, col("tok"))
    val blMerged = Sketches.bloomBits(a, col("tok"))
      .union(Sketches.bloomBits(b, col("tok"))).distinct()
    assert(rows(blMerged) == rows(blWhole))

    // Histogram: per-bin counts add (cum_cnt re-derives from cnt, so
    // compare the additive core)
    def core(df: org.apache.spark.sql.DataFrame) =
      rows(df.select("bin", "cnt"))
    val hWhole = Sketches.histogram(
      toks.select(length(col("tok")).as("v")), col("v"), 0L, 32L, 8)
    val hMerged = Sketches.histogram(
        a.select(length(col("tok")).as("v")), col("v"), 0L, 32L, 8)
      .select("bin", "cnt")
      .union(Sketches.histogram(
        b.select(length(col("tok")).as("v")), col("v"), 0L, 32L, 8)
        .select("bin", "cnt"))
      .groupBy("bin").agg(sum("cnt").as("cnt"))
    assert(core(hMerged.toDF()) == core(hWhole))
  }

  test("splitLabels: total partition, repeatable, growth-stable, ~proportional") {
    val df = (1L to 2000L).map(i => (i, s"d$i")).toDF("doc_id", "x")
    val splits = Seq("train" -> 900000L, "val" -> 50000L, "test" -> 50000L)
    val a = Sampling.splitLabels(df, col("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.size == 2000) // every row labeled, none dropped or duplicated
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 1700 && n("train") < 1950, s"train ${n("train")}")
    assert(n("val") > 50 && n("val") < 160, s"val ${n("val")}")
    assert(n("test") > 50 && n("test") < 160, s"test ${n("test")}")
    // growth stability: adding rows never migrates an existing row's split
    val grown = (1L to 3000L).map(i => (i, s"d$i")).toDF("doc_id", "x")
    val g = Sampling.splitLabels(grown, col("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.forall { case (k, v) => g(k) == v })
    // guards: ppms must cover [0, 1e6); no label-column shadowing
    intercept[IllegalArgumentException] {
      Sampling.splitLabels(df, col("doc_id"), Seq("a" -> 1L))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitLabels(df.withColumn("split", lit("x")),
        col("doc_id"), splits)
    }
  }

  test("leakage-safe split: cluster members share a split, singletons match by-id") {
    val splits = Seq("train" -> 900000L, "val" -> 50000L, "test" -> 50000L)
    val docs = (1L to 50L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val withRep = docs
      .join(Dedup.dupClusters(pairs).select("doc_id", "cluster_rep"),
        Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("cluster_rep"), col("doc_id")))
      .drop("cluster_rep")
    val lab = Sampling.splitLabels(withRep, col("rep_id"), splits)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    assert(lab(1L) == lab(2L) && lab(2L) == lab(3L)) // chain = one split
    assert(lab(10L) == lab(11L))
    val plain = Sampling.splitLabels(docs, col("doc_id"), splits)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    val clustered = Set(1L, 2L, 3L, 10L, 11L)
    assert(lab.filterNot(kv => clustered(kv._1)) ==
      plain.filterNot(kv => clustered(kv._1)))
  }

  test("redactTerms: whole-word masking with exact counts") {
    val df = Seq(
      (1L, "the customer saw customers and a customer spark sparkle"),
      (2L, "nothing to mask here"),
      (3L, "spark spark spark")).toDF("doc_id", "text")
    val r = TextOps.redactTerms(df, Seq("customer", "spark"), "[X]")
      .collect().map(x => x.getLong(0) ->
        (x.getAs[String]("text"), x.getAs[Long]("n_redacted"))).toMap
    // word boundaries: "customers"/"sparkle" survive
    assert(r(1L) == ("the [X] saw customers and a [X] [X] sparkle", 3L))
    assert(r(2L) == ("nothing to mask here", 0L))
    assert(r(3L) == ("[X] [X] [X]", 3L))
    intercept[IllegalArgumentException] {
      TextOps.redactTerms(df, Seq("bad.regex"))
    }
  }

  test("topKPerStratum: exact quota, deterministic, growth-stable") {
    val df = (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val a = Sampling.topKPerStratum(df, col("doc_id"), col("lang"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.count(_._2 == "en") == 5 && a.count(_._2 == "zh") == 5)
    val b = Sampling.topKPerStratum(df, col("doc_id"), col("lang"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sorted.toSeq == b.sorted.toSeq)
    // growing the corpus keeps survivors unless a smaller draw arrives:
    // every original survivor still in the new sample was a survivor before
    val grown = df.union((301L to 400L).map(i => (i, "en")).toDF("doc_id", "lang"))
    val g = Sampling.topKPerStratum(grown, col("doc_id"), col("lang"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(g.count(_._2 == "en") == 5)
    assert((g.filter(x => x._2 == "en" && x._1 <= 300L) --
      a.filter(_._2 == "en").toSet).isEmpty,
      "an old doc entered the sample without being an original survivor")
  }

  test("chunking: stride windows, short and empty docs, exact boundaries") {
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, mk(70)), (2L, mk(32)), (3L, mk(33)), (4L, mk(5)),
      (5L, "")).toDF("doc_id", "text")
    val r = TextOps.chunkTokens(df, 32, 24).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // 70 tokens -> starts 0,24,48: 32+32+22
    assert(r(1L).sortBy(_.getAs[Long]("chunk_idx"))
      .map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(32L, 32L, 22L))
    assert(r(1L).head.getAs[String]("chunk_text").startsWith("t1 t2 "))
    assert(r(2L).map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(32L))
    assert(r(3L).sortBy(_.getAs[Long]("chunk_idx"))
      .map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(32L, 9L))
    assert(r(4L).map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(5L))
    // empty text tokenizes to [""]: one chunk, empty text, 1 "token" —
    // the quality gate upstream owns dropping empties
    assert(r(5L).map(x => (x.getAs[Long]("n_chunk_tokens"),
      x.getAs[String]("chunk_text"))).toSeq == Seq((1L, "")))
  }

  test("bloom: no false negatives; false positives counted against truth") {
    val keys = (1L to 50L).toDF("k")
    val probes = (1L to 200L).toDF("p")
    val bits = Sketches.bloomBits(keys, col("k"), 4, 4096)
    assert(bits.count() <= 200) // 50 keys x 4 seeds
    val r = Sketches.bloomProbe(probes, col("p"), bits, 4, 4096).collect()
      .map(x => x.getAs[String]("probe_key").toLong ->
        x.getAs[Boolean]("bloom_hit")).toMap
    assert(r.size == 200)
    assert((1L to 50L).forall(r(_)), "bloom must never miss a member")
    val fp = (51L to 200L).count(r(_))
    assert(fp < 20, s"implausible false-positive count $fp at n=50 m=4096")
  }

  test("hll: registers bounded by 2^p; estimate within expected error band") {
    val items = (1 to 5000).map(i => s"item_$i").toDF("tok")
    val regs = Sketches.hllRegisters(items, col("tok"), 8).collect()
    assert(regs.length <= 256)
    assert(regs.forall { r =>
      val v = r.getAs[Int]("max_rho"); v >= 1 && v <= 53
    })
    val s = Sketches.hllSummary(items, col("tok"), 8).head()
    assert(s.getAs[Long]("exact_distinct") == 5000L)
    assert(s.getAs[Long]("n_obs") + s.getAs[Long]("n_zero_registers") == 256L)
    val est = s.getAs[Double]("hll_raw_est")
    // std error ~1.04/sqrt(256) = 6.5%; allow 4 sigma
    assert(est > 3700 && est < 6300, s"estimate $est implausible for 5000")
    // merge = groupBy-max: two halves' registers combine to the full set
    val h1 = Sketches.hllRegisters((1 to 2500).map(i => s"item_$i").toDF("tok"),
      col("tok"), 8)
    val h2 = Sketches.hllRegisters((2501 to 5000).map(i => s"item_$i").toDF("tok"),
      col("tok"), 8)
    val merged = h1.union(h2).groupBy("reg")
      .agg(max("max_rho").as("max_rho")).collect()
      .map(r => r.getAs[Long]("reg") -> r.getAs[Int]("max_rho")).toMap
    val full = regs.map(r => r.getAs[Long]("reg") -> r.getAs[Int]("max_rho")).toMap
    assert(merged == full)
  }

  test("cms: sketch bounded by d*w with mass preserved; estimates one-sided") {
    val items = (Seq.fill(50)("alpha") ++ Seq.fill(20)("beta") ++
      (1 to 30).map(i => s"w$i")).toDF("tok")
    val sk = Sketches.cmsSketch(items, col("tok"), 3, 1024).collect()
    assert(sk.length <= 3 * 1024)
    assert(sk.filter(_.getAs[Int]("seed") == 0).map(_.getAs[Long]("cnt")).sum == 100)
    val hh = Sketches.cmsHeavyHitters(items, col("tok"), 5).collect()
    assert(hh.length == 5)
    assert(hh.forall(x => x.getAs[Long]("cms_est") >= x.getAs[Long]("exact")))
    val top = hh.maxBy(_.getAs[Long]("cms_est"))
    assert(top.getAs[String]("tok") == "alpha" && top.getAs[Long]("exact") == 50L)
  }

  test("minhash signature identical for identical docs, and LSH pairs them") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((10L, base), (20L, base),
      (30L, "completely different tokens with no shared shingles at all ok"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, 0.7).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc1") == 10L)
    assert(pairs(0).getAs[Long]("doc2") == 20L)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("near-dup pairs on sf0.001 equal brute-force ground truth") {
    // independent brute-force Jaccard over distinct 3-shingles
    val sets = docs.select(col("doc_id"),
      array_distinct(TextOps.shingles(TextOps.tokens(col("text")))).as("sh"))
    val truth = sets.as("a").join(sets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("ni", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("a.sh")) + size(col("b.sh")) - col("ni")))
      .filter(col("j") >= 0.7)
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
    val lsh = Dedup.nearDupPairs(docs, 0.7).select("doc1", "doc2")
    assert(lsh.exceptAll(truth).count() == 0, "LSH produced a false pair")
    assert(truth.exceptAll(lsh).count() == 0, "LSH missed a true pair")
  }

  test("oversized LSH buckets are excluded by the cap, small buckets survive") {
    // 20 identical clones put 20 members into one bucket per band; one
    // true near-dup pair (1 token differs over 40) sits in 2-member
    // buckets. Cap 10 must drop every clone pair and keep the near pair.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "tok99")
    val clone = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = (Seq((0L, base), (1L, near)) ++
      (2L until 22L).map(i => (i, clone))).toDF("doc_id", "text")
    val uncapped = Dedup.nearDupPairs(docs, 0.7)
    assert(uncapped.count() == 20L * 19 / 2 + 1) // clone all-pairs + near pair
    val capped = Dedup.nearDupPairs(docs, 0.7, maxBucketSize = 10)
    val pairs = capped.select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("bucket cap is ON by default: a >10k-member bucket is excluded without opting in") {
    // round-8 verdict: an opt-in guard protects nobody. A boilerplate
    // bucket one over DefaultMaxBucketSize must be excluded by the
    // DEFAULT call — no maxBucketSize argument anywhere — while the
    // real near pair survives. (If the default ever regressed to
    // unlimited this test would grind through a 5*10^7-candidate join.)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "tok99")
    val clone = (1 to 40).map(i => s"x$i").mkString(" ")
    val n = Dedup.DefaultMaxBucketSize + 1
    val docs = spark.range(2, n + 2L).selectExpr("id AS doc_id")
      .withColumn("text", lit(clone))
      .unionAll(Seq((0L, base), (1L, near)).toDF("doc_id", "text"))
    val pairs = Dedup.nearDupPairs(docs, 0.7)
    try assert(pairs.select("doc1", "doc2").as[(Long, Long)]
      .collect().toSet == Set((0L, 1L)))
    finally Caches.release(pairs)
  }

  test("tokensNorm: whitespace runs, edge punctuation stripped, case folded, non-ASCII kept") {
    val df = Seq((1L, "HELLO,\t(World)! \n  end...  \r\n«ok» a--b"))
      .toDF("doc_id", "text")
    val tk = df.select(TextOps.tokensNorm(col("text")).as("tk"))
      .as[Seq[String]].collect()(0)
    // interior punctuation (a--b) and non-ASCII punctuation («ok») are
    // kept — only ASCII edge punctuation is stripped
    assert(tk == Seq("hello", "world", "end", "«ok»", "a--b"))
  }

  test("near-dup detection accepts the normalizing tokenizer") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val messy = "  " + base.toUpperCase + "!\t" // normalizes to exactly base
    val near = base.replace("tok40", "tok99")
    val docs = Seq((0L, base), (1L, messy), (2L, near)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, 0.7, tokenizer = TextOps.tokensNorm)
    try {
      val m = pairs.select("doc1", "doc2", "jaccard")
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(m.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
      assert(m((0L, 1L)) == 1.0, "normalized clone must be an exact dup")
    } finally Caches.release(pairs)
  }

  test("pl_d11 cap margin: largest natural bucket at every fixture SF is at most half the cap") {
    // ADVICE r9: pl_d11's cap of 50 assumes sf fixtures never put a
    // REAL band bucket anywhere near the cap (planted farm = 60). That
    // assumption must survive a fixture regeneration, so assert it
    // against the actual corpora the driver runs: max natural bucket
    // membership must leave a 2x margin under the pl_d11 cap at the
    // correctness SF (0.01) and the benched SF (0.1).
    val cap = 50
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val corpus = spark.read
        .parquet(s"/root/testdata/$sf/documents.parquet")
        .select("doc_id", "text")
      val maxBucket = Dedup.bands(Dedup.withMinhash(corpus))
        .groupBy("band_id", "band_hash")
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
      assert(maxBucket * 2 <= cap,
        s"$sf: largest natural LSH bucket ($maxBucket members) is within " +
          s"2x of the pl_d11 cap ($cap) — regenerated fixture would risk " +
          "silently dropping real near-dup pairs")
    }
  }

  test("dup clusters: a 64-long chain resolves to one cluster") {
    // worst case for plain propagation (diameter = n-1 rounds);
    // pointer jumping must converge in ~log2(n) rounds
    val n = 64L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val cl = Dedup.dupClusters(pairs)
    assert(cl.count() == n)
    assert(cl.select("cluster_rep").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(cl.filter(col("cluster_size") =!= n).count() == 0)
    Caches.release(cl)
  }

  test("persistedRdd walks ALL dependencies; releaseQuiet skips lazy frames") {
    // branchy plan with the persisted node on the SECOND branch: a
    // head-only dependency walk would miss it and leak (ADVICE r6)
    val lazyDf = Seq(2L).toDF("x")
    val mat = Caches.materialize(Seq(1L).toDF("x"))
    val branchy = lazyDf.union(mat)
    assert(Caches.persistedRdd(branchy, quiet = true).isDefined,
      "persisted node on a non-head branch was not found")
    // blanket-sweep release: a no-op (no planner run, no exception) on
    // frames that were never materialized, a real release on ones that were
    Caches.releaseQuiet(lazyDf)
    Caches.releaseQuiet(mat)
    assert(Caches.persistedRdd(mat, quiet = true)
      .forall(_.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "releaseQuiet did not drop a materialized frame's blocks")
  }

  test("dup clusters: two pairs sharing a doc form one 3-cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc1", "doc2")
    val cl = Dedup.dupClusters(pairs).orderBy("doc_id").collect()
    assert(cl.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (7L, 7L, 2L), (8L, 7L, 2L)))
  }

  test("dup clusters: the in-row convergence flag never leaks into the output") {
    // r18: the per-round convergence count rides the checkpointed round
    // projection as a `_ch` column instead of a separate next⋈old join —
    // the result schema must still be exactly (doc_id, cluster_rep,
    // cluster_size), and a graph that needs several pointer-jumping
    // rounds (star + tail: label 0 must cross 5 hops) must converge to
    // the same min-label fixed point the one-join-per-round form produced.
    val pairs = Seq((0L, 10L), (10L, 20L), (20L, 30L), (30L, 40L), (40L, 50L))
      .toDF("doc1", "doc2")
    val cl = Dedup.dupClusters(pairs)
    assert(cl.columns.toSeq == Seq("doc_id", "cluster_rep", "cluster_size"),
      s"internal round columns leaked: ${cl.columns.mkString(",")}")
    val rows = cl.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(0L, 10L, 20L, 30L, 40L, 50L).map(id => (id, 0L, 6L)))
    Caches.release(cl)
  }

  test("simhash: identical docs hash identically; hamming to unrelated doc > 0") {
    val df = Seq((1L, "one two three four five"), (2L, "one two three four five"),
      (3L, "six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val h = Dedup.withSimhash(df).orderBy("doc_id")
      .select("simhash").as[Long].collect()
    assert(h(0) == h(1))
    assert(h(0) != h(2))
    assert(h.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("ngram Jaccard via inverted index equals brute-force on the kept universe") {
    // independent brute-force: same DF-capped gram sets, all-pairs intersect
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 4)))
        .as("gram"))
    val kept = grams.join(
      grams.groupBy("gram").count().filter(col("count") > 3).select("gram"),
      Seq("gram"), "left_anti")
    val sets = kept.groupBy("doc_id").agg(collect_set("gram").as("g"))
    val truth = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("ni", size(array_intersect(col("a.g"), col("b.g"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("a.g")) + size(col("b.g")) - col("ni")))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("j").as("jaccard"))
    val idx = Dedup.ngramJaccardPairs(docs, 4, 3, 0.5)
    assert(idx.count() > 0, "no pairs found — threshold/corpus mismatch")
    assert(idx.select("doc1", "doc2", "jaccard").exceptAll(truth).count() == 0)
    assert(truth.exceptAll(idx.select("doc1", "doc2", "jaccard")).count() == 0)
  }

  test("simhash pigeonhole pairs equal brute-force hamming<=3 (exact recall)") {
    val sh = Dedup.withSimhash(docs,
      TextOps.shingles(TextOps.tokens(col("text")))).select("doc_id", "simhash")
    val truth = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("bigint"))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("hamming"))
    val bucketed = Dedup.simhashPairs(docs, 3, 4)
    assert(bucketed.exceptAll(truth).count() == 0, "false pair")
    assert(truth.exceptAll(bucketed).count() == 0,
      "pigeonhole recall violated — a hamming<=3 pair missed every bucket")
  }

  test("histogram: clamped bins, cumulative counts, quantile read-off") {
    val df = Seq(-5L, 0L, 7L, 8L, 127L, 128L, 200L).toDF("v")
    val h = Sketches.histogram(df, col("v"), 0L, 128L, 16)
    val rows = h.orderBy("bin").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("lo_edge"),
        r.getAs[Long]("cnt"), r.getAs[Long]("cum_cnt")))
    // below-lo clamps to bin 0; at/above-hi clamps to the last bin
    assert(rows.toSeq == Seq((0L, 0L, 3L, 3L), (1L, 8L, 1L, 4L),
      (15L, 120L, 3L, 7L)))
    val qs = Sketches.histogramQuantiles(h, Seq(0.5, 1.0)).toMap
    assert(qs(0.5) == 8L)  // ceil(0.5*7)=4 -> first cum>=4 is bin 1
    assert(qs(1.0) == 120L)
    // merge property: histogram of a union == groupBy-sum of shard
    // histograms (the CMS/HLL contract)
    val h2 = Sketches.histogram(Seq(7L, 300L).toDF("v"), col("v"), 0L, 128L, 16)
    val merged = h.select("bin", "cnt").union(h2.select("bin", "cnt"))
      .groupBy("bin").agg(sum("cnt").as("cnt"))
    val direct = Sketches.histogram(
      Seq(-5L, 0L, 7L, 8L, 127L, 128L, 200L, 7L, 300L).toDF("v"),
      col("v"), 0L, 128L, 16).select("bin", "cnt")
    assert(merged.exceptAll(direct).count() == 0
      && direct.exceptAll(merged).count() == 0)
  }

  test("sampling: nested across rates, aligned across tables, layout-stable") {
    import graft.pipeline.Sampling
    // nesting: the 10% sample is a strict subset of the 30% sample
    // (same salt — membership is draw < ppm, monotone in ppm)
    val s10 = Sampling.uniform(docs, col("doc_id"), 100000L).select("doc_id")
    val s30 = Sampling.uniform(docs, col("doc_id"), 300000L).select("doc_id")
    assert(s10.exceptAll(s30).count() == 0, "10% sample must nest in 30%")
    assert(s10.count() < s30.count())
    // alignment: sampling a second 'table' (a projection of the same
    // ids) with the same salt/key selects exactly the same ids
    val other = docs.select(col("doc_id"), col("lang"))
    val sOther = Sampling.uniform(other, col("doc_id"), 100000L).select("doc_id")
    assert(s10.exceptAll(sOther).count() == 0
      && sOther.exceptAll(s10).count() == 0,
      "same-key samples must align across tables")
    // layout independence: membership survives repartitioning
    val sShuffled = Sampling.uniform(docs.repartition(13), col("doc_id"), 100000L)
      .select("doc_id")
    assert(s10.exceptAll(sShuffled).count() == 0
      && sShuffled.exceptAll(s10).count() == 0,
      "sample membership must not depend on partition layout")
  }

  test("sequence packing: per-shard offsets and sequence ids exact") {
    // doc_ids 1, 9, 17 share shard 1 (mod 8); 2 is alone in shard 2
    val df = Seq(
      (1L, "a b c"),            // shard 1: start 0
      (9L, "d e"),              // shard 1: start 3
      (17L, "f g h i"),         // shard 1: start 5 -> seq 1 at len 4
      (2L, "x")).toDF("doc_id", "text")
    val r = TextOps.packSequences(df, 4, 8).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("shard"),
        x.getAs[Long]("start_off"), x.getAs[Long]("seq_id")))
    assert(r.toSeq == Seq(
      (1L, 1L, 0L, 0L), (2L, 2L, 0L, 0L),
      (9L, 1L, 3L, 0L), (17L, 1L, 5L, 1L)))
  }

  test("pack spans: cut-spanning docs split, mask-builder invariants hold") {
    // shard 1 stream (seqLen 4): doc 1 tokens [0,3), doc 9 [3,5) — spans
    // the seq-0/seq-1 cut — doc 17 [5,9) — spans the seq-1/seq-2 cut;
    // doc 25 is "empty" but carries ONE empty token (split("") → [""],
    // the documented chunker semantics) so it occupies slot [9,10)
    val df = Seq(
      (1L, "a b c"), (9L, "d e"), (17L, "f g h i"), (25L, ""),
      (2L, "x")).toDF("doc_id", "text")
    val r = TextOps.packSpans(df, 4, 8)
      .orderBy("shard", "seq_id", "span_start").collect()
      .map(x => (x.getAs[Long]("shard"), x.getAs[Long]("seq_id"),
        x.getAs[Long]("doc_id"), x.getAs[Long]("span_start"),
        x.getAs[Long]("span_len")))
    assert(r.toSeq == Seq(
      (1L, 0L, 1L, 0L, 3L),   // doc 1 fills seq 0 tokens 0-2
      (1L, 0L, 9L, 3L, 1L),   // doc 9's first token closes seq 0
      (1L, 1L, 9L, 0L, 1L),   // ...and its second opens seq 1
      (1L, 1L, 17L, 1L, 3L),  // doc 17 continues seq 1
      (1L, 2L, 17L, 0L, 1L),  // ...and spills into seq 2
      (1L, 2L, 25L, 1L, 1L),  // the empty-token doc occupies one slot
      (2L, 0L, 2L, 0L, 1L)))
    // invariants a mask builder relies on: per doc Σ span_len = n_tokens;
    // every non-final sequence in a shard is exactly full
    val byDoc = r.groupBy(_._3).view.mapValues(_.map(_._5).sum).toMap
    assert(byDoc == Map(1L -> 3L, 9L -> 2L, 17L -> 4L, 25L -> 1L, 2L -> 1L))
    val bySeq = r.groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._5).sum)
    assert(bySeq((1L, 0L)) == 4L && bySeq((1L, 1L)) == 4L)
  }

  test("PII stats: shape counts exact, SSN and phone shapes do not cross-match") {
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org here"),       // 2 emails
      (2L, "call 555-123-4567 or 555-000-1111 now"),    // 2 phones
      (3L, "ssn 123-45-6789 inside"),                   // 1 ssn
      (4L, "digits 1234-567-8901 12-345-6789"),         // malformed: none
      (5L, "clean text only"))
      .toDF("doc_id", "text")
    val r = TextOps.withPiiStats(df).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("n_emails"), x.getAs[Long]("n_phones"),
        x.getAs[Long]("n_ssns"), x.getAs[Boolean]("has_pii")))
    assert(r.toSeq == Seq(
      (2L, 0L, 0L, true),
      (0L, 2L, 0L, true),
      (0L, 0L, 1L, true),
      (0L, 0L, 0L, false),
      (0L, 0L, 0L, false)))
  }

  test("rarity scores: corpus-relative threshold, exact fractions") {
    // corpus: 12 nonempty token instances; permille=100 -> rare iff
    // freq*1000 <= 100*12 = 1200, i.e. freq <= 1 ("odd" only)
    val df = Seq(
      (1L, "a a b odd"), (2L, "a b b a"), (3L, "b a a b")).toDF("doc_id", "text")
    val r = TextOps.rarityScores(df, 100).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_rare"),
        x.getAs[Double]("rare_frac")))
    assert(r.toSeq == Seq((4L, 1L, 0.25), (4L, 0L, 0.0), (4L, 0L, 0.0)))
  }

  test("repetition metrics: hand-computed exact values") {
    val df = Seq(
      (1L, "a b a b a"),        // grams a_b,b_a,a_b,b_a: G=4, distinct=2
      (2L, "x y z"),            // G=2, all distinct
      (3L, "solo"),             // no grams
      (4L, "w w w w"))          // w_w x3: G=3, distinct=1
      .toDF("doc_id", "text")
    val r = TextOps.withRepetition(df, 2).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("n_grams"), x.getAs[Long]("n_distinct_grams"),
        x.getAs[Double]("rep_frac"), x.getAs[Long]("max_gram_count")))
    assert(r.toSeq == Seq(
      (4L, 2L, 0.5, 2L),
      (2L, 2L, 0.0, 1L),
      (0L, 0L, 0.0, 0L),
      (3L, 1L, 2.0 / 3.0, 3L)))
  }

  test("decontamination: shared-gram counts exact, clean docs absent") {
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x alpha beta y"),        // shares alpha_beta
      (2L, "alpha beta gamma z"),    // shares alpha_beta AND beta_gamma
      (3L, "nothing in common")).toDF("doc_id", "text")
    val r = Dedup.contaminated(corpus, bench, 2).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("n_shared_grams")))
    assert(r.toSeq == Seq((1L, 1L), (2L, 2L)))
    // repeated grams in one doc count once (array_distinct on both sides)
    val rep = Seq((9L, "alpha beta q alpha beta")).toDF("doc_id", "text")
    val r2 = Dedup.contaminated(rep, bench, 2).collect()
    assert(r2.length == 1 && r2(0).getAs[Long]("n_shared_grams") == 1L)
  }

  test("simhashPairs bucket cap: oversized buckets excluded, survivors intact") {
    // 20 identical boilerplate docs put 20 members in each of their 4
    // (chunk, value) buckets; an unrelated identical pair forms
    // buckets of size 2. Cap at 10: the boilerplate blow-up (190
    // pairs) is excluded with recall accounting, the small pair stays.
    val boiler = (1L to 20L).map(i =>
      (i, "spam spam spam canned meat product wonderful spam again"))
    val small = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val df = (boiler ++ small).toDF("doc_id", "text")
    val uncapped = Dedup.simhashPairs(df, 3, 4)
    assert(uncapped.count() == 190 + 1, "uncapped must see every pair")
    val capped = Dedup.simhashPairs(df, 3, 4, maxBucketSize = 10)
    val rows = capped.collect()
    assert(rows.length == 1, s"capped run kept ${rows.length} pairs, want 1")
    assert(rows(0).getAs[Long]("doc1") == 100L
      && rows(0).getAs[Long]("doc2") == 101L
      && rows(0).getAs[Long]("hamming") == 0L)
    Caches.release(uncapped); Caches.release(capped)
  }

  test("brute-force knn: ranks ordered by cosine, no self-match") {
    val out = Ann.knnBrute(vecs, col("vec_id") < 3, 5).cache()
    assert(out.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    assert(out.groupBy("probe_id").count().filter(col("count") =!= 5).count() == 0)
    // rank 1 cos >= rank 5 cos per probe
    val byProbe = out.groupBy("probe_id")
      .agg(max(when(col("rank") === 1, col("cos"))).as("c1"),
        max(when(col("rank") === 5, col("cos"))).as("c5"))
    assert(byProbe.filter(col("c1") < col("c5")).count() == 0)
  }

  test("LSH ANN: candidates are a strict subset yet top-1 cos <= brute top-1 cos") {
    val brute = Ann.knnBrute(vecs, col("vec_id") < 3, 1)
      .select(col("probe_id"), col("cos").as("bc"))
    val lsh = Ann.annLsh(vecs, col("vec_id") < 3, 1)
      .select(col("probe_id"), col("cos").as("lc"), col("n_cand"))
    val j = brute.join(lsh, "probe_id")
    assert(j.filter(col("lc") > col("bc")).count() == 0)
    // pruning is real: candidate count well under corpus size
    assert(j.filter(col("n_cand") >= vecs.count() - 1).count() == 0)
  }

  test("k-means clusters: total assignment, determinism, multiple clusters") {
    val c1 = Ann.kmeansClusters(vecs, 8, 2).cache()
    assert(c1.count() == vecs.count())
    assert(c1.select("cluster").distinct().count() > 1)
    val c2 = Ann.kmeansClusters(vecs, 8, 2)
    assert(c1.exceptAll(c2).count() == 0 && c2.exceptAll(c1).count() == 0)
  }

  test("IVF: probes search exactly their assigned centroid's list") {
    val out = Ann.annIvf(vecs, col("vec_id") < 3, 3)
    val withLabel = out.join(
      vecs.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
    assert(withLabel.filter(col("label") =!= col("assigned_label")).count() == 0)
  }

  test("corpus filter: drops low-quality, exact-dup copies, near-dup losers") {
    val good = (1 to 25).map(i => s"w$i").mkString(" ") // 25 distinct tokens
    val near = good.replace("w25", "w99") // near-dup of doc 0 (J >> 0.7)
    val short = "w1 w2 w3" // fails n_tokens >= 20
    val other = (1 to 25).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (0L, good), (1L, near), (2L, good), // 1 = near-dup loser, 2 = exact copy
      (3L, short), (4L, other)).toDF("doc_id", "text")
    val kept = graft.pipeline.CorpusFilter.kept(docs, 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 4L),
      s"expected quality+keeper survivors {0, 4}, got $kept")
  }

  test("relative threshold: per-group histogram median gates each group " +
      "against its own distribution") {
    // en lengths 10/50/90/130 → bins 0/1/2/3, N=4, target ceil(4/2)=2,
    // cum hits 2 at bin 1 → thr = 40; kept = {50, 90, 130} = 3.
    // de lengths 200/280 → bins 5/7, N=2, target 1 → thr = 200; kept 2.
    val df = Seq(("en", 10L), ("en", 50L), ("en", 90L), ("en", 130L),
      ("de", 200L), ("de", 280L)).toDF("lang", "n_chars")
    val r = TextOps.relativeThresholdCard(df, col("lang"), col("n_chars"),
      0L, 640L, 16).orderBy("grp").collect()
    assert(r.map(x => (x.getAs[String]("grp"), x.getAs[Long]("thr"),
      x.getAs[Long]("n_docs"), x.getAs[Long]("n_kept"))).toSeq ==
      Seq(("de", 200L, 2L, 2L), ("en", 40L, 4L, 3L)))
  }

  test("data card: dup columns never double-book; quality is an " +
      "independent axis") {
    val good = (1 to 25).map(i => s"w$i").mkString(" ")
    val near = good.replace("w25", "w99") // near-dup loser vs doc 0
    val short = "w1 w2 w3"                // fails n_tokens >= 20
    val other = (1 to 25).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (0L, good, "a", "en"), (1L, near, "a", "en"),
      (2L, good, "b", "en"), // exact copy of 0 → non-keeper, NOT a loser
      (3L, short, "b", "de"), (4L, other, "b", "en"),
      (5L, short, "b", "de")) // copy of 3 AND quality-fail: both columns
      .toDF("doc_id", "text", "source", "lang")
    val card = CorpusFilter.dataCard(docs, 0.7).orderBy("source").collect()
    def row(i: Int) = (card(i).getAs[String]("source"),
      card(i).getAs[Long]("n_docs"), card(i).getAs[Long]("n_tokens"),
      card(i).getAs[Long]("n_quality_fail"), card(i).getAs[Long]("n_exact_dup"),
      card(i).getAs[Long]("n_neardup_loser"), card(i).getAs[Long]("n_kept"),
      card(i).getAs[Long]("n_langs"))
    assert(row(0) == ("a", 2L, 50L, 0L, 0L, 1L, 1L, 1L))
    // doc 5 sits in BOTH n_quality_fail and n_exact_dup (2+2+0+1 > 4):
    // the dup columns are disjoint, quality is an independent axis
    assert(row(1) == ("b", 4L, 56L, 2L, 2L, 0L, 1L, 2L))
  }

  test("token-mass card: per-stage token columns, and kept totals " +
      "reconcile with kept() exactly") {
    val good = (1 to 25).map(i => s"w$i").mkString(" ")
    val near = good.replace("w25", "w99") // near-dup loser vs doc 0
    val short = "w1 w2 w3"                // fails n_tokens >= 20
    val other = (1 to 25).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (0L, good, "a", "en"), (1L, near, "a", "en"),
      (2L, good, "b", "en"), // exact copy of 0
      (3L, short, "b", "de"), (4L, other, "b", "en"),
      (5L, short, "b", "de")) // copy of 3 AND quality-fail
      .toDF("doc_id", "text", "source", "lang")
    val card = CorpusFilter.dataCardByLang(docs, 0.7)
    val kept = CorpusFilter.kept(docs, 0.7)
    try {
      // the one keep-rule definition: card cell sums must equal the
      // kept() population in BOTH units (docs and tokens)
      val tot = card.agg(sum("n_kept"), sum("tok_kept")).head()
      val keptTot = kept.agg(count(lit(1)), sum("n_tokens")).head()
      assert(tot.getLong(0) == keptTot.getLong(0))
      assert(tot.getLong(1) == keptTot.getLong(1))
      // hand check (a, en): doc 0 kept (25 tokens), doc 1 a 25-token
      // near-dup loser — token masses land in the right stage columns
      val aEn = card.filter(col("source") === "a").collect()
      assert(aEn.length == 1)
      assert(aEn.head.getAs[String]("lang") == "en")
      assert(aEn.head.getAs[Long]("n_tokens") == 50L)
      assert(aEn.head.getAs[Long]("tok_quality_fail") == 0L)
      assert(aEn.head.getAs[Long]("tok_exact_dup") == 0L)
      assert(aEn.head.getAs[Long]("tok_neardup_loser") == 25L)
      assert(aEn.head.getAs[Long]("n_kept") == 1L)
      assert(aEn.head.getAs[Long]("tok_kept") == 25L)
      // (b, de): doc 5 is a byte-copy AND a quality fail — its 3
      // tokens sit in BOTH token columns (independent axes, like pl_p4)
      val bDe = card.filter(col("source") === "b" && col("lang") === "de")
        .head()
      assert(bDe.getAs[Long]("tok_quality_fail") == 6L)
      assert(bDe.getAs[Long]("tok_exact_dup") == 3L)
      assert(bDe.getAs[Long]("tok_kept") == 0L)
    } finally { Caches.release(card); Caches.release(kept) }
  }

  test("train-then-assign contract: empty training input fails loudly " +
      "with a domain message") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.kmeansClusters(empty, 4, 2)
    }
    assert(e.getMessage.contains("training input is empty"))
    val e2 = intercept[IllegalArgumentException] {
      Ann.pqModel(empty, 1)
    }
    assert(e2.getMessage.contains("empty or degenerate"))
  }

  test("trained IVF: probe quantization agrees with its own corpus list") {
    // probes are corpus members, so each probe's assigned cluster must
    // equal the k-means assignment of that same vector, and every
    // returned neighbor must come from that cluster's list
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Ann.annIvfKmeans(embs, col("vec_id") < 8, 5, 4, 2)
    val clusters = Ann.kmeansClusters(embs, 4, 2)
    val probeSelf = res.select(col("probe_id").as("vec_id"),
        col("assigned_cluster")).distinct()
      .join(clusters, "vec_id")
      .filter(col("assigned_cluster") =!= col("cluster")).count()
    assert(probeSelf == 0, "probe quantized to a different cluster than itself")
    val strays = res.join(
      clusters.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .filter(col("cluster") =!= col("assigned_cluster")).count()
    assert(strays == 0, "neighbor returned from a foreign inverted list")
    assert(res.count() > 0)
  }

  test("cross-corpus matches = the straddling subset of self-join pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val ref = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val cross = Dedup.crossCorpusMatches(corpus, ref, 0.7)
    val all = Dedup.nearDupPairs(docs, 0.7)
    // expected: every verified pair with exactly one side in the
    // reference, normalized to (corpus_doc, ref_doc)
    val straddle = all
      .filter((pmod(col("doc1"), lit(5)) === 0) =!=
        (pmod(col("doc2"), lit(5)) === 0))
      .select(
        when(pmod(col("doc1"), lit(5)) === 0, col("doc2"))
          .otherwise(col("doc1")).as("doc_id"),
        when(pmod(col("doc1"), lit(5)) === 0, col("doc1"))
          .otherwise(col("doc2")).as("ref_id"))
    val got = cross.select("doc_id", "ref_id")
    assert(got.exceptAll(straddle).count() == 0, "cross-only pairs")
    assert(straddle.exceptAll(got).count() == 0, "missed straddling pairs")
    // reference-internal dup pairs must never emit
    assert(cross.filter(pmod(col("doc_id"), lit(5)) === 0).count() == 0)
    Caches.release(cross); Caches.release(all)
  }

  test("PQ: codes are M small ints; ADC ranks monotone; rerank bounded by brute") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (codes, cent) = Ann.pqModel(embs, 2)
    assert(codes.count() == embs.count(), "every vector must be encoded")
    import org.apache.spark.sql.functions.{size => asize}
    assert(codes.filter(asize(col("codes")) =!= Ann.PqSubspaces).count() == 0)
    val codeRange = codes.select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(codeRange.getInt(0) >= 0 && codeRange.getInt(1) < Ann.PqCodes)
    // codebook: per subspace at most K centroids, every code references one
    assert(cent.groupBy("m").count()
      .filter(col("count") > Ann.PqCodes).count() == 0)

    val res = Ann.annPq(embs, col("vec_id") < 3, 5, 2).cache()
    assert(res.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    assert(res.groupBy("probe_id").count().filter(col("count") =!= 5).count() == 0)
    // ADC distance non-decreasing in rank per probe
    val byProbe = res.groupBy("probe_id")
      .agg(max(when(col("rank") === 1, col("adc"))).as("a1"),
        max(when(col("rank") === 5, col("adc"))).as("a5"))
    assert(byProbe.filter(col("a1") > col("a5")).count() == 0)
    // the reranked true cosine can never beat the brute-force optimum
    val brute = Ann.knnBrute(embs, col("vec_id") < 3, 1)
      .select(col("probe_id"), col("cos").as("bc"))
    val top = res.filter(col("rank") === 1)
      .select(col("probe_id"), col("cos").as("pc"))
    assert(top.join(brute, "probe_id").filter(col("pc") > col("bc")).count() == 0)
    Caches.release(res)
  }

  test("SQ8: sqd monotone in rank; rerank bounded by brute; duplicate ranks first") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Ann.annSq8(embs, col("vec_id") < 3, 5).cache()
    assert(res.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    assert(res.groupBy("probe_id").count().filter(col("count") =!= 5).count() == 0)
    // quantized distance non-decreasing in rank per probe
    val byProbe = res.groupBy("probe_id")
      .agg(max(when(col("rank") === 1, col("sqd"))).as("d1"),
        max(when(col("rank") === 5, col("sqd"))).as("d5"))
    assert(byProbe.filter(col("d1") > col("d5")).count() == 0)
    // the reranked true cosine can never beat the brute-force optimum
    val brute = Ann.knnBrute(embs, col("vec_id") < 3, 1)
      .select(col("probe_id"), col("cos").as("bc"))
    val top = res.filter(col("rank") === 1)
      .select(col("probe_id"), col("cos").as("pc"))
    assert(top.join(brute, "probe_id").filter(col("pc") > col("bc")).count() == 0)
    Caches.release(res)
    // an exact duplicate (vec 0 cloned as id 10007) shares the probe's
    // codes, so its per-dim residual is the probe's own in-cell offset
    // r_d ∈ [0, rng) — near-minimal in every dimension. Asymmetric SQ8
    // doesn't PROVE rank 1 (a ceiling-side code can undercut a large
    // offset in one dim), but on this deterministic fixture the clone
    // wins outright; locked as a recall regression check.
    val dup = embs.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(10007L))
    val res2 = Ann.annSq8(embs.unionByName(dup), col("vec_id") === 0, 3)
    val first = res2.filter(col("rank") === 1).head()
    assert(first.getAs[Long]("neighbor_id") == 10007L,
      s"exact duplicate must rank first, got $first")
  }

  test("IVF-SQ8: neighbors come from the probe's own list; rerank bounded by brute") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Ann.annIvfSq8(embs, col("vec_id") < 3, 5, 4, 2).cache()
    assert(res.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    assert(res.groupBy("probe_id").count().filter(col("count") =!= 5).count() == 0)
    // list containment: every neighbor's trained cluster equals the
    // probe's assigned cluster — the IVF contract the sqd scan relies on
    val clusters = Ann.kmeansClusters(embs, 4, 2)
      .withColumnRenamed("vec_id", "neighbor_id")
    assert(res.join(clusters, "neighbor_id")
      .filter(col("cluster") =!= col("assigned_cluster")).count() == 0,
      "a neighbor came from outside the probe's inverted list")
    // quantized distance non-decreasing in rank per probe
    val byProbe = res.groupBy("probe_id")
      .agg(max(when(col("rank") === 1, col("sqd"))).as("d1"),
        max(when(col("rank") === 5, col("sqd"))).as("d5"))
    assert(byProbe.filter(col("d1") > col("d5")).count() == 0)
    // the reranked true cosine can never beat the brute-force optimum
    val brute = Ann.knnBrute(embs, col("vec_id") < 3, 1)
      .select(col("probe_id"), col("cos").as("bc"))
    val top = res.filter(col("rank") === 1)
      .select(col("probe_id"), col("cos").as("pc"))
    assert(top.join(brute, "probe_id").filter(col("pc") > col("bc")).count() == 0)
    Caches.release(res)
  }

  test("IVF-SQ8 multi-probe: candidate superset never worsens the quantized top-1") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // same (full-train) model in both runs, so p=2 scans a strict
    // superset of p=1's candidates ⇒ per-probe min sqd can only drop
    val p1 = Ann.annIvfSq8(embs, col("vec_id") < 3, 1, 4, 2)
      .select(col("probe_id"), col("sqd").as("s1"))
    val p2 = Ann.annIvfSq8(embs, col("vec_id") < 3, 1, 4, 2,
        probes = 2)
      .select(col("probe_id"), col("sqd").as("s2"))
    assert(p1.join(p2, "probe_id").filter(col("s2") > col("s1")).count() == 0)
    // sampled training produces a DIFFERENT (but valid) model: the
    // production config still returns a full result set per probe
    val prod = Ann.annIvfSq8(embs, col("vec_id") < 3, 5, 4, 2,
      600000L, 2)
    assert(prod.groupBy("probe_id").count()
      .filter(col("count") =!= 5).count() == 0)
  }

  test("pipeline storage hygiene: pair ops release their corpus caches") {
    // each pairs op stages corpus-scale frames (signatures/postings)
    // internally; after it returns, only the materialized pair-sized
    // result may remain in storage — and releasing that empties it
    def persisted = spark.sparkContext.getPersistentRDDs.size
    spark.sqlContext.clearCache() // isolate from other suites' .cache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    for ((name, make) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("nearDupPairs", () => Dedup.nearDupPairs(docs, 0.7)),
      ("simhashPairs", () => Dedup.simhashPairs(docs, 3, 4)),
      ("ngramJaccardPairs", () => Dedup.ngramJaccardPairs(docs, 4, 3, 0.5)))) {
      val out = make()
      assert(persisted == 1, s"$name left corpus-scale caches behind")
      Caches.release(out)
      assert(persisted == 0, s"$name result blocks not releasable")
    }
    // the composed corpus filter releases its staging internally and
    // returns a materialized result (distributed loser anti-join — no
    // driver collect), releasable like the pair ops
    val kept = CorpusFilter.kept(docs, 0.7)
    assert(kept.count() > 0)
    assert(persisted == 1, "corpus filter should hold only its result")
    Caches.release(kept)
    assert(persisted == 0, "corpus filter result blocks not releasable")
    // the data card: staging + flag frames released, card materialized
    val card = CorpusFilter.dataCard(docs, 0.7)
    assert(card.count() > 0)
    assert(persisted == 1, "data card should hold only its result")
    Caches.release(card)
    assert(persisted == 0, "data card result blocks not releasable")
    // the pl_g1 composition shape: pagerank is eager and releases its
    // edge checkpoint internally; pairs release once ranks exist
    val pr = {
      val pairs = Dedup.nearDupPairs(docs, 0.7)
      try Graph.pagerankScaled(pairs.select("doc1", "doc2"), 3, 1000000L)
      finally Caches.release(pairs)
    }
    assert(pr.count() > 0)
    assert(persisted == 1, "pl_g1 shape should hold only the rank result")
    Caches.release(pr)
    assert(persisted == 0, "pagerank result blocks not releasable")
    // the pl_d3 composition shape: pairs released once clusters exist
    val clusters = {
      val pairs = Dedup.nearDupPairs(docs, 0.7)
      try Dedup.dupClusters(pairs) finally Caches.release(pairs)
    }
    assert(clusters.count() > 0)
    assert(persisted == 1, "pl_d3 shape should hold only the cluster result")
    Caches.release(clusters)
    assert(persisted == 0)
    // dupClusters: result is materialized, all round state released
    val cl = Dedup.dupClusters(Seq((1L, 2L), (2L, 3L)).toDF("doc1", "doc2"))
    assert(cl.count() == 3)
    assert(persisted == 1, "dupClusters should hold only its result")
    Caches.release(cl)
    assert(persisted == 0)
    // the pl_p2 export shape: chunk table materialized, dedup staging
    // released inside the entry, result releasable like the pair ops
    val chunks = graft.queries.PipelineQueries
      .queries("pl_p2_training_chunks")(spark, "/root/testdata/sf0.001")
    assert(chunks.count() > 0)
    assert(persisted == 1, "pl_p2 should hold only its chunk result")
    Caches.release(chunks)
    assert(persisted == 0, "pl_p2 result blocks not releasable")
    // kmvDistinct estimate-only (production) path: one action, so it
    // must not persist the distinct-cardinality-sized hash frame
    val est = Sketches.kmvDistinct(docs,
      TextOps.hash60(concat(lit("k|"), col("text"))), 64, withExact = false)
    assert(est.count() == 1)
    assert(persisted == 0, "kmv estimate-only path must not persist")
  }

  test("language id: perfect on a corpus with distinctive vocabularies") {
    // Each lang has its own vocabulary plus one shared token: profile
    // scoring must recover every label. (The driver's synthetic corpus
    // shares ONE vocabulary across langs — zero tokens are
    // lang-exclusive — so accuracy there is meaningless by construction;
    // the oracle entry pl_t3_lang_id checks implementation equality.)
    val df = Seq(
      (1L, "en", "cat dog bird shared"), (2L, "en", "dog bird fish shared"),
      (3L, "fr", "chat chien oiseau shared"), (4L, "fr", "chien oiseau poisson shared"),
      (5L, "de", "katze hund vogel shared"), (6L, "de", "hund vogel fisch shared"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.languageId(df)
    assert(out.count() == 6)
    assert(out.filter(col("pred_lang") =!= col("lang")).count() == 0)
  }

  test("weighted sample: degenerate ppms, nesting, and uniform equivalence") {
    val nDocs = docs.count()
    // ppm 0 keeps nothing; ppm 1e6 keeps everything
    assert(Sampling.weighted(docs, col("doc_id"), lit(0L)).count() == 0)
    assert(Sampling.weighted(docs, col("doc_id"), lit(1000000L)).count() == nDocs)
    // monotone in the weight: 300k survivors nest inside 700k survivors
    val lo = Sampling.weighted(docs, col("doc_id"), lit(300000L))
      .select("doc_id").as[Long].collect().toSet
    val hi = Sampling.weighted(docs, col("doc_id"), lit(700000L))
      .select("doc_id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
    // constant weight with the uniform salt IS the uniform sample
    val u = Sampling.uniform(docs, col("doc_id"), 250000L)
      .select("doc_id").as[Long].collect().toSet
    val w = Sampling.weighted(docs, col("doc_id"), lit(250000L), salt = "smp")
      .select("doc_id").as[Long].collect().toSet
    assert(u == w)
  }

  test("token budget mix: greedy prefix fill in draw order, per-group budgets") {
    val df = docs.withColumn("n_tokens",
      size(split(col("text"), " ")).cast("long"))
    // replay the draw order in the test and fold the prefix rule by hand
    val ordered = df
      .withColumn("_d", Sampling.draw("mix", col("doc_id")))
      .select("source", "doc_id", "_d", "n_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (src, rows) => src -> rows.sortBy(r => (r._3, r._2)) }
    def expected(budget: String => Long): Map[Long, Long] =
      ordered.toSeq.flatMap { case (src, rows) =>
        var cum = 0L
        rows.toSeq.flatMap { case (_, id, _, nt) =>
          val keep = if (cum < budget(src)) Some(id -> cum) else None
          cum += nt
          keep
        }
      }.toMap
    val got = Sampling.tokenBudgetMix(df, col("doc_id"), col("source"),
      col("n_tokens"), Map("src1" -> 120L), 60L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
    assert(got == expected(s => if (s == "src1") 120L else 60L))
    // zero budget admits nothing; huge budget admits everything
    assert(Sampling.tokenBudgetMix(df, col("doc_id"), col("source"),
      col("n_tokens"), Map.empty, 0L).count() == 0)
    assert(Sampling.tokenBudgetMix(df, col("doc_id"), col("source"),
      col("n_tokens"), Map.empty, 1000000L).count() == docs.count())
    // bucket-count INVARIANCE (r15: the count is scale-aware, so it
    // will differ between local[32] and a cluster session — cum_before
    // must not): bucket refines draw order for any divisor of 1e6
    for (b <- Seq(8, 500, 15625)) {
      val alt = Sampling.tokenBudgetMix(df, col("doc_id"), col("source"),
        col("n_tokens"), Map("src1" -> 120L), 60L, buckets = b)
        .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
      assert(alt == got, s"buckets=$b changed the admitted set/cum_before")
    }
    // non-divisor bucket counts are rejected, not silently misbucketed
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetMix(df, col("doc_id"), col("source"),
        col("n_tokens"), Map.empty, 60L, buckets = 7)
    }
  }

  test("bm25: hand-computed rational scores and ranking") {
    val df = Seq((1L, "apple banana"), (2L, "apple apple cherry"),
      (3L, "banana banana banana")).toDF("doc_id", "text")
    // the production rounding rule (Spark round = HALF_UP on the
    // decimal string), NOT math.rint (HALF_EVEN) — an expected value
    // on an exact half at the 6th decimal would otherwise flake
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // two-quotient form: c = (idfNum/idfDen) * (tfNum/tfDen)
    def bm(idfNum: Long, idfDen: Long, tfNum: Long, tfDen: Long): Double =
      idfNum.toDouble / idfDen * (tfNum.toDouble / tfDen)
    // N=3, total=8. apple: df=2 → idf=3/5. doc1 tf=1 dl=2; doc2 tf=2 dl=3.
    //   doc1: (3/5)·(22·1·8 / (10·1·8 + 24 + 9·2·3)) = (3/5)·(176/158)
    //   doc2: (3/5)·(22·2·8 / (160 + 24 + 81))       = (3/5)·(352/265)
    val r1 = Retrieval.bm25TopK(df, Seq(1L -> Seq("apple")), 10)
      .orderBy("rank").collect()
    assert(r1.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 1L))
    assert(r1(0).getAs[Double]("score") == r6(bm(3, 5, 352, 265)))
    assert(r1(1).getAs[Double]("score") == r6(bm(3, 5, 176, 158)))
    // two-term query: contributions add in term order; doc2 matches both
    //   cherry: df=1 → idf=5/3; tf-part = 176/(80+24+81) = 176/185
    val r2 = Retrieval.bm25TopK(df, Seq(2L -> Seq("apple", "cherry")), 10)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(r2.getAs[Long]("n_terms_matched") == 2L)
    assert(r2.getAs[Double]("score") ==
      r6(bm(3, 5, 352, 265) + bm(5, 3, 176, 185)))
    assert(r2.getAs[Long]("rank") == 1L)
  }

  test("mmr: redundancy penalty demotes an exact-duplicate candidate") {
    // probe p=[1,0,0]; v1=v2 identical (sim=1); v3 lower-rel but
    // diverse. rel1=rel2=0.7, rel3=0.5, sim(3,1)=0.3:
    //   pick1 = v1 (rel tie -> smaller id)
    //   pick2: mmr(2)=0.7*0.7-0.3*1.0=0.19 < mmr(3)=0.7*0.5-0.3*0.3=0.26
    //   -> v3 despite v2's higher relevance; pick3 = v2
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.7f, 0.7141f, 0.0f)),
      (2L, Array(0.7f, 0.7141f, 0.0f)),
      (3L, Array(0.5f, -0.07f, 0.8632f))).toDF("vec_id", "embedding")
    val r = Ann.mmrTopK(df, col("vec_id") === 0L, 3, 3)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 3L, 2L))
  }

  test("semantic dedup: exactly the same-cluster restriction of exact pairs") {
    val pairs = Dedup.semanticDedupPairs(vecs, 8, 2, 0.45)
      .select("vec1", "vec2").as[(Long, Long)].collect().toSet
    val clusters = Ann.kmeansClusters(vecs, 8, 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val exact = Dedup.embedNearDup(vecs, 0.45)
      .select("vec1", "vec2").as[(Long, Long)].collect().toSet
    assert(pairs == exact.filter { case (a, b) => clusters(a) == clusters(b) })
    assert(pairs.nonEmpty || exact.isEmpty)
  }

  test("hier assignment: b=1 and b=k reduce to the flat quantized argmin; pairs = same-hier-cluster exact pairs") {
    // b=1: one coarse cell, stage 2 argmins over ALL fine children;
    // b=k: every fine centroid is coarse, stage 1 IS the flat argmin
    // (each parents to itself at distance 0) — both must equal the
    // brute-force quantized-centroid assignment
    val b1 = Ann.hierAssign(vecs, 8, 1, 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val bk = Ann.hierAssign(vecs, 8, 8, 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(b1 == bk)
    // and the pair set is exactly the same-hier-cluster restriction
    // of the exact cosine pairs (the d14 invariant, hier clusters)
    val clusters = Ann.hierAssign(vecs, 8, 3, 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val pairs = Dedup.semanticDedupPairsHier(vecs, 8, 3, 2, 0.45)
      .select("vec1", "vec2").as[(Long, Long)].collect().toSet
    val exact = Dedup.embedNearDup(vecs, 0.45)
      .select("vec1", "vec2").as[(Long, Long)].collect().toSet
    assert(pairs == exact.filter { case (a, b) => clusters(a) == clusters(b) })
  }

  test("a new centroid model reuses the compiled routing classes") {
    // two disjoint halves of the corpus train two different centroid
    // tables; read through identical plans (only the path differs),
    // so the second model must compile nothing: the routing kernel's
    // source carries no centroid value
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.DataFrame
    val dir = "/tmp/graft_test/codegen_reuse"
    val halves = Seq(0, 1).map { r =>
      vecs.filter(col("vec_id") % 2 === r)
        .write.mode("overwrite").parquet(s"$dir/half$r")
      spark.read.parquet(s"$dir/half$r")
    }
    def compiled(df: DataFrame): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      df.collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    for ((what, model) <- Seq[(String, DataFrame => DataFrame)](
        "hierAssign" -> (v => Ann.hierAssign(v, 8, 3, 2, probes = 2,
          trainedCoarse = true)),
        "kmeansClusters" -> (v => Ann.kmeansClusters(v, 8, 2)))) {
      compiled(model(halves(0)))
      val again = compiled(model(halves(1)))
      assert(again == 0, s"$what recompiled $again classes for a new model")
    }
  }

  test("bigram LM: hand-computed corpus counts, common/rare rules, no-bigram docs") {
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    // corpus: c(a,b)=3, c(b,a)=1, c(b,c)=1; contexts: c(a·)=3, c(b·)=2
    val r = TextOps.bigramLmScores(df).orderBy("doc_id").collect()
    assert(r.length == 2, "single-token doc must have no row")
    assert(r(0).getAs[Long]("n_bigrams") == 3)
    assert(r(0).getAs[Long]("n_common") == 3) // 5*3>=3, 5*1>=2, 5*3>=3
    assert(r(0).getAs[Long]("n_rare") == 1)   // (b,a) occurs once
    assert(r(0).getAs[Double]("common_ratio") == 1.0)
    assert(r(1).getAs[Long]("n_bigrams") == 2)
    assert(r(1).getAs[Long]("n_rare") == 1)   // (b,c)
  }

  test("kmv jaccard: exact on sets the sketch covers, zero on disjoint") {
    def items(xs: String*) = xs.toDF("tok")
    val h = TextOps.hash60(concat(lit("t|"), col("tok")))
    val r = Sketches.kmvJaccard(
      items("a", "b", "c", "b"), items("b", "c", "d"), h, 256).collect()(0)
    assert(r.getAs[Long]("k_eff") == 4L)      // |union| < k: full coverage
    assert(r.getAs[Long]("n_both_k") == 2L)
    assert(r.getAs[Double]("jaccard_est") == 0.5)
    assert(r.getAs[Long]("n_inter_exact") == 2L)
    assert(r.getAs[Long]("n_union_exact") == 4L)
    assert(r.getAs[Double]("jaccard_exact") == 0.5)
    val d = Sketches.kmvJaccard(
      items("a", "b"), items("x", "y"), h, 16).collect()(0)
    assert(d.getAs[Long]("n_both_k") == 0L)
    assert(d.getAs[Double]("jaccard_est") == 0.0)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ms.MsTables
import graft.ops.{Bda, Chunking, Flags, Timechannel}
import graft.pipeline.{Ann, Dedup}

/** Physical-plan regression guards for the scale properties DESIGN.md
  * claims: fact-scan counts, no single-partition exchanges on fact
  * paths, and no all-pairs joins in the sublinear dedup/ANN paths.
  * A plan regression fails the suite instead of waiting for a human to
  * re-read an explain dump.
  */
class PlanShapeSpec extends SparkSpec {
  import PlanShapeSpec._

  private def plan(df: DataFrame): String = JobProbe.planText(df.queryExecution)

  private def mainScans(p: String): Int = p.linesIterator
    .count(l => l.contains("FileScan") && l.contains("fixtures/ms/main"))

  private def assertNoAllPairs(p: String, what: String): Unit = {
    assert(!p.contains("CartesianProduct"), s"$what plans a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"$what plans a nested-loop join (all-pairs)")
  }

  private def assertNoGlobalSort(p: String, what: String): Unit =
    assert(!p.contains("Exchange SinglePartition"),
      s"$what funnels the fact table through one partition")

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("timechannel averaging: 1 main-table scan, no global funnel") {
    // the plan pass ran at construction; its t0 joins as a local relation
    val p = plan(Timechannel.averagedMain(MsTables.main(spark), tcArgs))
    assert(mainScans(p) == 1, s"expected the averaging pass only, got:\n$p")
    assertNoGlobalSort(p, "timechannel")
  }

  test("BDA averaging: 1 main-table scan, no global funnel") {
    // the plan pass ran at construction; the per-baseline sizing and t0
    // it yields join as local relations
    val p = plan(Bda.averagedMain(MsTables.main(spark), MsTables.spw(spark),
      MsTables.ddid(spark), Bda.Args()))
    assert(mainScans(p) == 1, s"expected the averaging pass only, got:\n$p")
    assertNoGlobalSort(p, "bda")
  }

  test("the plan pass is one narrow scan: no Exchange, no aggregate, no window") {
    // a child session that prints the scan's ReadSchema untruncated
    val s = spark.newSession()
    s.conf.set("spark.sql.maxMetadataStringLength", 100000L)
    val sel = Flags.select(MsTables.main(s), tcArgs)
    val (_, probe) = JobProbe(s)(Chunking.planStats(sel))
    val passes = probe.plans.collect { case ("plan pass", p) => p }
    val p = passes.mkString("\n")
    assert(passes.size == 1, s"expected one plan-pass execution, got:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Aggregate") && !p.contains("Window"),
      s"the plan pass is not narrow:\n$p")
    assert(mainScans(p) == 1, s"expected one main-table scan:\n$p")
    // it decodes no visibility-sized column (FLAG_ROW is a field of its own)
    val read = p.linesIterator.filter(l => l.contains("FileScan") && l.contains("fixtures/ms/main"))
      .flatMap(l => "ReadSchema: (struct<.*>)".r.findFirstMatchIn(l).map(_.group(1)))
      .map(org.apache.spark.sql.types.DataType.fromDDL(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet)
      .toList
    assert(read.size == 1, s"expected the main scan's ReadSchema:\n$p")
    val heavy = Set("FLAG", "WEIGHT", "DATA", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM") & read.head
    assert(heavy.isEmpty, s"the plan pass reads $heavy (ReadSchema fields ${read.head})")
  }

  test("BDA write plan: 1 main-table scan, no runtime bloom-filter subquery") {
    // a join side whose size estimate is far above its real size (a
    // checkpoint keeps the estimate of the plan it replaced) attracts
    // bloom-filter subqueries that rescan main
    val p = plan(bdaWritePlan(spark))
    assert(mainScans(p) == 1, s"expected one main-table scan:\n$p")
    assert(!p.contains("bloom_filter") && !p.contains("might_contain"),
      s"the BDA write plan carries a runtime bloom filter:\n$p")
  }

  test("BDA's broadcast bin relation reports its real size: under 1 MB") {
    val bytes = bdaSizing(spark)._2.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes < 1000000, s"the bin relation's size estimate is $bytes B")
  }

  test("BDA channelisations read the sizing relation: 0 main-table scans") {
    // Bda.run sizes once, from the plan pass: the channelisations it
    // collects are a distinct over the local per-baseline relation,
    // never a fact-table re-plan
    val p = plan(bdaSizing(spark)._2)
    assert(mainScans(p) == 0, s"channelisations re-scan main:\n$p")
  }

  /** One averaging shuffle: with no cross-action persist, the proof that
    * it runs ONCE is exactly two graft_vis_avg ObjectHashAggregate
    * nodes (partial + final; the channelisations read the per-baseline
    * sizing, never the averaged table). It is the write path's
    * only Exchange apart from broadcasts, and it routes by the group
    * index `_PID`, so the output layout needs no exchange of its own.
    */
  private def assertOneAveragingShuffle(p: String): Unit = {
    val aggs = p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") && l.contains("graft_vis_avg"))
    assert(aggs == 2, s"expected 2 graft_vis_avg aggregate nodes, got $aggs:\n$p")
    val exchanges = p.linesIterator.filter(l => "\\bExchange\\b".r.findFirstIn(l).isDefined).toList
    assert(exchanges.size == 1 && exchanges.head.contains("direct_shuffle_partition_id(_PID"),
      s"expected one Exchange, routed by _PID, got ${exchanges.size}:\n$p")
  }

  /** The fused fixvis adds only broadcast lookups to the write plan:
    * the phase-centre (FIELD_ID) and both position (ANTENNA1/2) joins
    * are BroadcastHashJoins, and nothing adds a sort-merge join, a Scala
    * UDF or a global sort.
    */
  private def assertFusedUvwLookups(df: DataFrame, what: String): Unit = {
    val p = plan(df)
    Seq("FIELD_ID", "ANTENNA1", "ANTENNA2").foreach { k =>
      assert(s"BroadcastHashJoin \\[$k#\\d+\\], \\[$k#\\d+\\]".r.findFirstIn(p).isDefined,
        s"$what: the $k UVW lookup is not a broadcast join:\n$p")
    }
    assert(!p.contains("SortMergeJoin"), s"$what plans a sort-merge join:\n$p")
    def udfsIn(e: org.apache.spark.sql.catalyst.expressions.Expression) = e.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u }
    val udfs = df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(udfsIn) }.flatten ++
      org.apache.spark.sql.GraftSqlBridge.routedPlans(df.queryExecution.analyzed)
        .flatMap(_.collect { case n => n.expressions.flatMap(udfsIn) }.flatten)
    assert(udfs.isEmpty, s"$what evaluates Scala UDFs: $udfs")
    assertNoGlobalSort(p, what)
    assert(!p.contains("rangepartitioning") && !"Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isDefined,
      s"$what plans a global sort:\n$p")
  }

  test("BDA write plan: one averaging shuffle (one partial+final graft_vis_avg pair)") {
    // The full output main table Bda.run hands to the writer — averaging
    // + remap + fused fixvis + output layout.
    assertOneAveragingShuffle(plan(bdaWritePlan(spark)))
  }

  test("fused write plans: one averaging shuffle, UVW lookups broadcast, no SMJ/UDF/global sort") {
    val tc = tcWritePlan(spark)
    assertOneAveragingShuffle(plan(tc))
    assertFusedUvwLookups(tc, "timechannel write")
    assertFusedUvwLookups(bdaWritePlan(spark), "bda write")
  }

  test("FIELD_ID selection on a written output MS is a partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_shape").toFile
    try {
      val out = s"${dir.getAbsolutePath}/tc_out"
      Timechannel.run(spark, graft.ms.SyntheticMs.root, out, Timechannel.Args(
        timeBinSecs = 60000.0, chanBinSize = 4,
        dataCols = Seq("DATA" -> "DATA"), force = true, validate = false))
      val p = plan(spark.read.parquet(s"$out/main")
        .filter(org.apache.spark.sql.functions.col("FIELD_ID") === 0))
      // the FileScan line also lists DataFilters: read the
      // PartitionFilters list itself
      val partFilters = """PartitionFilters: \[([^\]]*)\]""".r
        .findAllMatchIn(p).map(_.group(1)).mkString(" ")
      assert(partFilters.contains("FIELD_ID"),
        s"field selection is not partition-pruned:\n$p")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  // The public pairs ops return an eagerly-materialized scan (storage
  // hygiene — see Caches), whose plan shows no joins; audit the LAZY
  // plan builders underneath, then drop their staged (unmaterialized)
  // cache marks.
  test("MinHash-LSH dedup never plans an all-pairs join") {
    val (out, sigs, _) = Dedup.nearDupPairsPlan(docs, 0.7, 0)
    try assertNoAllPairs(plan(out), "nearDupPairs")
    finally sigs.unpersist(blocking = false)
  }

  test("capped MinHash-LSH path (the default) never plans an all-pairs join") {
    // the default-on bucket guard adds a size aggregate + anti-join;
    // the candidate join must stay bucket-keyed and the plan must stay
    // job-free at construction time (the round-9 first cut ran an
    // eager count here and serialized every composed pipeline)
    val (out, sigs, over) = Dedup.nearDupPairsPlan(docs, 0.7,
      Dedup.DefaultMaxBucketSize)
    try {
      assertNoAllPairs(plan(out), "nearDupPairs(capped)")
      assert(over.isDefined)
    } finally sigs.unpersist(blocking = false)
  }

  test("cross-corpus LSH match never plans a corpus x reference product") {
    val corpus = docs.filter(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(5)) =!=
        org.apache.spark.sql.functions.lit(0))
    val ref = docs.exceptAll(corpus)
    val (out, cs, rs, _) = Dedup.crossCorpusPlan(corpus, ref, 0.7, 0)
    try {
      val p = plan(out)
      assertNoAllPairs(p, "crossCorpusMatches")
      // r16 (VERDICT r15 #6): both signature sides are MATERIALIZED,
      // so the match plan reads the two narrow checkpoints — zero
      // parquet re-scans of either corpus, composition-safe by
      // construction (persist() would not substitute into composed
      // plans; the keptPlan lesson).
      assert(!p.contains("FileScan"),
        s"crossCorpus match re-scans a corpus instead of its signature checkpoint:\n$p")
    } finally {
      graft.pipeline.Caches.release(cs)
      graft.pipeline.Caches.release(rs)
    }
  }

  test("n-gram Jaccard inverted index never plans an all-pairs join") {
    val (out, staged) = Dedup.ngramJaccardPairsPlan(docs, 4, 3, 0.5)
    try assertNoAllPairs(plan(out), "ngramJaccardPairs")
    finally staged.foreach(_.unpersist(blocking = false))
  }

  test("n-gram Jaccard postings filter never forces a broadcast") {
    // The under-cap gram set is NOT vocabulary-bounded at corpus scale —
    // the plan must leave the join strategy to AQE (shuffle join legal,
    // broadcast only when the set is measured small), never hint it.
    val (out, staged) = Dedup.ngramJaccardPairsPlan(docs, 4, 3, 0.5)
    try {
      val logical = out.queryExecution.analyzed.toString()
      assert(!logical.contains("ResolvedHint"),
        s"ngramJaccardPairs carries a forced join-strategy hint:\n$logical")
    } finally staged.foreach(_.unpersist(blocking = false))
  }

  test("languageId scoring join never forces a profile broadcast") {
    // lang×vocab is unbounded on crawl corpora: AQE may demote the
    // scoring join to broadcast when the profile measures small, but
    // the plan must not force it
    val logical = graft.pipeline.TextOps.languageId(docs)
      .queryExecution.analyzed.toString()
    assert(!logical.contains("ResolvedHint"),
      s"languageId carries a forced join-strategy hint:\n$logical")
  }

  test("decontamination: gram-keyed equi-join, no cartesian, no forced broadcast") {
    // the benchmark gram side must not be force-broadcast (a large
    // eval set shuffles; AQE demotes when it measures small)
    val out = Dedup.contaminated(docs, docs.limit(10), 4)
    assertNoAllPairs(plan(out), "contaminated")
    assert(!out.queryExecution.analyzed.toString().contains("ResolvedHint"),
      "contaminated carries a forced join-strategy hint")
  }

  test("simhash pigeonhole pairing never plans an all-pairs join") {
    val (out, sh, _) = Dedup.simhashPairsPlan(docs, 3, 4)
    try assertNoAllPairs(plan(out), "simhashPairs")
    finally sh.unpersist(blocking = false)
  }

  test("embedding near-dup LSH path never plans an all-pairs join") {
    val p = plan(Dedup.embedNearDup(embs, 0.99, exact = false))
    assertNoAllPairs(p, "embedNearDup(exact=false)")
  }

  test("ANN LSH and IVF never plan an all-pairs join over the corpus") {
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    assertNoAllPairs(plan(Ann.annLsh(embs, probe, 5)), "annLsh")
    // annIvf's assignment stage is probes × centroid-table by design —
    // the centroid side is broadcast and bounded by #labels, so a
    // BroadcastNestedLoopJoin there is fine; what must never appear is
    // an unbroadcast cartesian over the corpus.
    val ivf = plan(Ann.annIvf(embs, probe, 5))
    assert(!ivf.contains("CartesianProduct"), "annIvf plans a cartesian join")
  }

  test("filtered ANN pushes the metadata predicate into the parquet scan") {
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val label2 = org.apache.spark.sql.functions.col("label") ===
      org.apache.spark.sql.functions.lit(2)
    val p = plan(Ann.knnBruteFiltered(embs, probe, label2, 5))
    // the candidate-side scan must carry the label predicate as a
    // pushed filter — the whole point of filter-then-search is that
    // the corpus READ shrinks, not just the scored set
    val candScans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet")).toSeq
    assert(candScans.exists(_.contains("EqualTo(label,2)")),
      s"label predicate not pushed to any embeddings scan:\n${candScans.mkString("\n")}")
    // the probes join is non-equi vs a broadcast P-row side — the
    // intended brute shape (same as knnBrute); only an unbroadcast
    // cartesian over the corpus would be wrong
    assert(!p.contains("CartesianProduct"),
      "knnBruteFiltered plans a cartesian join")
  }

  test("PQ ADC: no unbroadcast cartesian, no single-partition funnel") {
    // the ADC scan is codes × broadcast(P probes-with-LUT) by design —
    // a BroadcastNestedLoopJoin against the tiny broadcast side is the
    // intended shape (same contract as annIvf's assignment); what must
    // never appear is an unbroadcast cartesian over the corpus or a
    // global funnel of the scored rows.
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val pq = plan(Ann.annPq(embs, probe, 5, 2))
    assert(!pq.contains("CartesianProduct"), "annPq plans a cartesian join")
    // Spark injects runtime bloom-filter subqueries (bloom_filter_agg
    // builds ARE a SinglePartition exchange over the tiny build side);
    // any OTHER single-partition exchange would be a fact funnel.
    val singles = pq.linesIterator.count(_.contains("Exchange SinglePartition"))
    val blooms = pq.linesIterator.count(_.contains("bloom_filter_agg"))
    assert(singles <= blooms,
      s"annPq funnels a fact path through one partition " +
        s"($singles single-partition exchanges vs $blooms bloom builds)")
  }

  test("SQ8 ANN: literal grid (no training joins), pruned code scan, no funnel") {
    // the min/max grid is collected at build time and inlined as
    // literals, so the RETURNED plan must contain no training
    // aggregation at all, and the scored path is codes ×
    // broadcast(probes) — same contract as annPq's ADC scan.
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val p = plan(Ann.annSq8(embs, probe, 5))
    assert(!p.contains("CartesianProduct"), "annSq8 plans a cartesian join")
    assert(p.contains("WindowGroupLimit"),
      s"annSq8 lost the WindowGroupLimit top-k pushdown:\n$p")
    assert(!p.contains("HashAggregate"),
      s"annSq8's returned plan re-runs grid training (grid must be literal):\n$p")
    // every embeddings scan is pruned to the two columns a stage needs
    // (vec_id+embedding); the fixture's payload columns never load
    val scans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet")).toSeq
    assert(scans.nonEmpty && scans.forall(!_.contains("label")),
      s"an SQ8 scan reads payload columns:\n${scans.mkString("\n")}")
    val singles = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    val blooms = p.linesIterator.count(_.contains("bloom_filter_agg"))
    assert(singles <= blooms,
      s"annSq8 funnels a fact path through one partition " +
        s"($singles single-partition exchanges vs $blooms bloom builds)")
  }

  test("IVF-SQ8: broadcast probe assignment, WindowGroupLimit, no cartesian") {
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val p = plan(Ann.annIvfSq8(embs, probe, 5, 4, 2))
    assert(!p.contains("CartesianProduct"), "annIvfSq8 plans a cartesian join")
    assert(p.contains("WindowGroupLimit"),
      s"annIvfSq8 lost the WindowGroupLimit top-k pushdown:\n$p")
    // the in-list scoring join is lists ⋈ broadcast(assigned probes) —
    // the corpus-bearing side must never shuffle for it
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"annIvfSq8's scoring join is not broadcast:\n$p")
  }

  test("hier-routed IVF-SQ8: zero-exchange routing, broadcast scoring, WindowGroupLimit") {
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val p = plan(Ann.annIvfSq8Hier(embs, probe, 5, 8, 3, 2,
      600000L, 2, trainedCoarse = true, listProbes = 2))
    assert(!p.contains("CartesianProduct"), "annIvfSq8Hier plans a cartesian join")
    assert(p.contains("WindowGroupLimit"),
      s"annIvfSq8Hier lost the WindowGroupLimit top-k pushdown:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"annIvfSq8Hier's scoring join is not broadcast:\n$p")
    // the corpus-list build must be a pure projection over the scan:
    // the only shuffle exchanges allowed are the lists-join build and
    // the per-probe top-k ranking — the routing itself adds NONE
    // (hierAssign's literal-argmin contract carried into the index)
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    // r16: the list build composes SQ8 encoding on top of the router's
    // corpus projection (no vec_id self-join), so the ONLY shuffle in
    // the whole query is the per-probe top-k ranking
    assert(shuffles <= 1,
      s"annIvfSq8Hier plans $shuffles shuffle exchanges " +
        s"(list build + routing must add none):\n$p")
  }

  test("k-means assignment is a zero-exchange literal-argmin projection") {
    // VERDICT r15 #1: every Lloyd round's assignment (and the model's
    // returned frame) must be a pure projection over ONE corpus scan —
    // the k-row centroid table is collected and inlined as literal
    // (d2, c_id) candidates, so no crossJoin(broadcast)+window argmin
    // (an Exchange of the exploded N×k frame) may reappear anywhere
    // between the scan and the assignment.
    val p = plan(Ann.kmeansClusters(embs, 8, 2))
    assert(!p.contains("Exchange"),
      s"kmeans assignment plans an Exchange (literal-argmin contract broken):\n$p")
    assert(!p.contains("Window"),
      s"kmeans assignment plans a Window argmin:\n$p")
    assert(!p.contains("Join"),
      s"kmeans assignment plans a join:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"kmeans assignment reads the corpus $scans times:\n$p")
  }

  test("PQ codes are a zero-exchange literal-argmin projection") {
    // r16: the per-round N×M-row groupBy(vec_id, m) assignment and the
    // final groupBy(vec_id) collect_list round-trip are gone — the
    // compressed corpus is one projection over one scan, codes via
    // array_min over the collected M×K codebook's literal candidates.
    val p = plan(Ann.pqModel(embs, 2)._1)
    assert(!p.contains("Exchange"),
      s"PQ codes plan an Exchange (literal-argmin contract broken):\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"PQ codes plan a window/join:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"PQ codes read the corpus $scans times:\n$p")
  }

  test("trained IVF (kmeans lists): one shuffle total — the per-probe top-k") {
    // the list table composes on top of the model's assignment
    // projection (no corpus self-join on vec_id), probe assignment is
    // a literal argmin, the scoring join broadcasts the probes — the
    // only exchange left is the top-k ranking
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val p = plan(Ann.annIvfKmeans(embs, probe, 5, 4, 2))
    assert(!p.contains("CartesianProduct"), "annIvfKmeans plans a cartesian join")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles <= 1,
      s"annIvfKmeans plans $shuffles shuffle exchanges:\n$p")
  }

  test("IVF-SQ8 sampled train: full-corpus assignment adds no exchange") {
    // the r15 scale-killer (VERDICT r15 #1): the sampled-train config's
    // full-corpus assignment was crossJoin(broadcast(cent)) + window —
    // an N×k-row Exchange. It must stay a literal-argmin projection:
    // one shuffle in the whole query (per-probe top-k).
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    val p = plan(Ann.annIvfSq8(embs, probe, 5, 4, 2, 600000L, 2))
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles <= 1,
      s"annIvfSq8 (sampled train) plans $shuffles shuffle exchanges:\n$p")
    // a regrown corpus-keyed argmin would plan a Window PARTITIONED by
    // vec_id alone — match the partition-spec list exactly (the legit
    // per-probe top-k window partitions by probe_id and only ORDERS by
    // vec_id, which this pattern does not touch). The old guard here
    // was `contains("Window.*vec_id")` — a literal substring that can
    // never occur in a plan dump, i.e. vacuously green (r16 review #3).
    val winByVecId = "\\], \\[vec_id#\\d+L?\\], \\[".r
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && winByVecId.findFirstIn(l).isDefined),
      s"annIvfSq8 re-grew a corpus-keyed (vec_id-partitioned) window argmin:\n$p")
    // prove the guard is NOT vacuous: a deliberately-built
    // vec_id-partitioned window must match the pattern
    val bad = plan(embs.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy("label"))))
    assert(bad.linesIterator.exists(l =>
        l.contains("Window") && winByVecId.findFirstIn(l).isDefined),
      s"the vec_id-window guard no longer matches the shape it forbids:\n$bad")
  }

  test("per-probe/per-stratum top-k plans WindowGroupLimit (partial top-k before the shuffle)") {
    // Load-bearing at 100 TB: the rank filter over
    // row_number().over(partitionBy(...)) must plan WindowGroupLimit —
    // per-partition top-k BEFORE the shuffle — or the ranking stage is
    // a full sort of P×corpus scored rows. Verified present on Spark
    // 4.1.2 (the .cast("bigint") does not defeat the pushdown; VERDICT
    // r11 #2); this locks it against refactors (e.g. rank() over a
    // derived expression, or filtering a further-transformed rank).
    val probe = org.apache.spark.sql.functions.col("vec_id") < 8
    for ((what, df) <- Seq(
        "knnBrute" -> Ann.knnBrute(embs, probe, 5),
        "annPq" -> Ann.annPq(embs, probe, 5, 2),
        "topKPerStratum" -> graft.pipeline.Sampling.topKPerStratum(
          docs, org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"), 10))) {
      val p = plan(df)
      assert(p.contains("WindowGroupLimit"),
        s"$what lost the WindowGroupLimit pushdown — top-k is a full sort:\n$p")
    }
  }

  test("bm25: WindowGroupLimit top-k, broadcast query table, no corpus self-join") {
    val p = plan(graft.pipeline.Retrieval.bm25TopK(docs,
      graft.queries.PipelineQueries.Bm25Queries, 10))
    assert(p.contains("WindowGroupLimit"),
      s"bm25 lost the per-query top-k pushdown:\n$p")
    assertNoAllPairs(p, "bm25TopK")
    assert(p.contains("BroadcastExchange"),
      s"bm25 query-term table not broadcast:\n$p")
  }

  test("weighted sample is a pure narrow filter; budget mix shuffles once on the group") {
    val nt = org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " ")).cast("long")
    val pw = plan(graft.pipeline.Sampling.weighted(
      docs, org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.lit(1000000L), nt * 12000L)))
    assert(!pw.contains("Exchange"),
      s"weighted sample should be shuffle-free:\n$pw")
    val pm = plan(graft.pipeline.Sampling.tokenBudgetMix(
      docs.withColumn("n_tokens", nt),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("source"),
      org.apache.spark.sql.functions.col("n_tokens"),
      Map("src1" -> 2000L), 1000L))
    // distributed prefix sum: ONE window shuffle keyed by
    // (group, bucket) — never a single chain per group — plus the
    // broadcast of the tiny offset table; no other exchange.
    val shuffles = pm.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"budget mix should carry exactly one window shuffle, got $shuffles:\n$pm")
    assert(pm.contains("BroadcastExchange"),
      s"budget mix offset table not broadcast:\n$pm")
    assert(pm.contains("_graft_bkt"),
      s"budget mix window is not bucketed (single chain per group):\n$pm")
    assertNoGlobalSort(pm, "tokenBudgetMix")
  }

  test("pl_p3 composition: bounded raw-corpus scans; post-checkpoint stages never re-read") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val corpus = docs.filter(pmod(col("doc_id"), lit(37L)) =!= 0L)
    val bench = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
    // the LAZY pre-checkpoint composition (what pl_p3 materializes
    // once): keptPlan eagerly checkpoints the narrow LSH-signature
    // frame (its own keeper-semi-join + shingle scans run as a
    // separate job, not in this plan), so the lazy plan may touch the
    // raw corpus only through the four declared stage scans — quality
    // projection, exact-md5 keeper, corpus 4-grams, bench 4-grams;
    // the whole near-dup subtree replays the signature checkpoint
    val (kept, sigs) = graft.pipeline.CorpusFilter.keptPlan(corpus, 0.7)
    val contam = graft.pipeline.Dedup.contaminated(corpus, bench, 4)
      .select("doc_id")
    val lazyClean = kept.select("doc_id", "source", "n_tokens", "text")
      .join(contam, Seq("doc_id"), "left_anti")
    val p = plan(lazyClean)
    val rawScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents.parquet"))
    assert(rawScans <= 6,
      s"pl_p3 pre-checkpoint composition re-scans the corpus ($rawScans):\n$p")
    // the post-checkpoint tail (mixture -> split -> chunk -> join)
    // must read ONLY the materialized intermediate — zero raw scans.
    // sigs is a lineage-truncated checkpoint: release only AFTER the
    // dependent plan is materialized (nothing left to recompute from)
    val clean = graft.pipeline.Caches.materialize(lazyClean)
    graft.pipeline.Caches.release(sigs)
    try {
      val mixed = graft.pipeline.Sampling.tokenBudgetMix(clean,
        col("doc_id"), col("source"), col("n_tokens"),
        Map("src1" -> 2000L, "src3" -> 400L), 1000L)
      val labeled = graft.pipeline.Sampling.splitLabels(mixed, col("doc_id"),
        Seq("train" -> 900000L, "val" -> 50000L, "test" -> 50000L))
      val chunks = graft.pipeline.TextOps.chunkTokens(
        labeled.select("doc_id", "text"), 32, 24)
      val tail = plan(chunks.join(
        labeled.select("doc_id", "source", "split", "cum_before"),
        Seq("doc_id")))
      assert(!tail.contains("documents.parquet"),
        s"pl_p3 post-checkpoint stage re-reads the raw corpus:\n$tail")
    } finally graft.pipeline.Caches.release(clean)
  }

  test("semantic dedup joins on the cluster key — never all-pairs over the corpus") {
    for ((what, df) <- Seq(
        "semanticDedupPairs" -> Dedup.semanticDedupPairs(embs, 8, 2, 0.45),
        "semanticDedupPairsHier" ->
          Dedup.semanticDedupPairsHier(embs, 8, 3, 2, 0.45, 600000L),
        "semanticDedupPairsHierMp" ->
          Dedup.semanticDedupPairsHier(embs, 8, 3, 2, 0.45, 600000L,
            probes = 2),
        "semanticDedupPairsHierTc" ->
          Dedup.semanticDedupPairsHier(embs, 8, 3, 2, 0.45, 600000L,
            probes = 2, trainedCoarse = true))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        s"$what plans a cartesian join:\n$p")
      // the one nested-loop allowed anywhere near this path is the
      // k/b-row centroid broadcast inside assignment; the PAIR join
      // itself must be a hash/merge join keyed by cluster
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
        s"$what pair join is not an equi-join on cluster:\n$p")
    }
    // the hierarchical ROUTING itself (r15): both coarse and fine
    // argmins are literal-array projections — the assignment plan
    // must be one embeddings scan with ZERO exchanges of any kind
    // (r13/r14 shipped crossJoin+window, ~2N√k shuffled rows) —
    // at single-probe AND multi-probe, random AND trained coarse
    for (p <- Seq(1, 2); tc <- Seq(false, true)) {
      val pr = plan(graft.pipeline.Ann.hierAssign(embs, 8, 3, 2,
        probes = p, trainedCoarse = tc))
      assert(!pr.contains("Exchange"),
        s"hierAssign p=$p tc=$tc routing shuffles (must be a pure projection):\n$pr")
      val embScans = pr.linesIterator.count(_.contains("FileScan"))
      assert(embScans <= 1,
        s"hierAssign p=$p tc=$tc routing re-scans the corpus ($embScans scans):\n$pr")
    }
  }

  test("bigram LM: keyed shuffles only, no all-pairs join, no global sort") {
    val p = plan(graft.pipeline.TextOps.bigramLmScores(docs))
    assertNoAllPairs(p, "bigramLmScores")
    assertNoGlobalSort(p, "bigramLmScores")
  }

  test("tfidf and span dedup: keyed shuffles only, no all-pairs join") {
    val pt = plan(graft.pipeline.TextOps.tfidfTopK(docs, 5))
    assertNoAllPairs(pt, "tfidfTopK")
    assertNoGlobalSort(pt, "tfidfTopK")
    val pd = plan(Dedup.spanDedup(docs, 8))
    assertNoAllPairs(pd, "spanDedup")
    assertNoGlobalSort(pd, "spanDedup")
  }

  test("repetition metrics are a shuffle-free narrow plan") {
    val pr = plan(graft.pipeline.TextOps.withRepetition(docs, 2))
    assert(!pr.contains("Exchange"),
      s"withRepetition must be a pure projection, got:\n$pr")
  }

  test("gram-derived entries prune the documents scan to (doc_id, text)") {
    import org.apache.spark.sql.functions._
    // the documents table carries lang/source/n_chars alongside text;
    // a gram pipeline that drags them to the scan reads the whole
    // table at 100 TB for a 2-column computation
    for ((what, df) <- Seq(
      ("pl_t7", graft.pipeline.TextOps.withRepetition(docs, 2)
        .select("doc_id", "n_grams")),
      ("pl_d10", graft.pipeline.Dedup.contaminated(
        docs, docs.filter(col("doc_id") % 37 === 0), 4)),
      ("pl_c2", graft.pipeline.TextOps.packSequences(docs, 128, 8)
        .select("doc_id", "shard", "seq_id")))) {
      val p = plan(df)
      assert(!p.contains("n_chars") && !p.contains("source"),
        s"$what scan not pruned to the columns it uses:\n$p")
    }
  }

  test("PII stats are a narrow scan-speed projection") {
    val p = plan(graft.pipeline.TextOps.withPiiStats(docs)
      .select("doc_id", "n_emails", "n_phones", "n_ssns", "has_pii"))
    assert(!p.contains("Exchange"),
      s"withPiiStats must be shuffle-free:\n$p")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"withPiiStats scan not pruned to doc_id+text:\n$p")
  }

  test("rarity scoring: keyed shuffles only; sole nested loop is the 1-row total broadcast") {
    val p = plan(graft.pipeline.TextOps.rarityScores(docs, 1))
    // the in-plan corpus total (ADVICE r9: no eager count at plan
    // construction) is attached as a broadcast scalar — that plans as
    // ONE BroadcastNestedLoopJoin over a single-row global aggregate
    // (O(rows·1)); any other nested loop here would be a fact-side
    // cartesian and must fail
    val nlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 1,
      s"rarityScores must plan at most the scalar-total nested loop:\n$p")
    assert(nlj == 0 || p.contains("output=[_total"),
      s"the only allowed nested loop is the 1-row corpus-total broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"rarityScores must not plan a cartesian product:\n$p")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"rarityScores scan not pruned to doc_id+text:\n$p")
  }

  test("pack spans: one shard-keyed exchange, bounded explode, no join") {
    // the per-sequence composition must cost exactly what packing
    // costs — the running-sum window's shard partitioning — plus a
    // narrow explode; a join back to the packing output would double
    // the shuffle at 100 TB
    val p = plan(graft.pipeline.TextOps.packSpans(docs, 128, 8))
    assert(!p.contains("Join"), s"packSpans must not plan a join:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"packSpans must reuse the single shard partitioning:\n$p")
    assert(p.contains("Generate"),
      s"packSpans should explode spans below the window output:\n$p")
  }

  test("sampling and chunking are shuffle-free narrow plans") {
    import org.apache.spark.sql.functions._
    val pu = plan(graft.pipeline.Sampling.uniform(docs, col("doc_id"), 250000L))
    assert(!pu.contains("Exchange"),
      s"uniform sample must be a pure scan-side filter, got:\n$pu")
    val ps = plan(graft.pipeline.Sampling.stratified(docs, col("doc_id"),
      col("lang"), Map("en" -> 200000L), 500000L))
    assert(!ps.contains("Exchange"),
      s"stratified sample must be a pure scan-side filter (literal rate " +
        s"map, no rate-table join), got:\n$ps")
    val pc = plan(graft.pipeline.TextOps.chunkTokens(docs, 32, 24))
    assert(!pc.contains("Exchange"),
      s"chunking must be narrow (stage tokens, bounded explode), got:\n$pc")
    val pv = plan(graft.pipeline.Sampling.splitLabels(docs, col("doc_id"),
      Seq("train" -> 900000L, "val" -> 50000L, "test" -> 50000L)))
    assert(!pv.contains("Exchange"),
      s"split assignment must be a narrow projection, got:\n$pv")
    val pr = plan(graft.pipeline.TextOps.redactTerms(docs, Seq("customer")))
    assert(!pr.contains("Exchange"),
      s"redaction must be a narrow projection, got:\n$pr")
  }

  test("bloom build and probe: equi-keyed joins only, no forced broadcast") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val bits = graft.pipeline.Sketches.bloomBits(
      customer.select(col("c_custkey")), col("c_custkey"))
    val out = graft.pipeline.Sketches.bloomProbe(
      events.select(col("user_id")), col("user_id"), bits)
    val p = plan(out)
    assertNoAllPairs(p, "bloomProbe")
    assert(!out.queryExecution.analyzed.toString().contains("ResolvedHint"),
      "bloom probe must not force a join strategy (AQE decides)")
  }

  test("cms heavy hitters: top-k is TakeOrdered, joins equi-keyed") {
    import org.apache.spark.sql.functions._
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val p = plan(graft.pipeline.Sketches.cmsHeavyHitters(toks, col("tok"), 20))
    assertNoAllPairs(p, "cmsHeavyHitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"cms top-k should be TakeOrdered, got:\n$p")
  }

  test("salted join: salt reaches the join keys, no forced strategy") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val out = graft.ops.SaltedJoin.join(
      events.select(col("event_id"), col("user_id")),
      customer.select(col("c_custkey"), col("c_name")),
      "user_id", "c_custkey", col("event_id"), 8)
    assert(plan(out).contains("_salt"),
      "salt column must participate in the physical join keys")
    val logical = out.queryExecution.analyzed.toString()
    assert(!logical.contains("ResolvedHint"),
      s"salted join carries a forced join-strategy hint:\n$logical")
  }

  test("k-means seeding has no single-partition exchange (TakeOrdered)") {
    val p = plan(Ann.kmeansClusters(embs, 4, 1))
    assertNoGlobalSort(p, "kmeansClusters")
  }

  test("sessionize and as-of join: one user-keyed shuffle, no join node") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = events.select(col("user_id"),
      graft.ops.EventOps.eventTs(col("ts")).as("TS"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val ps = plan(graft.ops.EventOps.sessionize(ev, 14400))
    assertNoGlobalSort(ps, "sessionize")
    val pa = plan(graft.ops.EventOps.asofAttribute(events, "click", "purchase"))
    assertNoGlobalSort(pa, "asofAttribute")
    assert(!pa.contains("Join"), "as-of composition must not plan a join")
    // funnel: N steps ride ONE user partitioning — windows + agg, no
    // self-joins of the fact table
    val pf = plan(graft.ops.EventOps.funnel(events,
      Seq("signup", "click", "purchase")))
    assertNoGlobalSort(pf, "funnel")
    assert(!pf.contains("Join"), "funnel composition must not plan a join")
    assert(pf.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"funnel should reuse one user partitioning (window + agg):\n$pf")
    // the conversion window is one extra predicate per window
    // projection — identical plan shape, no new Exchange
    val pw = plan(graft.ops.EventOps.funnel(events,
      Seq("signup", "click", "purchase"), Some(3600000000L)))
    assert(!pw.contains("Join"), "windowed funnel must not plan a join")
    assert(pw.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"windowed funnel must keep the single user partitioning:\n$pw")
    // retention: cohort day rides the user window (no join back to the
    // fact table), then one cell-keyed distinct aggregate
    val prt = plan(graft.ops.EventOps.retention(events, 7))
    assert(!prt.contains("Join"), "retention must not plan a join")
    assertNoGlobalSort(prt, "retention")
  }

  test("bucketed co-located join plans no exchange on either side") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_id"))
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.ops.BucketedLayout.writeBucketed(
      ev, "graft_test_ev_b", "user_id", 4, "/tmp/graft_test_bucketed/ev")
    graft.ops.BucketedLayout.writeBucketed(
      cust, "graft_test_cust_b", "c_custkey", 4,
      "/tmp/graft_test_bucketed/cust")
    // disable broadcast so the plan must rely on the bucket layout —
    // the property under test is "no shuffle", not "small side wins";
    // a session of its own keeps the setting off the shared one
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = plan(graft.ops.BucketedLayout.coLocatedJoin(s,
      "graft_test_ev_b", "graft_test_cust_b", "user_id", "c_custkey"))
    assert(p.contains("SortMergeJoin"),
      s"expected a sort-merge join over bucketed scans, got:\n$p")
    assert(!p.contains("Exchange"),
      s"co-located join must not plan any exchange:\n$p")
  }

  test("grouped HLL: map-side combine on both aggs, two keyed shuffles") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.pipeline.Sketches.hllGrouped(
      events, col("event_type"), col("user_id"), 8))
    assertNoGlobalSort(p, "hllGrouped")
    // partial aggregation is the scale property: per-task partials are
    // bounded at groups-per-task × m rows BEFORE the shuffle
    assert(p.contains("partial_max"),
      s"register build must map-side combine (partial_max), got:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected exactly (grp, reg) and (grp) shuffles:\n$p")
  }

  test("grouped quantiles: map-side combine, group-keyed shuffles only") {
    import org.apache.spark.sql.functions._
    val p = plan(graft.pipeline.Sketches.histogramGroupedQuantiles(
      docs, col("lang"), col("n_chars"), 0L, 640L, 16,
      Seq((1, 2), (9, 10))))
    assertNoGlobalSort(p, "histogramGroupedQuantiles")
    assert(p.contains("partial_count"),
      s"(grp, bin) build must map-side combine, got:\n$p")
    // (grp, bin) agg + grp window; the final (grp, num, den) agg rides
    // the existing grp partitioning (subset rule) — no third exchange
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected exactly the (grp, bin) and (grp) shuffles:\n$p")
  }

  test("KMV k-minimum pass is TakeOrdered, not a global sort") {
    import org.apache.spark.sql.functions._
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    // estimate-only path is now fully lazy (no persist, no collect) —
    // audit the REAL plan the production path would run
    val p = plan(graft.pipeline.Sketches.kmvDistinct(
      toks, graft.pipeline.TextOps.hash60(concat(lit("k|"), col("tok"))),
      64, withExact = false))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$p")
  }

  test("st10 kernel shape: absolute-grid window agg is join-free, one scan") {
    import org.apache.spark.sql.functions._
    import graft.ops.Flags
    // The batch composition of st10's streaming plan (window() works
    // identically in batch): absolute-grid windows need no T0
    // pre-pass, so there must be NO join and exactly ONE main-table
    // scan — vs st2's stream-static T0 broadcast join. One
    // partial+final aggregate pair over the window key is the whole
    // wide section.
    val prep = Flags.filterAutocorr(MsTables.main(spark))
      .withColumn("FROW", Flags.derivedFlagRow)
      .withColumn("TS", timestamp_micros((col("TIME") * 1e6).cast("long")))
    val groupCols =
      Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2")
    val outKeys = groupCols :+ "CHAN_BIN" :+ "CORR"
    val cells = graft.queries.MsQueries.visCells(prep, "DATA", 4,
      "TS" +: groupCols)
    val agged = cells
      .groupBy(window(col("TS"), "60000 seconds") +: outKeys.map(col): _*)
      .agg(graft.queries.MsQueries.visAggExprs.head,
        graft.queries.MsQueries.visAggExprs.tail: _*)
    val p = plan(agged)
    assert(!p.contains("Join"), s"absolute grid must not plan a join:\n$p")
    assert(mainScans(p) == 1, s"expected ONE main-table scan:\n$p")
    assertNoGlobalSort(p, "st10 kernel")
    // r18 visCells shape lock: the nested FLAG/WEIGHT_SPECTRUM arrays
    // are zipped into the FIRST generator's input (arrays_zip) and may
    // not ride any Generate as pass-through columns. Old shape: both
    // Generates carried the full arrays (2 mentioning lines, plus
    // per-cell FLAG[CHAN][CORR] walks downstream); new shape: exactly
    // one mention — inside Generate #1's arrays_zip argument.
    assert(p.contains("arrays_zip"),
      s"visCells no longer zips before exploding:\n$p")
    val wsGenLines = p.linesIterator
      .filter(l => l.contains("Generate") && l.contains("WEIGHT_SPECTRUM"))
      .size
    assert(wsGenLines <= 1,
      s"a Generate carries the full WEIGHT_SPECTRUM array ($wsGenLines lines):\n$p")
  }

  test("UVW synthesis is pure codegen: no UDF on the per-row path") {
    // r10 #5: the GMST/ECEF math must reach the fact rows as built-in
    // column arithmetic via broadcast position joins — a ScalaUDF (or
    // any python eval node) on this path breaks whole-stage codegen on
    // every E3/U1 row.
    val p = plan(graft.ops.Uvw.withSynthUvw(MsTables.main(spark),
      MsTables.field(spark), MsTables.antenna(spark)))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"UVW synthesis plans a UDF node:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"position lookups should be broadcast joins:\n$p")
    assertNoGlobalSort(p, "uvw synthesis")
  }
}

object PlanShapeSpec {
  val tcArgs = Timechannel.Args(timeBinSecs = 60000.0, chanBinSize = 4,
    dataCols = Seq("DATA" -> "DATA"))

  /** The timechannel output main table exactly as Timechannel.run writes
    * it, over the fixture in session `s`.
    */
  def tcWritePlan(s: SparkSession): DataFrame = {
    val main = MsTables.main(s)
    Timechannel.outputMain(main, graft.ms.SyntheticMs.root, tcArgs,
      Chunking.planStats(Flags.select(main, tcArgs)))
  }

  /** Bda.run's plan pass and sizing over the fixture in session `s`, at
    * `BdaQueries.raggedArgs`.
    */
  def bdaSizing(s: SparkSession): (Chunking.PlanStats, DataFrame) = {
    val args = graft.queries.BdaQueries.raggedArgs
    val plan = Chunking.planStats(Flags.select(MsTables.main(s), args))
    (plan, Bda.sizing(plan, MsTables.spw(s), MsTables.ddid(s), args))
  }

  /** The BDA output main table exactly as Bda.run writes it, over the
    * fixture in session `s`.
    */
  def bdaWritePlan(s: SparkSession): DataFrame = {
    val (plan, bp) = bdaSizing(s)
    val (_, _, remapDf) = Bda.regenerate(s, Bda.channelisations(bp), MsTables.spw(s))
    Bda.outputMain(MsTables.main(s), bp, plan, graft.ms.SyntheticMs.root,
      graft.queries.BdaQueries.raggedArgs, remapDf)
  }
}

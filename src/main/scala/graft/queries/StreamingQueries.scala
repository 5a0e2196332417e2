package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.streaming.{BareLocalFs, StateSizing}

/** Structured Streaming entries (extension beyond reference parity —
  * SURVEY §2.9/§7.4): the SAME tumbling-window aggregation the batch
  * engine grades, executed by the streaming engine end-to-end (file
  * stream source → event-time window → memory sink), then hash-checked
  * against a batch DuckDB oracle. Proves the streaming path computes
  * identical answers, not just that it runs.
  *
  * Exactness: `value` lives on a 1/100 grid → integer-lifted sums;
  * event timestamps are parquet micros (TIMESTAMP_NTZ, UTC-pinned
  * session) → window assignment is exact micro-grain arithmetic on
  * both engines.
  *
  * Every entry runs in a [[scoped]] child session with a temp dir of
  * its own, so an entry never writes the caller's conf and two entries
  * can run at once on one caller.
  */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  /** An entry body: its scope's child session and temp dir, then the
    * scale-factor dir.
    */
  private type Entry = (SparkSession, File, String) => DataFrame

  /** Run `body` in a scope it owns: a clone of the caller's session
    * (same runtime conf and temp views) and a fresh temp dir for
    * staging and checkpoints, deleted when `body` returns. Settings go
    * on the child — the caller's conf is never written, and nothing is
    * restored. Everything a stream reads must be built on the child:
    * its sources and checkpoint resolve `graftckpt://` through the
    * session that built them, and `start()` freezes a copy of that
    * session's conf (state partitions, checkpoint manager) into the
    * query.
    *
    * Every entry checkpoints to a LOCAL temp dir, and on a local
    * filesystem with no native hadoop library the checkpoint machinery
    * forks a PROCESS per file operation, twice over (r19 thread-dump +
    * /proc/stat fork profiling):
    *   - the default FileContext-based manager's symlink-aware rename
    *     execs `readlink` per file-status call
    *     (AbstractFileSystem.renameInternal → RawLocalFileSystem
    *     .getFileLinkStatus → FileUtil.readLink → Shell.execCommand);
    *   - every `create()` carrying an FsPermission execs `chmod`
    *     (RawLocalFileSystem.setPermission from
    *     LocalFSFileOutputStream.<init>).
    * Per micro-batch that covers every state-store delta file,
    * offset/commit-log entry, Spark-level checksum sidecar and Hadoop
    * `.crc` shadow: 1 700–5 900 forks per bench-scale run (st3/st7),
    * pure machinery, data-size-independent — the profiled remainder of
    * the "micro-batch floor" after the r19 StateSizing fix.
    *
    * The child carries two settings that remove both fork sources
    * without changing what is committed or when:
    *   - the FileSystem-based manager performs the SAME rename-based
    *     atomic commit through `File.renameTo` (POSIX rename — atomic
    *     on a local FS), no readlink;
    *   - checkpoints ride the `graftckpt://` scheme ([[checkpoint]],
    *     [[graft.streaming.BareLocalFs]]): a RawLocalFileSystem whose
    *     setPermission is a no-op, no chmod per file. Spark 4.1's own
    *     checkpoint checksum layer (manager-level sidecars) stays
    *     active above it.
    * Measured (same-JVM alternating A/B, manager alone): st3 4.5→2.9 s,
    * st7 7.3→4.6 s, st10 9.3→7.8 s, st13 4.4→3.0 s; fork counts and
    * after-probes for the combined change in OPTIMIZATION_r19.md. A
    * deployment checkpointing to HDFS/S3 keeps the defaults — these
    * settings are tied to the scope's local checkpoint dirs, not to the
    * host being a laptop.
    */
  private[graft] def scoped[T](caller: SparkSession)(
      body: (SparkSession, File) => T): T = {
    val s = GraftSqlBridge.cloneSession(caller)
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    s.conf.set(s"fs.${BareLocalFs.Scheme}.impl", classOf[BareLocalFs].getName)
    val tmp = Files.createTempDirectory("graft_stream").toFile
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try body(s, tmp) finally rm(tmp)
  }

  /** The checkpoint location `name` under a scope's temp dir `tmp`, on
    * the fork-free `graftckpt://` scheme; a restart passes the same name.
    */
  private[graft] def checkpoint(tmp: File, name: String): String =
    s"${BareLocalFs.Scheme}://${new File(tmp, s"ckpt_$name")}"

  /** Start `w` on checkpoint `name` and run it until every staged file
    * is processed; with `more`, stage more files after that and run
    * again.
    */
  private def drain(tmp: File, name: String, w: DataStreamWriter[_],
      more: Option[() => Unit] = None): Unit = {
    val q = w.option("checkpointLocation", checkpoint(tmp, name)).start()
    try {
      q.processAllAvailable()
      more.foreach { stage => stage(); q.processAllAvailable() }
    } finally q.stop()
  }

  /** Run `stream` to completion into a memory sink and return the sink
    * table MATERIALIZED as a local frame — the tail every stateful entry
    * shares. `stateParts` comes from [[graft.streaming.StateSizing]] at
    * every call site: the shuffle partitions a stream starts with are
    * its state-store layout for life, so they are set on the scope's
    * child right before `start()`.
    */
  private def sinkToLocal(s: SparkSession, tmp: File, name: String,
      stream: DataFrame, mode: String, stateParts: Int,
      more: Option[() => Unit] = None): DataFrame = {
    s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    drain(tmp, name,
      stream.writeStream.format("memory").queryName(name).outputMode(mode),
      more)
    val out = s.table(name)
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** The stream over `tmp`/stream, one file per micro-batch in mtime
    * order: the multi-batch split is the point — state must MERGE
    * across triggers, not just aggregate within one.
    */
  private def fileStream(s: SparkSession, like: DataFrame, tmp: File): DataFrame =
    s.readStream.schema(like.schema).option("maxFilesPerTrigger", 1)
      .parquet(streamDir(tmp).getAbsolutePath)

  private def streamDir(tmp: File): File = {
    val d = new File(tmp, "stream"); d.mkdirs(); d
  }

  /** Move `f` into the stream dir as arrival number `idx` (the file
    * source takes new files in mtime order).
    */
  private def place(tmp: File, f: File, idx: Int, tag: String): Unit = {
    val dst = new File(streamDir(tmp), f"$idx%03d_$tag.parquet")
    Files.move(f.toPath, dst.toPath)
    dst.setLastModified(1000000L * idx); ()
  }

  /** The one parquet file a single-partition write left in `dir`. It
    * MUST be one file: consumers read maxFilesPerTrigger=1, so a conf
    * that splits task output (e.g. maxRecordsPerFile) would smear one
    * slice across micro-batches — and taking `.head` would silently
    * DROP the extra rows (ADVICE r12). Fail loudly instead of either.
    */
  private def onlyFile(dir: File): File = {
    val fs = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    require(fs.length == 1,
      s"$dir holds ${fs.length} parquet files (expected 1) — " +
        "a file-splitting conf (maxRecordsPerFile?) breaks the " +
        "one-slice-one-micro-batch staging contract")
    fs.head
  }

  /** Stage `df` as `nFiles` parquet files and open the file stream over
    * them.
    */
  private def stagedFileStream(s: SparkSession, tmp: File, df: DataFrame,
      nFiles: Int): DataFrame = {
    val staging = new File(tmp, "staging")
    // 2 MB row groups: a staged slice is ONE file per micro-batch,
    // and parquet can't split below a row group — with the default
    // 128 MB group every batch scanned on a single task at probe
    // scale (st13 100x: cpu/wall 1.3 before, saturated after)
    df.repartition(nFiles).write
      .option("parquet.block.size", 2L * 1024 * 1024)
      .parquet(staging.getAbsolutePath)
    staging.listFiles().filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) => place(tmp, f, i + 1, "part") }
    fileStream(s, df, tmp)
  }

  /** Stage the events table as `n` TIME-ORDERED parquet slices plus a
    * trailing per-user `__flush` sentinel file (far-future ts, so it
    * sorts last within its group) and open the file stream over them.
    * The global sort is harness staging only — the streamed plan never
    * sorts across users. Shared by the flush-sentinel stateful entries
    * (st3/st8/st9).
    */
  private def stageTimeOrderedSlices(s: SparkSession, ev: DataFrame,
      tmp: File, n: Int): DataFrame = {
    val nWritten = stageSlicedByTs(ev, tmp, n)
    val sentinel = ev.select(col("user_id")).distinct()
      .select(
        lit(-1L).as("event_id"),
        lit(java.time.LocalDateTime.of(9000, 1, 1, 0, 0)).as("ts"),
        col("user_id"),
        lit("__flush").as("event_type"),
        lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
    val fstage = new File(tmp, "staging_flush")
    sentinel.coalesce(1).write.parquet(fstage.getAbsolutePath)
    place(tmp, onlyFile(fstage), nWritten + 1, "flush")
    fileStream(s, ev, tmp)
  }

  /** Boundary-CASE slice staging (the st10 shape, DESIGN.md) by event
    * time — [[stageSlicedByCol]] over exact epoch micros.
    */
  private def stageSlicedByTs(ev: DataFrame, tmp: File, n: Int): Int =
    // exact epoch micros as double (micros << 2^53, exact)
    stageSlicedByCol(ev,
      graft.ops.EventOps.epochUs(col("ts")).cast("double"), tmp, n)

  /** Slice by ANY exact numeric order column (draw values for the quota
    * stream, epoch micros for the event streams): slice assignment is a
    * CASE on distributed quantile bounds of `ord`, so slices stay
    * ORDER-CONTIGUOUS in that column (slice i holds bound(i-1) < ord <=
    * bound(i), so a later file never carries an earlier value — the
    * cross-batch arrival contract every ordered stateful twin relies
    * on). Rows with EQUAL order values never straddle a slice boundary
    * (the CASE is `<= bound`), so within-value ties are always
    * co-batched and the consumer's in-batch sort settles them.
    * Returns the number of slice files written (== n unless a quantile
    * bound degenerated on tiny input).
    */
  private def stageSlicedByCol(ev: DataFrame, ord: Column,
      tmp: File, n: Int): Int = {
    val bounds =
      if (n <= 1) Array.empty[Double]
      else ev.select(ord.as("_ord")).stat
        .approxQuantile("_ord", (1 until n).map(_.toDouble / n).toArray, 1e-4)
        .distinct
    val sliceOf =
      if (bounds.isEmpty) lit(1)
      else bounds.drop(1).zipWithIndex
        .foldLeft(when(ord <= bounds.head, 1)) {
          case (acc, (hi, i)) => acc.when(ord <= hi, i + 2)
        }.otherwise(bounds.length + 1)
    stageSlices(ev, sliceOf, bounds.length + 1, tmp)
  }

  /** Write `ev` split by the slice number `sliceOf` (1 to `n`)
    * into the stream dir, one file per slice in slice order. ALL
    * slices land in one scan + one partitioned write (repartition on
    * the slice ⇒ one file per slice; 2 MB row groups so staged slices
    * stay splittable, the r11 rule). The ntile-over-one-Window staging
    * this replaces pushed the whole table through a single sort task
    * and then re-scanned it once per slice for the filtered writes.
    * Within-slice row order is free because every stateful consumer
    * sorts its per-batch group rows (EventStream contract). Returns
    * the number of non-empty slices.
    */
  private def stageSlices(ev: DataFrame, sliceOf: Column, n: Int,
      tmp: File): Int = {
    val staging = new File(tmp, "staging_slices")
    ev.withColumn("gslice", sliceOf)
      .repartition(col("gslice"))
      .write.option("parquet.block.size", 2L * 1024 * 1024)
      .partitionBy("gslice").parquet(staging.getAbsolutePath)
    val present = (1 to n).filter(i => new File(staging, s"gslice=$i").exists())
    present.zipWithIndex.foreach { case (g, idx) =>
      place(tmp, onlyFile(new File(staging, s"gslice=$g")), idx + 1, "slice")
    }
    present.length
  }

  val queries: Map[String, Q] = Map[String, Entry](
    // W2+A1 streaming-shape: 1-hour event-time tumbling windows per
    // user over the events table, run through the streaming engine
    // (complete mode; the memory sink holds the final window table).
    "st1_stream_window" -> ((s, tmp, d) => {
      val ev = Tables.events(s, d)
      // the file stream source wants a directory: stream the sf dir,
      // glob-filtered to the events table
      val src = s.readStream.schema(ev.schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        // ts is TIMESTAMP_NTZ micros; EventOps.eventTs carries the
        // UTC-pinned exactness contract
        .withColumn("TS", graft.ops.EventOps.eventTs(col("ts")))
      val windowed = src
        .withWatermark("TS", "1 hour")
        .groupBy(window(col("TS"), "3600 seconds"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_sum_c"))
        .select(unix_timestamp(col("window.start")).as("win_start_epoch"),
          col("user_id"), col("n_events"),
          col("value_sum_c").cast("long").as("value_sum_c"))
      // complete-mode window agg: live keys <= one (window,user) pair
      // per event row, ~128 B state each
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 128)
      sinkToLocal(s, tmp, "graft_st1_sink", windowed, "complete", nParts)
    }),

    // The engine's CORE kernel — flag-aware dual-population visibility
    // averaging (A1+A2, chan_bin=4) — executed by the STREAMING engine:
    // file-stream the MS main table one parquet file per micro-batch, so
    // baselines' samples arrive split across batches and the state store
    // carries half-filled bins between triggers. Grid binning needs the
    // per-group T0, a global min the streaming engine can't take before
    // its one allowed aggregation — so T0 comes from a STATIC pre-pass
    // joined onto the stream (stream-static broadcast join), exactly the
    // reference's eager chunking pre-scan before the lazy main graph
    // (xova/apps/xova/app.py:74-75 eager, then 170-195 lazy).
    // Oracle: the SAME DuckDB SQL as the batch ms_a2_chan_avg entry —
    // streaming must reproduce the batch kernel bit-for-bit.
    "st2_stream_visavg" -> ((s, tmp, _) => {
      import graft.ops.Flags
      val main = graft.ms.MsTables.main(s) // ensures the fixture exists
      val groupKey = Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER")
      // persist the static side (st12's rule, applied here in r18): a
      // stream-static join re-executes the static plan EVERY micro-batch
      // — unpersisted, each trigger re-scans the full MS main table and
      // re-aggregates T0 (group-count rows; the scan is the cost)
      val t0 = Flags.filterAutocorr(main)
        .groupBy(groupKey.map(col): _*).agg(min("TIME").as("T0"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val src = s.readStream.schema(main.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"${graft.ms.SyntheticMs.root}/main")
      val prep = Flags.filterAutocorr(src)
        .withColumn("FROW", Flags.derivedFlagRow)
        .join(broadcast(t0), groupKey)
        .withColumn("BIN",
          floor((col("TIME") - col("T0")) / 60000.0).cast("int"))
      val avg = MsQueries.visFlatFrom(prep, "DATA", 4)
      // complete-mode cell agg: live keys <= exploded cells (<= 16 per
      // main row at the fixture shapes), window-keyed buffers ~256 B
      val nParts = StateSizing.forFrame(main, keysPerRow = 16, bytesPerKey = 256)
      try sinkToLocal(s, tmp, "graft_st2_sink", avg, "complete", nParts)
      finally t0.unpersist(blocking = false)
    }),

    // Stateful sessionization via flatMapGroupsWithState: the real
    // streaming engine carries ONE open session per user in the state
    // store across micro-batches and emits each session the moment the
    // gap rule closes it (Append mode). Two-phase file stream: batch 1
    // is the events table, batch 2 per-user `__flush` sentinels that
    // force the final open sessions out (a finite file stream never
    // fires an event-time timeout for the last session otherwise).
    // Oracle: the SAME gap-and-island SQL as the batch ev1 entry — the
    // streaming path must reproduce the batch sessionizer bit-for-bit.
    "st3_stream_sessions" -> ((s, tmp, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      // shared flush-sentinel staging (st8/st9's helper, r10 #8):
      // time-ordered slices + trailing per-user __flush file — open
      // sessions must survive micro-batch boundaries in the state
      // store and the sentinels emit the final ones in Append mode
      val evs = stageTimeOrderedSlices(s, ev, tmp, 3).select(
          col("user_id"),
          graft.ops.EventOps.epochUs(col("ts")).as("tu"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          (col("event_type") === "__flush").as("flush"))
        .as[graft.streaming.EventStream.SessEvent]
      val sessions =
        graft.streaming.EventStream.sessionize(evs, 14400L * 1000000L)
      // state = ONE open session per user (≤ 1 key per input row,
      // ~128 B each). r19: this entry (with st8/st9) predated the
      // StateSizing rule and ran at the session default (= cpus)
      // state stores — thread-dump profiling showed the entry's CPU
      // in the checkpoint file manager (create/rename of per-store
      // delta files × cpus × batches), not in the fMGWS fold.
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 128)
      sinkToLocal(s, tmp, "graft_st3_sink", sessions.toDF(), "append", nParts)
    }),

    // Streaming exact-dedup: the pl_d1 keeper rule run by the streaming
    // engine. The corpus is split into 4 files streamed one per
    // micro-batch, so copies of the same content arrive in different
    // batches and the dedup state (count + min-keeper per content hash)
    // must merge in the state store — the continuous-ingest form of the
    // one-shuffle batch dedup. Oracle: the SAME SQL as
    // pl_d1_exact_clusters — streaming must reproduce batch exactly.
    "st4_stream_dedup" -> ((s, tmp, d) => {
      val docs = Tables.documents(s, d)
      val src = stagedFileStream(s, tmp, docs, 4)
      // dedup state: one (md5, count, keeper) record per distinct doc
      val nParts = StateSizing.forFrame(docs, keysPerRow = 1, bytesPerKey = 160)
      sinkToLocal(s, tmp, "graft_st4_sink",
        graft.streaming.EventStream.exactClusters(src), "complete", nParts)
    }),

    // Streaming count-min sketch: the pl_k2 sketch built by the
    // streaming engine over a 4-micro-batch token stream. The CMS merge
    // property (cell-wise addition) IS the state-store update — each
    // batch's partial (seed, cell) counts add into the carried sketch,
    // so a continuously-ingesting frequency sketch falls out of the
    // same groupBy that builds the batch one. State is bounded by
    // d·w cells regardless of stream length — the sketch's whole point.
    // Oracle: the SAME sketch SQL as the batch pl_k2 CTE — streaming
    // must land on the identical d×w count matrix.
    "st5_stream_cms" -> ((s, tmp, d) => {
      val toks = stagedFileStream(s, tmp, Tables.documents(s, d), 4)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
      // CMS state is bounded by the sketch itself: d×w cells, ~24 B
      // each, regardless of stream length — no frame count needed
      sinkToLocal(s, tmp, "graft_st5_sink",
        graft.pipeline.Sketches.cmsSketch(toks, col("tok")), "complete",
        StateSizing.partitions(3L * 1024 * 24))
    }),

    // Watermark/late-data semantics, proven in APPEND mode — the one
    // streaming behavior st1-st5 (complete mode / explicit flush) never
    // exercise: `withWatermark` must actually DROP late rows and must
    // hold back windows the watermark hasn't passed. Two-phase stream:
    // batch 1 is the events table (advancing the watermark to
    // max(TS) - 2h), batch 2 is a PLANTED late batch — year-old copies
    // of every 97th event — arriving entirely behind the watermark.
    // The late file is staged only after the first phase has drained:
    // a batch drops rows behind the watermark of the batch BEFORE it,
    // so the no-data batch that moves the watermark must run first
    // (staged up front, the planted rows were emitted: 9 626 rows
    // against the oracle's 9 522 at sf0.01).
    // Append mode then emits exactly the hour windows whose end <= the
    // final watermark, with ZERO contribution from the planted copies.
    // Oracle: the same window aggregate over the ORIGINAL events only,
    // cut by the same watermark rule (window_end <= max_event_ms - 2h,
    // at Spark's millisecond watermark grain). If the engine failed to
    // drop the late batch, its year-old windows (long past the
    // watermark) would be emitted and the hash would diverge — the
    // drop is what the gate checks, not an incidental row count.
    "st6_stream_watermark" -> ((s, tmp, d) => {
      val ev = Tables.events(s, d)
      def stage(batch: DataFrame, idx: Int): Unit = {
        val staging = new File(tmp, s"staging_$idx")
        batch.coalesce(1).write.parquet(staging.getAbsolutePath)
        place(tmp, onlyFile(staging), idx, "batch")
      }
      stage(ev, 1)
      val windowed = fileStream(s, ev, tmp)
        .withColumn("TS", graft.ops.EventOps.eventTs(col("ts")))
        .withWatermark("TS", "2 hours")
        .groupBy(window(col("TS"), "3600 seconds"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_sum_c"))
        .select(unix_timestamp(col("window.start")).as("win_start_epoch"),
          col("user_id"), col("n_events"),
          col("value_sum_c").cast("long").as("value_sum_c"))
      // append-mode window agg: open-window state <= one key per
      // event row until the watermark passes it
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 128)
      val late = ev.filter(pmod(col("event_id"), lit(97)) === 0)
        .withColumn("ts", col("ts") - expr("INTERVAL 365 DAYS"))
      sinkToLocal(s, tmp, "graft_st6_sink", windowed, "append", nParts,
        more = Some(() => stage(late, 2)))
    }),

    // Stream-STREAM interval join — the last streaming surface st1-st6
    // don't touch: two live streams (clicks, purchases over the same
    // staged event files) joined on user within a 1-hour event-time
    // window, in append mode with BOTH sides watermarked. Cross-batch
    // matching is the proof point: a click buffered in the join state
    // store must match a purchase arriving micro-batches later, and
    // the watermark must evict buffered rows once they can no longer
    // match (state bounded by the 2h delay + 1h window horizon, not
    // stream length). Files are staged in EVENT-TIME order (quartile
    // slices, strictly increasing mtimes) so arrival is in-order and
    // the 2h delay strictly dominates the 1h join window — every
    // batch-side match provably emits (a purchase at P meets its
    // click at T >= P - 1h while the global watermark is still at
    // ~P - 2h < T), making the batch inner join the exact oracle.
    "st7_stream_join" -> ((s, tmp, d) => {
      val ev = Tables.events(s, d)
      // boundary-CASE staging (stageSlicedByTs) — one scan, one
      // partitioned write; the streamed plan below never sorts
      stageSlicedByTs(ev, tmp, 4)
      val clicks = fileStream(s, ev, tmp).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          graft.ops.EventOps.eventTs(col("ts")).as("CTS"))
        .withWatermark("CTS", "2 hours")
      val purchases = fileStream(s, ev, tmp)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"),
          graft.ops.EventOps.eventTs(col("ts")).as("PTS"))
        .withWatermark("PTS", "2 hours")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("PTS") >= col("CTS") &&
            col("PTS") <= col("CTS") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          expr("unix_micros(CTS)").as("click_us"),
          expr("unix_micros(PTS)").as("purchase_us"))
      // No-data micro-batches only perform state EVICTION here — an
      // inner join emits matches at match time, so the sink is
      // complete without them; skipping them halves the store-commit
      // count. (Eviction semantics are spec-asserted separately in
      // EventStreamSpec under default settings.)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      // A stream-stream join maintains FOUR state stores per partition
      // per side. At 32 partitions that is ~256 store instances
      // snapshotting per micro-batch for a state bounded at a few
      // hundred buffered rows (the 3h horizon) — measured 14-17s of
      // pure store overhead, data-size-independent. Size the state
      // layout to the state (StateSizing rule): buffered rows are
      // bounded by the event count, ~128 B each per side.
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 128)
      sinkToLocal(s, tmp, "graft_st7_sink", joined, "append", nParts)
    }),

    // Streaming ordered-step funnel: the ev3 first-completion chain run
    // by the streaming engine with ONE fixed-width reach vector per
    // user in the state store — O(steps) state per user regardless of
    // history, vs buffering the event log. The corpus streams as three
    // time-ordered slices (st7-style mtime staging) so the chain must
    // survive micro-batch boundaries in the state store; per-user
    // flush sentinels (far-future ts, sorting last) emit the final
    // vectors in Append mode. Oracle: the SAME SQL as batch ev3 — the
    // stateful stream must reproduce the window composition exactly.
    "st8_stream_funnel" -> ((s, tmp, d) => {
      import s.implicits._
      val steps = Seq("signup", "click", "purchase")
      val ev = Tables.events(s, d)
      val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) {
        case (acc, (st, i)) =>
          when(col("event_type") === st, lit(i)).otherwise(acc)
      }
      val fev = stageTimeOrderedSlices(s, ev, tmp, 3)
        .filter(col("event_type").isin((steps :+ "__flush"): _*))
        .select(col("user_id"), col("event_id"),
          graft.ops.EventOps.epochUs(col("ts")).as("tu"),
          stepIdx.as("step"),
          (col("event_type") === "__flush").as("flush"))
        .as[graft.streaming.EventStream.FunnelEvent]
      // state = ONE fixed-width reach vector per user (~160 B); the
      // StateSizing rule (see st3 — same r19 profiling evidence)
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 160)
      val collected = sinkToLocal(s, tmp, "graft_st8_sink",
        graft.streaming.EventStream.funnel(fev, steps.size).toDF(), "append",
        nParts)
      // reach vector -> the batch ev3 column shape (-1 = unreached)
      val stepCols = steps.indices.map { k =>
        when(element_at(col("reach"), k + 1) >= 0L,
          element_at(col("reach"), k + 1)).as(s"s${k + 1}_us")
      }
      val stage = steps.indices.map(k =>
        when(element_at(col("reach"), k + 1) >= 0L, 1L).otherwise(0L))
        .reduce(_ + _)
      collected.select(
        (col("user_id") +: stepCols) :+ stage.as("funnel_stage"): _*)
    }),

    // Streaming cohort retention: the ev5 matrix built incrementally —
    // per-user state is (cohort day, active-bucket set), bounded by the
    // observation span over bucketDays, never by event count; flush
    // sentinels emit each user's final row and the batch tail (explode
    // + cell-keyed count) assembles the matrix, exact because each user
    // emits each bucket once. Oracle: the SAME SQL as batch ev5 — the
    // last event-operator family without a streaming proof (VERDICT r9
    // #5).
    // The A1/A2 kernel in its SCALE form: event-time windows + watermark
    // in APPEND mode — state holds only OPEN windows and each bin is
    // emitted exactly once when the watermark passes it, vs st2's
    // complete-mode twin whose state == the whole output re-emitted per
    // trigger (measured output-bound linear at 10×, DESIGN.md "streaming
    // 10× probes"). Differences from st2, both deliberate: the time grid
    // is ABSOLUTE (epoch-aligned windows — what window() computes with
    // no per-group T0 pre-pass, so the stream needs NO static join at
    // all: one watermarked shuffle is the whole plan), and arrival is
    // TIME-ordered (st7-style staged slices), so windows close and
    // evict MID-STREAM, not just at the end; a far-future flush slice
    // (one cross-corr row) closes the last real windows while its own
    // window stays past the watermark and is never emitted. Oracle: the
    // batch cells/dual-population SQL on the same absolute grid.
    "st10_stream_visavg_update" -> ((s, tmp, _) => {
      import graft.ops.Flags
      val main = graft.ms.MsTables.main(s)
      // time-ordered slices WITHOUT a global sort: the distinct TIME
      // grid is O(nTime) (the same tiny-dimension collect as the BDA
      // channelisation set), so slice assignment is a literal CASE on
      // TIME boundaries and ALL slices land in one scan + one
      // partitioned write (stageSlices) — an ntile-over-one-window
      // staging here pushed the whole array-heavy table through one
      // sort task, and per-slice filtered writes re-scanned the table
      // once per slice
      val times = main.select("TIME").distinct()
        .collect().map(_.getDouble(0)).sorted
      // Arrival granularity IS the state bound for an append-mode
      // window agg (state = windows spanned by one slice), so the
      // slice count scales with the time grid instead of staying a
      // constant: a fixed 4 slices means the horizon — and the state
      // — grows with the corpus (measured: 3.29 M state rows at the
      // 100× probe). ~20 time steps per slice keeps the open-window
      // generations per batch constant at any scale; the committed
      // fixture (4 steps) still stages exactly the 4 slices the
      // bands were pinned on.
      val nSlices = math.max(4, times.length / 20)
      val per = math.max(1, math.ceil(times.length.toDouble / nSlices).toInt)
      val bounds = times.grouped(per).map(_.last).toSeq
      // ascending CASE chain: first matching bound wins
      val sliceOf = bounds.init.zipWithIndex.drop(1)
        .foldLeft(when(col("TIME") <= bounds.head, 1)) {
          case (acc, (hi, i)) => acc.when(col("TIME") <= hi, i + 1)
        }.otherwise(bounds.size)
      val nWritten = stageSlices(main, sliceOf, bounds.size, tmp)
      // flush: one far-future cross-corr row advances the watermark
      // past every real window; its own window never closes. The
      // flush timestamp is DERIVED from the data (max TIME + two
      // window widths — `times` is already collected for the
      // slice-boundary grid above), not a constant: a fixed value
      // sits BEHIND the watermark at larger GRAFT_MS_NTIME fixtures
      // and is silently dropped as late data, so the final window
      // generation never emits (ADVICE r10).
      val flushTime = times.last + 2 * 60000.0
      val fstage = new File(tmp, "staging_flush")
      Flags.filterAutocorr(main).limit(1)
        .withColumn("TIME", lit(flushTime))
        .coalesce(1).write.parquet(fstage.getAbsolutePath)
      place(tmp, onlyFile(fstage), nWritten + 1, "flush")
      val prep = Flags.filterAutocorr(fileStream(s, main, tmp))
        .withColumn("FROW", Flags.derivedFlagRow)
        // TIME is exact-grid seconds; micros lift is exact
        .withColumn("TS", timestamp_micros((col("TIME") * 1e6).cast("long")))
      val groupCols =
        Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2")
      val outKeys = groupCols :+ "CHAN_BIN" :+ "CORR"
      val cells = MsQueries.visCells(prep, "DATA", 4, "TS" +: groupCols)
      val agged = cells
        .withWatermark("TS", "0 seconds")
        .groupBy(window(col("TS"), "60000 seconds") +:
          outKeys.map(col): _*)
        .agg(MsQueries.visAggExprs.head, MsQueries.visAggExprs.tail: _*)
        .select(unix_timestamp(col("window.start")).as("WIN_START") +:
          outKeys.map(col) ++: MsQueries.visOutExprs: _*)
      // NOTE: no-data micro-batches must stay ENABLED here (unlike
      // st7's disable): the watermark a batch RUNS WITH is computed
      // from the previous batch's data, so the windows the flush row
      // closes are emitted by the no-data batch AFTER it — an inner
      // join emits at match time, an append aggregation emits a batch
      // later (verified: disabling drops the final window generation,
      // 64 512 of 129 024 rows).
      // State partitions sized to the state (StateSizing rule):
      // append-mode state holds only OPEN windows (bounded by the
      // arrival horizon — measured 3.3× under st2's complete mode at
      // 10×), but the same conservative cells-per-row bound keeps one
      // rule across the kernel twins; the floor reproduces bench-scale
      // behavior (6 batches × 32 stores is commit overhead, not
      // parallelism).
      val nParts = StateSizing.forFrame(main, keysPerRow = 16, bytesPerKey = 256)
      sinkToLocal(s, tmp, "graft_st10_sink", agged, "append", nParts)
    }),

    // Streaming embedding-LSH bucket dedup: the EMBEDDING-side dedup
    // shuffle shape (pl_d5's SRP-LSH banding) executed by the
    // streaming engine — st4's exact-dedup contract lifted from md5
    // keys to LSH bucket keys. The corpus streams as 4 files; the
    // signature+banding is a pure projection on the stream
    // (Ann.withScaled + withLshBuckets, hyperplanes are literals), and
    // each (band, bucket)'s membership state (count + min-keeper)
    // merges across micro-batches in the state store. State is
    // bounded by the LIVE BUCKET cardinality (≤ bands × 2^bits plus
    // nothing per extra copy), not stream length — the sketch-like
    // bound that makes continuous embedding-dedup ingestion viable.
    // Oracle: the batch band-rows aggregation over the SAME shared
    // planes/buckets CTE chain as pl_a2 (structure cannot drift).
    "st11_stream_embed_lsh" -> ((s, tmp, d) => {
      import graft.pipeline.Ann
      val src = stagedFileStream(s, tmp, Tables.embeddings(s, d), 4)
      val nBands = Ann.Planes / Ann.BitsPerBand
      val rows = Ann.withLshBuckets(Ann.withScaled(src))
        .select(col("vec_id"),
          explode(array((0 until nBands).map(i =>
            struct(lit(i).as("band_id"),
              col(s"bucket$i").as("bucket"))): _*)).as("bb"))
        .select(col("vec_id"), col("bb.band_id"), col("bb.bucket"))
      val agged = rows.groupBy("band_id", "bucket")
        .agg(count(lit(1)).as("n_members"), min("vec_id").as("keeper"))
      // state = live buckets, hard-capped by the band structure
      sinkToLocal(s, tmp, "graft_st11_sink", agged, "complete",
        StateSizing.partitions(nBands.toLong * (1L << Ann.BitsPerBand) * 64))
    }),

    // Streaming benchmark decontamination: the ingestion-time form of
    // pl_d10's train-test overlap guard — corpus documents STREAM in
    // while the held-out benchmark's distinct gram keys sit as a
    // static broadcast table. Each micro-batch inner-joins its docs'
    // distinct grams against the benchmark (stream-static broadcast
    // join — the one streaming join shape st1–st11 didn't exercise;
    // st7 is stream-stream) and the per-doc shared-gram counts land
    // in the state store. A doc arrives in exactly one batch with
    // array_distinct grams, so its count is complete when first seen
    // — state is one fixed-width record per CONTAMINATED doc, never
    // per gram. At 100 TB: the benchmark gram table is ≪ corpus,
    // broadcast once, and the corpus streams through exactly as the
    // batch operator scans it — the gate a continuous training-data
    // ingest runs on every arriving shard.
    "st12_stream_decontam" -> ((s, tmp, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
      // persist the static side: a stream-static join re-executes the
      // static plan EVERY micro-batch — without this, each trigger
      // re-scans and re-distincts the benchmark (4× here; every
      // trigger forever on a production stream)
      val benchGrams = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
        .select(explode(array_distinct(
          graft.expressions.TokenGramHash(col("text"), 4))).as("gram"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val contaminated = stagedFileStream(s, tmp, corpus, 4)
        .select(col("doc_id"), explode(array_distinct(
          graft.expressions.TokenGramHash(col("text"), 4))).as("gram"))
        .join(broadcast(benchGrams), Seq("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
      val nParts = StateSizing.forFrame(corpus, keysPerRow = 1, bytesPerKey = 24)
      try sinkToLocal(s, tmp, "graft_st12_sink", contaminated, "complete", nParts)
      finally benchGrams.unpersist(blocking = false)
    }),

    // Streaming HLL: the pl_k4 register table built by the streaming
    // engine — max(rho) per register IS the HLL merge, so the state
    // store's per-key max-combine gives continuous cardinality
    // tracking for free. State is exactly 2^p = 256 registers no
    // matter how long the stream runs — with st5 (CMS) this completes
    // the bounded-state sketch pair: frequency AND cardinality over
    // an unbounded token stream in O(sketch) memory.
    // Oracle: the SAME tok/h/r CTE chain as pl_k4 (shared SQL).
    "st13_stream_hll" -> ((s, tmp, d) => {
      val toks = stagedFileStream(s, tmp, Tables.documents(s, d), 4)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
      val regs = graft.pipeline.Sketches.hllRegisters(toks, col("tok"), 8)
        .select(col("reg"), col("max_rho").cast("bigint").as("max_rho"))
      sinkToLocal(s, tmp, "graft_st13_sink", regs, "complete",
        StateSizing.partitions(256L * 64))
    }),

    "st9_stream_retention" -> ((s, tmp, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val rev = stageTimeOrderedSlices(s, ev, tmp, 3).select(
          col("user_id"),
          graft.ops.EventOps.epochUs(col("ts")).as("tu"),
          (col("event_type") === "__flush").as("flush"))
        .as[graft.streaming.EventStream.RetEvent]
      // state = (cohort day, bucket set) per user — the bucket set is
      // bounded by the observation span over bucketDays (~512 B at
      // the fixture span); the StateSizing rule (see st3)
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 512)
      sinkToLocal(s, tmp, "graft_st9_sink",
          graft.streaming.EventStream.retention(rev, 7).toDF(), "append", nParts)
        .select(col("cohort_day"), col("user_id"),
          explode(col("buckets")).as("bucket_offset"))
        .groupBy("cohort_day", "bucket_offset")
        .agg(countDistinct("user_id").as("n_active"))
    }),

    // Streaming token-budget mixture (pl_s7's twin): per-source quota
    // fill over a document stream via flatMapGroupsWithState. State =
    // ONE token counter per source — bounded by the declared source
    // enum, NOT stream length: the constant-state point of the design
    // space (st13 is constant-by-sketch, st4 linear-by-contract, this
    // is constant-by-enum). Slices are staged in global draw order
    // (stageSlicedByCol), so each source's arrival order equals the
    // batch window's (draw, doc_id) order and every admitted row's
    // cum_before is bit-identical to the batch operator's.
    // Oracle: the SAME SQL as pl_s7 (shared string — the two cannot
    // drift).
    "st14_stream_quota" -> ((s, tmp, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          graft.pipeline.Sampling.draw("mix", col("doc_id")).as("drw"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // draw values are integers < 1e6 — exact in double
      stageSlicedByCol(docs, col("drw").cast("double"), tmp, 3)
      val quota = graft.streaming.EventStream.tokenQuota(
        fileStream(s, docs, tmp).as[graft.streaming.EventStream.QuotaDoc],
        PipelineQueries.MixBudgets, PipelineQueries.MixDefaultBudget)
      // state: one 8-byte counter per source (~20 sources)
      sinkToLocal(s, tmp, "graft_st14_sink", quota.toDF(), "append",
        StateSizing.partitions(20L * 64))
    }),

    // Streaming ANN (pl_a2's twin): a probe-vector stream served
    // against the static corpus LSH index — stream-static bucket join,
    // per-probe dedup + rerank + top-k inside the group fold, ZERO
    // cross-batch state (each query answered in its arrival batch; the
    // stateless point of the streaming design space). Oracle: the SAME
    // SQL as pl_a2 — streamed answers must equal the batch index's.
    "st15_stream_ann" -> ((s, tmp, d) => {
      val emb = Tables.embeddings(s, d)
      val src = stagedFileStream(s, tmp, emb.filter(col("vec_id") < 8), 3)
      val (served, index) =
        graft.pipeline.Ann.annLshStreamedIndexed(src, emb, 5)
      try sinkToLocal(s, tmp, "graft_st15_sink", served, "append",
        StateSizing.partitions(8L * 64))
      // the serve index outlives the query only in a real serving
      // deployment; the entry stops the query, so release it
      finally graft.pipeline.Caches.release(index)
    }),

    // Streaming hier-IVF-SQ8 serve (pl_a12's twin): the quantized
    // index builds once from the static corpus; probes route to their
    // lists as a pure stream-side projection and candidates come from
    // a stream-static EQUI-join on the list key — the serve shape
    // that stays bounded when the corpus doesn't broadcast. Zero
    // cross-batch state; oracle: pl_a12's SQL verbatim.
    "st16_stream_ann_sq8" -> ((s, tmp, d) => {
      val emb = Tables.embeddings(s, d)
      val src = stagedFileStream(s, tmp, emb.filter(col("vec_id") < 8), 3)
      val (served, index) = graft.pipeline.Ann.annIvfSq8HierStreamedIndexed(
        src, emb, 5, 8, 3, 2, 600000L, 2, trainedCoarse = true,
        listProbes = 2)
      try sinkToLocal(s, tmp, "graft_st16_sink", served, "append",
        StateSizing.partitions(8L * 64))
      finally graft.pipeline.Caches.release(index)
    }),

    // Streaming personalized PageRank (pl_g2's twin, r16 VERDICT #5):
    // decontamination hits arrive as a stream; the near-dup EDGE
    // INDEX is static and built ONCE (the st16 build-once-serve-many
    // pattern), and each micro-batch re-scores TRANSITIVE risk for
    // the accumulated seed set with the exact batch operator —
    // iterative rank joins are not expressible inside one streaming
    // plan, so the serve loop is foreachBatch over the static index:
    // the production shape for "new benchmark hits landed, refresh
    // the risk scores". Cross-batch state = the seed set only
    // (node-sized, held as a materialized frame — the external
    // equivalent of a state store keyed by doc_id); the edge index
    // never re-derives. The LAST re-score (all seeds arrived) is the
    // entry's output; oracle: pl_g2's SQL verbatim.
    "st17_stream_ppr" -> ((s, tmp, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.pipeline.Dedup.nearDupPairs(docs)
      val ix =
        try graft.pipeline.Graph.buildIndex(pairs.select("doc1", "doc2"))
        finally graft.pipeline.Caches.release(pairs)
      try {
        val seeds = docs
          .filter(pmod(col("doc_id"), lit(37L)) === 0L).select("doc_id")
        val accSeeds =
          new java.util.concurrent.atomic.AtomicReference[DataFrame]
        val latest =
          new java.util.concurrent.atomic.AtomicReference[DataFrame]
        drain(tmp, "st17", stagedFileStream(s, tmp, seeds, 3).writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val prev = accSeeds.get()
            val merged = graft.pipeline.Caches.materialize(
              Option(prev).map(_.union(batch)).getOrElse(batch)
                .select("doc_id").distinct())
            Option(prev).foreach(graft.pipeline.Caches.release)
            accSeeds.set(merged)
            val scored = graft.pipeline.Graph.pprOnIndex(
              ix, merged, 3, 1000000000L)
            Option(latest.getAndSet(scored))
              .foreach(graft.pipeline.Caches.release)
            ()
          }.outputMode("append"))
        Option(accSeeds.get()).foreach(graft.pipeline.Caches.release)
        require(latest.get() != null, "seed stream produced no batches")
        latest.get()
      } finally ix.release()
    }),

    // Incremental streaming PPR (st17 v2 — VERDICT r17 #7): same
    // static edge index, same 3 staged seed batches, but each batch
    // folds its NEW seeds into standing per-iteration rank layers by
    // exact DELTA propagation (Graph.pprAddSeeds) instead of st17's
    // full re-score — per-batch cost drops from O(edges·iters) to the
    // delta-REACHABLE frontier's out-edges. The floor-divided
    // recurrence is not naively linear, so the delta carries the
    // exact per-edge floor DIFFERENCE at the standing value (see
    // pprAddSeeds' exactness argument); the final standing scores
    // equal the one-shot full re-score integer for integer, which is
    // why this entry shares pl_g2's oracle verbatim. Cross-batch
    // state = ONE node-sized layers frame (iterations+1 int64 columns
    // + the seed flag), materialized and released per batch.
    "st18_stream_ppr_delta" -> ((s, tmp, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.pipeline.Dedup.nearDupPairs(docs)
      val ix =
        try graft.pipeline.Graph.buildIndex(pairs.select("doc1", "doc2"))
        finally graft.pipeline.Caches.release(pairs)
      try {
        val seeds = docs
          .filter(pmod(col("doc_id"), lit(37L)) === 0L).select("doc_id")
        val state = new java.util.concurrent.atomic.AtomicReference(
          graft.pipeline.Graph.pprInit(ix, 3, 1000000000L))
        try {
          drain(tmp, "st18", stagedFileStream(s, tmp, seeds, 3).writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val prev = state.get()
              state.set(graft.pipeline.Graph.pprAddSeeds(ix, prev, batch))
              prev.release()
              ()
            }.outputMode("append"))
          graft.pipeline.Caches.materialize(
            graft.pipeline.Graph.pprScores(state.get()))
        } finally state.get().release()
      } finally ix.release()
    })
  ).map { case (name, entry) =>
    name -> ((caller: SparkSession, d: String) =>
      scoped(caller)((s, tmp) => entry(s, tmp, d)))
  }

  val oracleSql: Map[String, String] = Map(
    "st1_stream_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start_epoch,
                user_id,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_sum_c
         FROM events GROUP BY 1, 2""",

    // Identical to the batch A2 oracle — the streaming engine must
    // reproduce the batch kernel exactly.
    "st2_stream_visavg" -> MsQueries.visFlatSql("DATA", 4),

    // Identical to the batch ev1 oracle — the stateful streaming
    // sessionizer must reproduce the batch session_window plan exactly.
    "st3_stream_sessions" -> EventQueries.sessionizeOracleSql,

    // Identical to the batch pl_d1 oracle — the streaming dedup state
    // must merge to the same clusters the batch shuffle produces.
    "st4_stream_dedup" ->
      """SELECT md5(text) AS md5_fp, CAST(count(*) AS BIGINT) AS n_copies,
                min(doc_id) AS keeper
         FROM documents GROUP BY 1""",

    // The st1 window aggregate over the ORIGINAL events, cut by the
    // watermark rule at Spark's millisecond grain: a window is emitted
    // iff window_end <= floor(max_event_us/1000) - 2h (the planted
    // year-old late batch contributes nothing — that's the semantics
    // under test). Integer arithmetic throughout; the data's max event
    // is not ms-hour-aligned, so <=-vs-< at the boundary cannot bite.
    "st6_stream_watermark" ->
      """WITH e AS (SELECT epoch_us(ts) AS tu, user_id,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
         mx AS (SELECT max(tu) AS mxu FROM e),
         w AS (SELECT CAST(floor(tu / 3600000000) * 3600 AS BIGINT)
                        AS win_start_epoch,
                      user_id,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(cents) AS BIGINT) AS value_sum_c
               FROM e GROUP BY 1, 2)
         SELECT w.* FROM w, mx
         WHERE (win_start_epoch + 3600) * 1000000
               <= (mxu // 1000 - 7200000) * 1000""",

    // The plain batch inner interval join — the staged in-order
    // arrival guarantees the streaming join emits every batch match
    // (see the entry comment), so the oracle is exact, not a subset.
    "st7_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                c.user_id,
                epoch_us(c.ts) AS click_us,
                epoch_us(p.ts) AS purchase_us
         FROM events c JOIN events p
           ON p.user_id = c.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND epoch_us(p.ts) BETWEEN epoch_us(c.ts)
                                 AND epoch_us(c.ts) + 3600000000""",

    // Identical to the batch ev3 oracle — the stateful streaming
    // funnel must reproduce the window-composition chain exactly.
    "st8_stream_funnel" -> EventQueries.oracleSql("ev3_funnel"),

    // Identical to the batch ev5 oracle — the incremental cohort state
    // must assemble the same retention matrix cell for cell.
    "st9_stream_retention" -> EventQueries.oracleSql("ev5_retention"),

    // The batch kernel on the absolute event-time grid — append-mode
    // watermark emission must reproduce every closed window exactly
    // (and emit nothing for the flush row's own still-open window).
    "st10_stream_visavg_update" -> MsQueries.visFlatAbsSql("DATA", 4),

    // The batch band-rows aggregation over the same shared
    // planes/buckets CTE chain as pl_a2 — the streamed LSH-bucket
    // membership state must merge to the batch banding exactly.
    "st11_stream_embed_lsh" ->
      s"""WITH ${PipelineQueries.lshBandRowsSql}
          SELECT band_id, bucket,
                 CAST(count(*) AS BIGINT) AS n_members,
                 min(vec_id) AS keeper
          FROM bandrows GROUP BY 1, 2""",

    // Identical to the batch pl_d10 oracle — the stream-static gram
    // join must flag exactly the docs the batch overlap guard flags,
    // with the same shared-gram evidence counts.
    "st12_stream_decontam" ->
      PipelineQueries.oracleSql("pl_d10_decontam"),

    // The pl_k4 register CTE chain (shared SQL) — the streamed HLL's
    // register table must equal the batch build register for register.
    "st13_stream_hll" ->
      s"""WITH ${PipelineQueries.hllRegCtesSql}
          SELECT reg, CAST(max(rho) AS BIGINT) AS max_rho
          FROM r GROUP BY 1""",

    // Identical to the batch pl_k2 sketch CTE — the streamed sketch's
    // d×w count matrix must equal the batch build cell for cell.
    "st5_stream_cms" ->
      """WITH tok AS (
           SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok
                            FROM documents)
           WHERE tok <> ''),
         seeds AS (SELECT unnest(range(3)) AS s)
         SELECT CAST(s AS INTEGER) AS seed,
                CAST('0x' || substring(md5('cms' || s || '|' || tok), 1, 15)
                  AS BIGINT) % 1024 AS cell,
                CAST(count(*) AS BIGINT) AS cnt
         FROM tok, seeds GROUP BY 1, 2""",

    // Identical to the batch pl_s7 oracle (shared SQL) — the streamed
    // quota fill must admit the same rows with the same cum_before.
    "st14_stream_quota" ->
      PipelineQueries.tokenBudgetMixSql,

    // Identical to the batch pl_a2 oracle — the streamed index serve
    // must return the batch index's exact top-k per probe.
    "st15_stream_ann" ->
      PipelineQueries.oracleSql("pl_a2_ann_lsh"),

    // Identical to the batch pl_a12 oracle — the streamed quantized
    // index serve must return the batch composition's exact rows.
    "st16_stream_ann_sq8" ->
      PipelineQueries.oracleSql("pl_a12_ann_ivf_sq8_hier"),

    // Identical to the batch pl_g2 oracle — the final streamed
    // re-score (all seed batches arrived) must equal the one-shot
    // personalized PageRank on the full seed set, integer for integer.
    "st17_stream_ppr" ->
      PipelineQueries.oracleSql("pl_g2_ppr_decontam"),

    // Identical to the batch pl_g2 oracle — the delta-composed
    // standing scores must equal the one-shot personalized PageRank
    // on the full seed set, integer for integer (the linear-identity
    // claim pprAddSeeds makes, gated end to end).
    "st18_stream_ppr_delta" ->
      PipelineQueries.oracleSql("pl_g2_ppr_decontam")
  )
}

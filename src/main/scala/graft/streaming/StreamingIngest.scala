package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.analyze.Analyzer
import graft.index.{Catalog, CorpusDoc, DocMeta, Fs, IndexBuilder, IndexStats}

/** Live ingest (reference: `ingest` command, commands/ingest.go:22-54) —
  * the Go side is a 1-second poll loop whose whole point is that ingested
  * ledgers are IMMEDIATELY visible to `_search` (it feeds the same indices
  * the query DSL reads, es/adapter.go:44-65). Re-expressed Spark-first as
  * Structured Streaming:
  *
  *   readStream(corpus dir) → tokenize → per-batch posting SEGMENT
  *   (blocks + docmeta + stats + termstats, the same shapes the batch
  *   index uses) → Searcher reads batch ∪ segments uniformly
  *   (IndexBuilder.Handle.postingsAll/liveStats/dfFor).
  *
  * Exactly-once: the file source checkpoints offsets, and the segment write
  * is idempotent BY BATCH ID — each batch overwrites its own deterministic
  * `ingest_segments/batch=<id>` directory and commits with a _DONE marker
  * written last. foreachBatch is at-least-once; a replayed batch either
  * sees its marker and skips, or re-overwrites the same directory with the
  * same deterministic contents (docIds are dense ranks from
  * IndexBuilder.assignDocIds — a pure function of the batch data). Readers
  * ignore marker-less segments, so a half-written replay is never visible.
  *
  * Salt invariant: the query engine's per-salt WAND merge needs every salt
  * id to be a disjoint docId range (Searcher.scala). Streamed docIds live
  * in a reserved range (base + batchId·2^20 + rank) and each batch's salts
  * are docId-range buckets of that range, numbered in a namespace disjoint
  * from the batch index's ([SegmentSaltBase + batchId·salts, …)) — so the
  * existing group-by-salt top-k merge is correct over the union unchanged.
  */
object StreamingIngest {

  /** Segment salt ids start here; batch-index salts are far below
    * (effectiveSalts caps at 65536).
    */
  val SegmentSaltBase: Int = 1 << 20

  /** Streamed corpus source: parquet files arriving under `srcDir` with the
    * corpus schema. maxFilesPerTrigger=1 mirrors the reference's
    * one-ledger-per-iteration cadence (ingest.go:44-52).
    */
  def source(spark: SparkSession, srcDir: String): Dataset[CorpusDoc] = {
    import spark.implicits._
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[CorpusDoc].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .as[CorpusDoc]
  }

  /** Start the incremental index-append stream. Each micro-batch builds a
    * posting segment; offsets checkpoint to `checkpointDir`, so restart
    * resumes exactly where it left off — strictly stronger than the
    * reference's start-at-last-ledger heuristic (ingest.go:56-78,
    * INGEST_GAP). The segment analyzer mode follows the base index's
    * persisted mode so streamed and batch postings tokenize identically.
    *
    * `mergeAtSegments` > 0 enables continuous MINOR compaction (the ES
    * background tiered merge the reference delegates to Lucene): whenever
    * the live segment count reaches the threshold, the batch's commit is
    * followed by `Compactor.mergeSegments`, concatenating them into one
    * consolidated segment — per-query listing/union cost stays bounded at
    * the threshold forever, without ever paying the full epoch fold. The
    * merge is idempotent and marker-committed, so a crash mid-merge leaves
    * the sources live and the half-merge invisible.
    */
  /** `screen`: optional INGEST-TIME decontamination (Dedup.DecontamScreen)
    * — each micro-batch is screened against the reference/eval set and
    * contaminated docs are dropped BEFORE the segment is built, so they are
    * never searchable (the batch-side alternative detects after indexing
    * and tombstones). The screen's ref artifacts are cached once at stream
    * start; the per-batch cost is the batch's own signature map plus an
    * equi-join against them — it rides the same trigger budget. Replays are
    * safe: the screen is deterministic, so a re-run batch drops the same
    * docs and the segment replay guard sees identical content.
    */
  def startIndexAppend(spark: SparkSession, srcDir: String, indexDir: String,
                       checkpointDir: String, avgdl: Double, salts: Int = 4,
                       baseDocId: Long = 1L << 40,
                       mergeAtSegments: Int = 0,
                       screen: Option[graft.ops.Dedup.DecontamScreen] = None): StreamingQuery = {
    val mode = IndexBuilder.openHandle(indexDir).mode
    source(spark, srcDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second")) // reference poll cadence
      .foreachBatch { (batch: Dataset[CorpusDoc], batchId: Long) =>
        val toIndex = screen match {
          case None => batch
          case Some(sc) =>
            import org.apache.spark.sql.functions.{col, xxhash64}
            import batch.sparkSession.implicits._
            // streamed docs carry no doc_id — key rows by a deterministic
            // hash of the natural key; the id only ever round-trips through
            // the screen's same-batch anti-join
            sc.clean(
                batch.toDF().withColumn("__sid",
                  xxhash64(col("repo"), col("path"), col("commit"))),
                idCol = "__sid", textCol = "content")
              .drop("__sid").as[CorpusDoc]
        }
        appendSegment(spark, toIndex, batchId, indexDir, avgdl, salts, baseDocId, mode)
        if (mergeAtSegments > 0 &&
            IndexBuilder.openHandle(indexDir).segmentDirs.size >= mergeAtSegments)
          graft.index.Compactor.mergeSegments(spark, indexDir)
        ()
      }
      .start()
  }

  /** Start the continuous ANN ingest stream — the vector-index twin of
    * startIndexAppend: embedding parquet files arriving under `srcDir` are
    * assigned against the frozen coarse quantizer and committed as
    * partitioned IVF append deltas (Similarity.ivfAppend), one delta per
    * micro-batch, NAMED by the batch id so foreachBatch's at-least-once
    * replays are idempotent (a committed tag skips; a tag consumed by an
    * ivfCompact fold fails loudly — the posting segment replay guard's
    * twin). Probes see each batch as soon as its marker lands; the
    * occasional `ivfCompact` folds the accumulated deltas into a retrained
    * epoch, exactly as `compact` folds posting segments.
    */
  /** Stream-namespaced delta tag: two concurrent ingest streams (distinct
    * checkpoints) into ONE IVF index must not collide on bare batch ids —
    * a colliding tag would make the second stream's batch look like a
    * replay and be silently skipped (data loss, not idempotence). The
    * namespace is a RUN ID minted once INSIDE the checkpoint dir (not a
    * hash of the path string): it survives restarts — replays keep their
    * tag and stay idempotent — but dies with the checkpoint, so a
    * deleted-and-recreated checkpoint gets a fresh namespace whose batches
    * can never be mistaken for the old lineage's folded tags (a path hash
    * would silently skip them), and path spellings don't matter (the id is
    * read from the directory, however it was named).
    */
  def ivfBatchTag(checkpointDir: String, batchId: Long): String =
    f"${ivfStreamRunId(checkpointDir)}-$batchId%06d"

  private[graft] def ivfStreamRunId(checkpointDir: String): String = {
    val p = s"$checkpointDir/graft-ivf-runid"
    graft.index.Fs.readString(p).map(_.trim).getOrElse {
      // two racing starts on one checkpoint dir are invalid in Structured
      // Streaming anyway; re-reading after the write converges them
      graft.index.Fs.writeString(p, java.util.UUID.randomUUID().toString.take(8))
      graft.index.Fs.readString(p).get.trim
    }
  }

  def startIvfAppend(spark: SparkSession, srcDir: String, ivfDir: String,
                     checkpointDir: String,
                     trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        // foreachBatch hands a Dataset bound to the stream's CLONED session
        // — run the append against that session, not the outer one
        if (!batch.isEmpty)
          graft.ops.Similarity.ivfAppend(batch.sparkSession, ivfDir, batch.toDF(),
            batchTag = Some(ivfBatchTag(checkpointDir, batchId)))
        ()
      }
      .start()
  }

  /** One micro-batch → one complete, searchable posting segment.
    * Deterministic within a batch: docIds are the dense rank of
    * (repo, path, commit) from the two-pass assignDocIds (NO global
    * single-partition window), offset into the batch's reserved id range.
    *
    * Job budget (the reference's cadence is a 1-second poll loop, so the
    * per-batch Spark-job count is the latency driver): exactly FOUR jobs
    * touch data — the assignDocIds count pass (which also materializes the
    * sorted cache all three writers reuse) and the docmeta / blocks /
    * positions writes. Everything else rides those jobs: the batch count
    * comes from assignDocIds' per-partition counts, Σdl is tallied by an
    * accumulator inside the docmeta write, and per-term df/maxImpact by an
    * accumulator inside the blocks write (both deduped by partitionId — the
    * tallies are pure functions of a partition's data, so task-retry
    * duplicates are identical). stats/termstats then write from driver-local
    * rows with no table re-read. (The first version ran ~8 jobs incl. two
    * full re-reads and overran the 1 s trigger.)
    */
  private[graft] def appendSegment(spark: SparkSession, batch: Dataset[CorpusDoc],
                                       batchId: Long, indexDir: String, avgdl: Double,
                                       salts: Int, baseDocId: Long,
                                       mode: Analyzer.Mode = Analyzer.Simple): Unit = {
    import spark.implicits._
    val segDir = s"$indexDir/ingest_segments/batch=$batchId"
    // replayed batch (foreachBatch is at-least-once): already committed → skip
    if (Fs.exists(s"$segDir/_DONE")) return
    // a name hidden by a past compaction/merge must not be reused — the new
    // segment would be INVISIBLE forever (happens when a checkpoint is
    // deleted and batchIds restart at 0 against an already-compacted index)
    require(!Catalog.of(indexDir).hidden(Fs.name(segDir)),
      s"segment name batch=$batchId was folded by a previous compaction — " +
        "restarting batch ids against a compacted index requires a fresh " +
        "checkpoint offset (or keep the original checkpoint dir)")
    // Micro-batch parallelism is sized to the BATCH, not the session: a
    // 1-second trigger sees at most ~(1<<20) docs and usually a few hundred
    // — 32-way shuffles there are pure fixed overhead (32 tasks + up to 32
    // parquet files per table per segment, which also bloats later listing
    // and compaction). Wide parallelism belongs to the batch build.
    val parts = math.min(spark.sessionState.conf.numShufflePartitions,
      sys.props.getOrElse("graft.ingest.partitions", "4").toInt)
    // micro-batches stay ON-HEAP: the DISK_ONLY default that wins for the
    // 600k-doc batch build (A/B in BENCH/BASELINE.md) would add per-batch
    // disk round-trips to the latency-critical 1 s-trigger path for a cache
    // of a few hundred rows
    val assigned = IndexBuilder.assignDocIds(spark, batch, parts,
      cacheLevel = Some("MEMORY_AND_DISK"))
    try {
      val cnt = assigned.n
      if (cnt == 0) return
      require(cnt < (1L << 20), s"micro-batch of $cnt docs exceeds the reserved id range")
      val base = baseDocId + batchId * (1L << 20)
      val saltBase = SegmentSaltBase.toLong + batchId * salts
      require(saltBase + salts <= Int.MaxValue, s"segment salt namespace exhausted at batch $batchId")

      // foreachBatch hands a Dataset bound to the stream's CLONED session —
      // temp functions must be registered there, not (only) on the outer one
      graft.functions.TokenStats.register(batch.sparkSession)
      graft.functions.TokenStats.register(spark)
      val tokenStats = call_function("token_stats", $"content", lit(mode.name))
      val withIds = assigned.df.select(($"docId" + base).as("docId"),
        $"repo", $"path", $"commit", $"lang", $"content",
        // docId-range salt over the batch's dense ranks
        (lit(saltBase) + least(floor($"docId" * salts / cnt), lit(salts - 1)))
          .cast("int").as("salt"))

      // The three table writes are independent once the id-assigned sort is
      // materialized (the count pass inside assignDocIds did that), so they
      // run CONCURRENTLY — wall time per batch ≈ count job + the slowest
      // write + the tiny driver-local stats writes, instead of the sum.
      val dlAcc = spark.sparkContext
        .collectionAccumulator[(Int, Long)](s"segment-dl-$batchId")
      val tsAcc = spark.sparkContext
        .collectionAccumulator[(Int, Map[String, (Long, Double)])](s"segment-ts-$batchId")
      // the per-batch vocabulary must fit on the driver (the termstats tally
      // ships one map per partition): bounded in practice by the 2^20 batch
      // cap, but a pathological batch (huge distinct-term docs) must fail
      // LOUDLY in the task instead of silently bloating driver memory
      // (VERDICT r3 wrong-item 3). Resolved driver-side, captured below.
      val maxTermsPerPartition =
        sys.props.getOrElse("graft.ingest.maxTermsPerPartition", "1000000").toInt
      val writers = Seq(
        // docmeta, Σdl tallied in-flight (no re-read job)
        () => withIds.select($"docId", $"repo", $"path", $"commit", $"lang",
            tokenStats.getField("dl").as("dl"), sha2($"content", 256).as("sha256"))
          .as[DocMeta]
          .mapPartitions(perPartitionTally[DocMeta, Long](dlAcc, 0L)((s, m) => s + m.dl))
          .write.mode("overwrite").parquet(s"$segDir/docmeta"),
        // posting blocks, per-term (df, maxImpact) tallied in-flight
        () => IndexBuilder.writePostings(withIds
          .select($"docId", $"salt", tokenStats.as("ts"))
          .select($"docId", $"salt", $"ts.dl".as("dl"), explode($"ts.tfs").as("tt"))
          .select($"tt.term".as("term"), $"salt", $"docId",
            graft.index.TermDoc.packMeta($"dl", $"tt.tf").as("meta"))
          .repartition(parts, $"term", $"salt")
          .sortWithinPartitions($"term", $"salt", $"docId")
          .as[graft.index.TermDoc]
          .mapPartitions(IndexBuilder.buildBlocks(_, avgdl))
          .mapPartitions(perPartitionTally[graft.index.PostingBlock,
              Map[String, (Long, Double)]](tsAcc, Map.empty) { (m, b) =>
            require(m.contains(b.term) || m.size < maxTermsPerPartition,
              s"micro-batch distinct-term tally exceeded $maxTermsPerPartition " +
                "terms in one partition — the per-batch vocabulary must fit on " +
                "the driver; shrink the batch (maxFilesPerTrigger) or raise " +
                "-Dgraft.ingest.maxTermsPerPartition")
            val (df0, mi0) = m.getOrElse(b.term, (0L, 0.0))
            m.updated(b.term, (df0 + b.n, math.max(mi0, b.maxImpact)))
          }), s"$segDir/blocks"),
        // positional postings — phrase search over the live union must see
        // streamed docs too (the batch positions stage is an explicit build;
        // per-batch occurrence volume is small, so segments carry positions
        // unconditionally)
        () => withIds.select($"docId", $"content").as[(Long, String)]
          .flatMap { case (docId, content) =>
            val ts = Analyzer.tokens(content, mode)
            Iterator.tabulate(ts.length)(i => (ts(i), docId, i))
          }.toDF("term", "docId", "pos")
          .repartition(parts, $"term", pmod($"docId", lit(64)))
          .sortWithinPartitions($"term", $"docId", $"pos")
          .as[(String, Long, Int)]
          .mapPartitions(IndexBuilder.buildPositionRows)
          .write.mode("overwrite").parquet(s"$segDir/positions"))
      IndexBuilder.runConcurrently(writers)

      // driver-local writes (tiny): per-segment corpus stats — n + Σdl, with
      // the avgdl the blocks' maxImpact was computed against (liveStats uses
      // it for the WAND bound factor) — and per-term stats, both from the
      // accumulators deduped by partitionId
      import scala.jdk.CollectionConverters._
      val tok = dlAcc.value.asScala.groupBy(_._1).map(_._2.head._2).sum
      val segAvgdl = tok.toDouble / cnt.toDouble
      val termstats = tsAcc.value.asScala.groupBy(_._1).map(_._2.head._2)
        .foldLeft(Map.empty[String, (Long, Double)]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (t, (df, mi))) =>
            val (df0, mi0) = a.getOrElse(t, (0L, 0.0))
            a.updated(t, (df0 + df, math.max(mi0, mi)))
          }
        }
      IndexBuilder.runConcurrently(Seq(
        () => Seq(IndexStats(cnt, segAvgdl, tok, avgdl)).toDS()
          .write.mode("overwrite").parquet(s"$segDir/stats"),
        () => termstats.toSeq.map { case (t, (df, mi)) => (t, df, mi) }
          .toDF("term", "df", "maxImpact")
          .coalesce(1).write.mode("overwrite").parquet(s"$segDir/termstats")))

      // marker LAST: readers treat marker-less segments as not-yet-ingested
      Fs.touch(s"$segDir/_DONE")
      Catalog.invalidate(indexDir)
    } finally assigned.release()
  }

  /** Wraps a partition iterator to fold rows into a per-partition tally and
    * add ONE (partitionId, tally) entry to `acc` as the writer drains the
    * stream — the driver dedupes by partitionId (task retries re-tally the
    * same data). Same pattern as IndexBuilder's lineage `tally`.
    */
  private def perPartitionTally[T, S](
      acc: org.apache.spark.util.CollectionAccumulator[(Int, S)], zero: S)(
      foldRow: (S, T) => S): Iterator[T] => Iterator[T] = { it =>
    new Iterator[T] {
      private val pid = org.apache.spark.TaskContext.getPartitionId()
      private var s = zero
      private var any = false
      private var emitted = false
      def hasNext: Boolean = {
        val hn = it.hasNext
        if (!hn && !emitted) { emitted = true; if (any) acc.add((pid, s)) }
        hn
      }
      def next(): T = {
        val t = it.next()
        s = foldRow(s, t)
        any = true
        t
      }
    }
  }

  /** Live metrics stream (the reference's `stats`/`es-stats` loop as a
    * real streaming agg): tumbling-window doc counts + byte volume with a
    * watermark for late data — none of which the reference has (SURVEY.md
    * §2 G: no watermark, no windows).
    */
  def liveMetrics(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    source(spark, srcDir)
      .withColumn("arrival", current_timestamp())
      .withWatermark("arrival", "10 seconds")
      .groupBy(window($"arrival", "5 seconds"), $"lang")
      .agg(count(lit(1)).as("docs"), sum(length($"content")).as("bytes"))
  }
}

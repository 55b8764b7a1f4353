package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{Compactor, IndexBuilder}
import graft.query.Searcher
import graft.streaming.StreamingIngest

/** Segment compaction (Compactor.scala): folding streamed segments into a
  * new epoch must be invisible to queries (bit-identical results), restore
  * the WAND bound factor to the fresh-build value (≈1), shrink the live
  * segment set to zero, and produce tables equal to a fresh build over the
  * union corpus — the strongest possible "merge happened correctly" check.
  */
class CompactionSpec extends AnyFunSuite with SparkSuite {

  private val queries = Seq("the", "import def", "postinglist docfreq", "zzz_rare_token")

  private def byCommit(h: IndexBuilder.Handle, q: String): Set[(String, Double)] =
    Searcher.topK(spark, h, q, Int.MaxValue).toDF()
      .join(h.docmetaAll(spark).toDF(), "docId")
      .select(col("commit"), col("score"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

  test("compact folds all segments: results bit-identical, boundFactor 1.0, epoch == fresh build") {
    import spark.implicits._
    val all = (0 until 90).map(i => Corpus.synthDoc(i, 17L))
    val idx = tmpDir("graft-compact-idx")
    val idxAll = tmpDir("graft-compact-all")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(50).toDS(), idx, cfg)
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(50, 65).toDS(), 0L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(65, 80).toDS(), 1L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(80, 90).toDS(), 2L, idx, avgdl, 4, 1L << 40)
    assert(h.segmentDirs.size == 3)
    val before = queries.map(q => q -> byCommit(h, q)).toMap // collected PRE-fold

    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.segmentDirs.isEmpty, "all segments must be folded")
    assert(hc.root != idx, "compaction must flip to an epoch root")
    val (stAfter, factorAfter) = hc.liveStats(spark)
    for (q <- queries)
      assert(byCommit(hc, q) == before(q), s"results changed across compaction for '$q'")

    // the folded epoch equals a FRESH build over the union corpus —
    // bit-identical docmeta (incl. re-ranked dense docIds), stats, postings,
    // and therefore the identical (near-1, sampled-buildAvgdl) bound factor
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll, cfg)
    assert(stAfter == hAll.stats(spark))
    assert(factorAfter == hAll.liveStats(spark)._2 && factorAfter < 1.1,
      s"bound factor must return to the fresh-build value, got $factorAfter")
    assert(hc.docmeta(spark).collect().sortBy(_.docId).toSeq ==
      hAll.docmeta(spark).collect().sortBy(_.docId).toSeq)
    def blockKey(b: graft.index.PostingBlock) =
      (b.term, b.salt, b.blockIdx, b.firstDocId, b.lastDocId, b.n, b.maxImpact,
        b.docDeltas.toSeq, b.tfs.toSeq, b.dls.toSeq)
    assert(hc.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq ==
      hAll.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq)
    // ...and searches over the two are bit-identical including docIds
    for (q <- queries)
      assert(Searcher.topK(spark, hc, q, Int.MaxValue).collect().toSeq ==
        Searcher.topK(spark, hAll, q, Int.MaxValue).collect().toSeq)

    // two-sided reconciliation over the epoch lineage passes
    Cli.run(spark, Seq("reconcile", idx))

    // idempotent: nothing left to fold
    assert(Compactor.compact(spark, idx, cfg).root == hc.root)
  }

  test("segments arriving AFTER a compaction fold into the next epoch") {
    import spark.implicits._
    val all = (0 until 60).map(i => Corpus.synthDoc(i, 23L))
    val idx = tmpDir("graft-compact2-idx")
    val idxAll = tmpDir("graft-compact2-all")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx, cfg)
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(40, 50).toDS(), 0L, idx, avgdl, 4, 1L << 40)
    val h1 = Compactor.compact(spark, idx, cfg)
    assert(h1.root.endsWith("epoch-000001"))
    // new micro-batch lands after the fold (checkpointed batchIds are
    // monotone, so the new batch id is fresh)
    StreamingIngest.appendSegment(spark, all.slice(50, 60).toDS(), 7L, idx,
      h1.stats(spark).avgdl, 4, 1L << 40)
    assert(h1.segmentDirs.size == 1)
    val h2 = Compactor.compact(spark, idx, cfg)
    assert(h2.root.endsWith("epoch-000002") && h2.segmentDirs.isEmpty)
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll, cfg)
    assert(h2.liveStats(spark)._2 == hAll.liveStats(spark)._2)
    for (q <- queries)
      assert(Searcher.topK(spark, h2, q, Int.MaxValue).collect().toSeq ==
        Searcher.topK(spark, hAll, q, Int.MaxValue).collect().toSeq)
  }

  test("positional tier survives compaction (phrase results == fresh build with positions)") {
    import spark.implicits._
    val all = (0 until 50).map(i => Corpus.synthDoc(i, 29L))
    val idx = tmpDir("graft-compact3-idx")
    val idxAll = tmpDir("graft-compact3-all")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(35).toDS(), idx, cfg)
    IndexBuilder.buildPositions(spark, all.take(35).toDS(), idx, h.mode)
    StreamingIngest.appendSegment(spark, all.drop(35).toDS(), 0L, idx,
      h.stats(spark).avgdl, 4, 1L << 40)
    val hc = Compactor.compact(spark, idx, cfg)
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll, cfg)
    IndexBuilder.buildPositions(spark, all.toDS(), idxAll, hAll.mode)
    assert(graft.query.Phrase.search(spark, hc, "the import").collect().toSeq ==
      graft.query.Phrase.search(spark, hAll, "the import").collect().toSeq)
  }

  test("minor merge concatenates segments: one segment, identical results, same bound factor") {
    import spark.implicits._
    val all = (0 until 80).map(i => Corpus.synthDoc(i, 37L))
    val idx = tmpDir("graft-merge-idx")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx, cfg)
    val avgdl = h.stats(spark).avgdl
    for (b <- 0 until 4)
      StreamingIngest.appendSegment(spark, all.slice(40 + b * 10, 50 + b * 10).toDS(),
        b.toLong, idx, avgdl, 4, 1L << 40)
    assert(h.segmentDirs.size == 4)
    val before = queries.map(q => q -> byCommit(h, q)).toMap
    val (stBefore, factorBefore) = h.liveStats(spark)

    val hm = Compactor.mergeSegments(spark, idx)
    assert(hm.segmentDirs.size == 1 && hm.segmentDirs.head.contains("merged="))
    val (stAfter, factorAfter) = hm.liveStats(spark)
    assert(stAfter == stBefore && factorAfter == factorBefore,
      "minor merge must not change live stats or the WAND bound factor")
    for (q <- queries)
      assert(byCommit(hm, q) == before(q), s"results changed across minor merge for '$q'")

    // tiered: another segment lands, second merge folds (merged=1 + batch=9)
    StreamingIngest.appendSegment(spark, all.slice(40, 45).toDS()
      .map(d => d.copy(commit = d.commit + "x")), 9L, idx, avgdl, 4, 1L << 40)
    val hm2 = Compactor.mergeSegments(spark, idx)
    assert(hm2.segmentDirs.size == 1 && hm2.segmentDirs.head.contains("merged=2"))
    // transitive replaces: the first merge's sources stay hidden even though
    // merged=1 (and its replaces file) is gone
    val rep = graft.index.Fs.readString(hm2.segmentDirs.head + "/replaces").get
    assert(rep.contains("merged=1") && rep.contains("batch=0"))

    // the full fold still works over a merged segment
    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.segmentDirs.isEmpty && hc.liveStats(spark)._2 < 1.1)

    // name-recycling guard: merged=1/2 were folded (their names live in
    // folded_segments forever) — a post-compaction merge must mint a FRESH
    // name, or the new segment would be permanently invisible
    StreamingIngest.appendSegment(spark, all.slice(45, 50).toDS()
      .map(d => d.copy(commit = d.commit + "y")), 20L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(50, 55).toDS()
      .map(d => d.copy(commit = d.commit + "z")), 21L, idx, avgdl, 4, 1L << 40)
    val hm3 = Compactor.mergeSegments(spark, idx)
    assert(hm3.segmentDirs.size == 1 && hm3.segmentDirs.head.contains("merged=3"),
      s"post-compaction merge must not recycle a folded name: ${hm3.segmentDirs}")
    // ...and a replayed batch id that a compaction folded fails LOUDLY
    // instead of writing an invisible segment. While the folded dir still
    // exists (GC grace) the _DONE skip correctly treats the replay as
    // committed; once GC has removed it, only the hidden-name guard stands
    // between the replay and silent data loss — simulate the post-GC state.
    graft.index.Fs.delete(s"$idx/ingest_segments/batch=0")
    graft.index.Catalog.invalidate(idx)
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.appendSegment(spark, all.slice(40, 45).toDS(),
        0L, idx, avgdl, 4, 1L << 40)
    }
    assert(ex.getMessage.contains("folded"))
  }

  test("pre-v3 stats (no buildAvgdl) mixed with v3: liveStats and minor merge agree, buildAvgdl = avgdl per v2 row") {
    import spark.implicits._
    val all = (0 until 60).map(i => Corpus.synthDoc(i, 41L))
    val idx = tmpDir("graft-v2stats-idx")
    val h = IndexBuilder.build(spark, all.take(30).toDS(), idx, IndexBuilder.Config(salts = 4))
    val avgdl = h.stats(spark).avgdl
    // batch=1 appends with a buildAvgdl far below every avgdl, so it is the
    // v3 row that sets the minimum — a v2 rule leaking onto it would show
    StreamingIngest.appendSegment(spark, all.slice(30, 45).toDS(), 0L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(45, 60).toDS(), 1L, idx, avgdl / 4, 4, 1L << 40)
    val Seq(v2Seg, v3Seg) = h.segmentDirs.sorted
    // rewrite batch=0's stats the way a v2 build wrote them: no buildAvgdl
    val v2 = IndexBuilder.readStats(spark, Seq(s"$v2Seg/stats")).head
    Seq((v2.n, v2.avgdl, v2.totalTokens)).toDF("n", "avgdl", "totalTokens")
      .write.mode("overwrite").parquet(s"$v2Seg/stats")
    val base = h.stats(spark)
    val v3 = IndexBuilder.readStats(spark, Seq(s"$v3Seg/stats")).head
    assert(v3.buildAvgdl == avgdl / 4 && v3.buildAvgdl != v3.avgdl)
    // one multi-path read keeps each row's own meaning
    val mixed = IndexBuilder.readStats(spark,
      Seq(s"${h.root}/stats", s"$v2Seg/stats", s"$v3Seg/stats"))
    assert(mixed.toSet == Set(base, v2.copy(buildAvgdl = v2.avgdl), v3))

    val n = base.n + v2.n + v3.n
    val tok = base.totalTokens + v2.totalTokens + v3.totalTokens
    val minBuild = Seq(base.buildAvgdl, v2.avgdl, v3.buildAvgdl).min
    val want = (graft.index.IndexStats(n, tok.toDouble / n, tok, minBuild),
      math.max(1.0, (tok.toDouble / n) / minBuild))
    assert(h.liveStats(spark) == want)
    val beforeHits = queries.map(q => q -> byCommit(h, q)).toMap

    val hm = Compactor.mergeSegments(spark, idx)
    assert(hm.segmentDirs.size == 1)
    assert(hm.liveStats(spark) == want, "minor merge changed live stats over mixed v2/v3 stats")
    for (q <- queries)
      assert(byCommit(hm, q) == beforeHits(q), s"results changed across minor merge for '$q'")
  }

  test("ingest stream with mergeAtSegments keeps the live segment count bounded") {
    import spark.implicits._
    val src = tmpDir("graft-automerge-src")
    val idx = tmpDir("graft-automerge-idx")
    val ckp = tmpDir("graft-automerge-ckp")
    val docs = (0 until 60).map(i => Corpus.synthDoc(i, 41L))
    for (g <- docs.grouped(10))
      g.toDS().coalesce(1).write.mode("append").parquet(src)
    val q = StreamingIngest.startIndexAppend(spark, src, idx, ckp, avgdl = 80.0,
      mergeAtSegments = 3)
    q.processAllAvailable()
    q.stop()
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    assert(h.segmentDirs.size <= 3,
      s"auto-merge should bound live segments at 3, got ${h.segmentDirs.size}")
    // every streamed doc searchable exactly once
    val ids = spark.read.parquet(h.segmentDirs.map(_ + "/docmeta"): _*)
      .select(col("docId")).collect().map(_.getLong(0))
    assert(ids.length == 60 && ids.distinct.length == 60)
  }

  test("queries stay correct while ingest and auto-merge run concurrently") {
    import spark.implicits._
    val src = tmpDir("graft-conc-src")
    val idx = tmpDir("graft-conc-idx")
    val ckp = tmpDir("graft-conc-ckp")
    val idxAll = tmpDir("graft-conc-all")
    val all = (0 until 100).map(i => Corpus.synthDoc(i, 47L))
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx,
      IndexBuilder.Config(salts = 4))
    for (g <- all.drop(40).grouped(10))
      g.toDS().coalesce(1).write.mode("append").parquet(src)
    val q = StreamingIngest.startIndexAppend(spark, src, idx, ckp,
      avgdl = h.stats(spark).avgdl, mergeAtSegments = 2)
    // hammer queries from this thread while micro-batches append and merges
    // flip segment visibility — every call must succeed (snapshot caches,
    // GC grace) and return a valid prefix of the growing corpus
    var queries = 0
    val deadline = System.currentTimeMillis() + 60000
    try {
      while (q.isActive && !q.recentProgress.exists(_.numInputRows == 0) &&
             System.currentTimeMillis() < deadline) {
        val hits = Searcher.topK(spark, IndexBuilder.openHandle(idx),
          "the import", 10).collect()
        assert(hits.nonEmpty)
        queries += 1
      }
      q.processAllAvailable()
    } finally q.stop()
    assert(queries > 3, s"expected several concurrent queries, ran $queries")
    // final state equals a fresh build over the full corpus
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll,
      IndexBuilder.Config(salts = 4))
    for (query <- queries0)
      assert(byCommit(IndexBuilder.openHandle(idx), query) == byCommit(hAll, query),
        s"post-ingest results differ for '$query'")
  }

  private val queries0 = Seq("the", "import def", "zzz_rare_token")

  test("delete+rebuild of the same dir invalidates query caches (fingerprint stamp)") {
    import spark.implicits._
    val idx = tmpDir("graft-rebuild-idx")
    val cfg = IndexBuilder.Config(salts = 2)
    val a = (0 until 30).map(i => Corpus.synthDoc(i, 43L))
    IndexBuilder.build(spark, a.toDS(), idx, cfg)
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    val before = Searcher.topK(spark, h, "the import", Int.MaxValue).collect().toSeq
    assert(before.nonEmpty)
    // rebuild the SAME dir over a disjoint half-corpus (create-index --force
    // + export pattern); cached blocks/df/stats must not survive
    Cli.run(spark, Seq("create-index", idx, "--force"))
    Thread.sleep(5) // marker mtime resolution
    IndexBuilder.build(spark, a.take(10).toDS(), idx, cfg)
    graft.index.Catalog.invalidate(idx)
    val after = Searcher.topK(spark, h, "the import", Int.MaxValue).collect().toSeq
    assert(after != before && after.nonEmpty,
      "query over the rebuilt index served the old corpus's cached postings")
    val fresh = IndexBuilder.build(spark, a.take(10).toDS(), tmpDir("graft-rebuild-b"), cfg)
    assert(after == Searcher.topK(spark, fresh, "the import", Int.MaxValue).collect().toSeq)
  }

  test("tombstones: live deletes vanish from every query path, scores unchanged (Lucene semantics)") {
    import spark.implicits._
    val all = (0 until 60).map(i => Corpus.synthDoc(i, 61L))
    val idx = tmpDir("graft-tomb-idx")
    val h = IndexBuilder.build(spark, all.toDS(), idx, IndexBuilder.Config(salts = 4))
    val preTop = Searcher.topK(spark, h, "the import", Int.MaxValue).collect()
      .map(x => (x.docId, x.score)).toMap
    // tombstone every docId % 3 == 0
    val deadIds = h.docmeta(spark).collect().map(_.docId).filter(_ % 3 == 0).toSet
    Compactor.tombstone(spark, idx, deadIds.toSeq.toDF("docId"))
    // exhaustive search: dead docs gone, surviving scores BIT-IDENTICAL
    val post = Searcher.topK(spark, h, "the import", Int.MaxValue).collect()
      .map(x => (x.docId, x.score)).toMap
    assert(post.keySet == preTop.keySet.filterNot(deadIds), "membership must drop exactly the tombstoned docs")
    post.foreach { case (d, s) => assert(s == preTop(d), s"score changed for live doc $d") }
    // finite k: dead docs' slots go to the next-best LIVE docs
    val top5 = Searcher.topK(spark, h, "the import", 5).collect().map(_.docId)
    val want5 = preTop.toSeq.filterNot { case (d, _) => deadIds(d) }
      .sortBy { case (d, s) => (-s, d) }.take(5).map(_._1)
    assert(top5.toSeq == want5, "finite-k must backfill deleted slots with live docs")
    // distributed path agrees
    val dist = Searcher.topK(spark, h, "the import", Int.MaxValue,
      driverPathMaxPostings = 0L).collect().map(x => (x.docId, x.score)).toMap
    assert(dist == post, "driver and distributed paths must agree under tombstones")
    // exact term lookup excludes dead docs too
    val lk = Searcher.termLookup(spark, h, "the").collect().map(_.getLong(0)).toSet
    assert(lk.intersect(deadIds).isEmpty && lk.nonEmpty)
    // _count excludes dead docs on BOTH paths — and the single-term form
    // must NOT take the df metadata shortcut while a delete set is live
    // (df counts tombstoned docs until a compact purges them)
    assert(Searcher.countMatching(spark, h, "the import")
      .collect().head.getLong(0) == post.size.toLong)
    assert(Searcher.countMatching(spark, h, "the import",
      driverPathMaxPostings = 0L).collect().head.getLong(0) == post.size.toLong)
    assert(Searcher.countMatching(spark, h, "the")
      .collect().head.getLong(0) == lk.size.toLong)
  }

  test("compact after tombstoning == fresh build over the surviving corpus (bit-identical)") {
    import spark.implicits._
    val all = (0 until 90).map(i => Corpus.synthDoc(i, 67L))
    val idx = tmpDir("graft-tombc-idx")
    val idxSurv = tmpDir("graft-tombc-surv")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(70).toDS(), idx, cfg)
    StreamingIngest.appendSegment(spark, all.drop(70).toDS(), 0L, idx,
      h.stats(spark).avgdl, 4, 1L << 40)
    // tombstone a batch-index subset AND a streamed subset (commit-keyed)
    val deadCommits = all.zipWithIndex.collect { case (d, i) if i % 5 == 2 => d.commit }.toSet
    val dead = h.docmetaAll(spark).toDF()
      .filter(col("commit").isin(deadCommits.toSeq: _*)).select(col("docId"))
    Compactor.tombstone(spark, idx, dead)
    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.segmentDirs.isEmpty && hc.snapshot.tombstoneDirs.isEmpty,
      "compaction must fold segments AND purge the delete set")
    // the epoch equals a FRESH build over the survivors — stats, docmeta
    // (re-ranked dense ids), postings blocks, searches
    val surv = all.filterNot(d => deadCommits(d.commit))
    val hS = IndexBuilder.build(spark, surv.toDS(), idxSurv, cfg)
    assert(hc.stats(spark) == hS.stats(spark))
    assert(hc.docmeta(spark).collect().sortBy(_.docId).toSeq ==
      hS.docmeta(spark).collect().sortBy(_.docId).toSeq)
    def blockKey(b: graft.index.PostingBlock) =
      (b.term, b.salt, b.blockIdx, b.firstDocId, b.lastDocId, b.n, b.maxImpact,
        b.docDeltas.toSeq, b.tfs.toSeq, b.dls.toSeq)
    assert(hc.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq ==
      hS.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq)
    for (q <- queries)
      assert(Searcher.topK(spark, hc, q, Int.MaxValue).collect().toSeq ==
        Searcher.topK(spark, hS, q, Int.MaxValue).collect().toSeq)
    // tombstone-only compact (no live segments): deletes alone justify a
    // fold (Handle.root resolves the live catalog, so pin pre-fold values)
    val rootBefore = hc.root
    val nBefore = hc.docmeta(spark).count()
    val dead2 = hc.docmeta(spark).collect().map(_.docId).filter(_ % 7 == 1)
    Compactor.tombstone(spark, idx, dead2.toSeq.toDF("docId"))
    val hc2 = Compactor.compact(spark, idx, cfg)
    assert(hc2.root != rootBefore, "a delete-only compact must still fold a new epoch")
    assert(hc2.docmeta(spark).count() == nBefore - dead2.length)
  }

  test("maintenance lock: merge skips while held, compact fails loudly, stale locks break") {
    import spark.implicits._
    val idx = tmpDir("graft-lock-idx")
    val all = (0 until 40).map(i => Corpus.synthDoc(i, 53L))
    val h = IndexBuilder.build(spark, all.take(20).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(20, 30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(30, 40).toDS(), 1L, idx, avgdl, 2, 1L << 40)
    // a peer holds the lock: opportunistic merge must SKIP (segments stay)
    assert(Compactor.tryMaintLock(idx).nonEmpty)
    assert(Compactor.mergeSegments(spark, idx).segmentDirs.size == 2)
    // ...and compact must fail loudly after its bounded wait
    sys.props("graft.maint.lock.wait.ms") = "300"
    try {
      val ex = intercept[IllegalArgumentException] { Compactor.compact(spark, idx) }
      assert(ex.getMessage.contains("_MAINT"))
    } finally sys.props.remove("graft.maint.lock.wait.ms")
    // a CRASHED holder's lock (stale mtime) is broken and the op proceeds
    val lock = new java.io.File(idx, "_MAINT")
    assert(lock.setLastModified(
      System.currentTimeMillis() - Compactor.maintLockStaleMs - 2000))
    val hm = Compactor.mergeSegments(spark, idx)
    assert(hm.segmentDirs.size == 1, "stale lock must be broken, merge must run")
    assert(!lock.exists, "lock must be released when the op completes")
  }

  test("a lock stolen mid-body aborts the op BEFORE its commit artifact exists") {
    import spark.implicits._
    val idx = tmpDir("graft-steal-idx")
    val all = (0 until 40).map(i => Corpus.synthDoc(i, 61L))
    val h = IndexBuilder.build(spark, all.take(30).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.drop(30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    def steal(label: String)(op: => Unit): Unit = {
      Compactor.beforeCommitHook = l =>
        if (l == label) graft.index.Fs.writeString(s"$idx/_MAINT", "thief")
      try {
        val ex = intercept[IllegalStateException](op)
        assert(ex.getMessage.contains("lost"))
      } finally {
        Compactor.beforeCommitHook = _ => ()
        graft.index.Fs.delete(s"$idx/_MAINT") // evict the thief for the next phase
      }
    }
    // compact: the CURRENT flip must not have happened — the epoch pointer
    // (the commit artifact) must not exist and queries still see genesis+segment
    steal("compact") { Compactor.compact(spark, idx) }
    assert(!graft.index.Fs.exists(s"$idx/CURRENT"),
      "stolen-lock compact must abort BEFORE the CURRENT flip")
    assert(IndexBuilder.openHandle(idx).segmentDirs.size == 1)
    // tombstone: no committed (_DONE'd) delete delta may exist
    steal("tombstone") {
      Compactor.tombstone(spark, idx, Seq(0L).toDF("docId"))
    }
    assert(IndexBuilder.openHandle(idx).snapshot.tombstoneDirs.isEmpty,
      "stolen-lock tombstone must abort BEFORE its _DONE marker")
    // merge: no committed merged=* segment may be visible
    steal("merge") { Compactor.mergeSegments(spark, idx, minSegments = 1) }
    assert(!IndexBuilder.openHandle(idx).segmentDirs.exists(
      d => graft.index.Fs.name(d).startsWith("merged=")),
      "stolen-lock merge must abort BEFORE its _DONE marker")
    // after the steals, the index is fully operational
    assert(Compactor.compact(spark, idx).segmentDirs.isEmpty)
  }

  test("gc reconcile sweeps crash-leaked dirs (hidden-but-undeferred segments, dead half-merges)") {
    import spark.implicits._
    val idx = tmpDir("graft-gcrec-idx")
    val all = (0 until 40).map(i => Corpus.synthDoc(i, 59L))
    val h = IndexBuilder.build(spark, all.take(20).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(20, 30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(30, 40).toDS(), 1L, idx, avgdl, 2, 1L << 40)
    Compactor.mergeSegments(spark, idx) // hides batch=0/1, defers them in _gc
    // simulate the crash window between commit and gcDefer: the ledger is gone
    graft.index.Fs.delete(s"$idx/_gc")
    // and a crashed half-merge: a merged=* dir that never got its _DONE
    graft.index.Fs.mkdirs(s"$idx/ingest_segments/merged=99")
    new java.io.File(s"$idx/ingest_segments/merged=99")
      .setLastModified(System.currentTimeMillis() - 60000)
    sys.props("graft.gc.grace.ms") = "150"
    try {
      Compactor.mergeSegments(spark, idx) // reconcile re-records the leaked dirs
      assert(!graft.index.Fs.exists(s"$idx/ingest_segments/merged=99"),
        "dead _DONE-less merge dir must be deleted")
      assert(graft.index.Fs.readString(s"$idx/_gc").exists(c =>
        c.contains("batch=0") && c.contains("batch=1")),
        "hidden-but-undeferred segments must re-enter the GC ledger")
      Thread.sleep(300) // past the grace period
      Compactor.mergeSegments(spark, idx) // next maintenance op sweeps them
      assert(!graft.index.Fs.exists(s"$idx/ingest_segments/batch=0") &&
        !graft.index.Fs.exists(s"$idx/ingest_segments/batch=1"),
        "leaked segment dirs must be physically deleted after the grace period")
    } finally sys.props.remove("graft.gc.grace.ms")
    // the index is still fully correct after the sweeps
    val hAll = IndexBuilder.build(spark, all.toDS(), tmpDir("graft-gcrec-all"),
      IndexBuilder.Config(salts = 2))
    for (q <- queries0)
      assert(byCommit(IndexBuilder.openHandle(idx), q) == byCommit(hAll, q))
  }

  test("phrase query on an index without the positional tier fails loudly") {
    import spark.implicits._
    val idx = tmpDir("graft-nopos-idx")
    val h = IndexBuilder.build(spark, (0 until 20).map(i => Corpus.synthDoc(i, 31L)).toDS(),
      idx, IndexBuilder.Config(salts = 2))
    val ex = intercept[IllegalArgumentException] {
      graft.query.Phrase.search(spark, h, "the import").collect()
    }
    assert(ex.getMessage.contains("positional"))
  }
}

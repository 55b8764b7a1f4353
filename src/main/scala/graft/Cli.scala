package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.analyze.Analyzer
import graft.corpus.Corpus
import graft.index.{CorpusDoc, IndexBuilder}
import graft.query.Searcher
import graft.streaming.StreamingIngest

/** CLI — the reference's command surface (main.go:19-41: `create-index`,
  * `export`, `ingest`, `stats`, `es-stats`) re-expressed over the Spark
  * engine, so a user of the reference can run the same operations:
  *
  *   graft.Cli create-index <indexDir> [--force]
  *   graft.Cli export <srcDir> <indexDir> [--mode simple|code|trigram]
  *             [--salts N] [--partitions N] [--positions] [--dry-run] [--verbose]
  *   graft.Cli ingest <srcDir> <indexDir> <checkpointDir> [--seconds S]
  *   graft.Cli stats <indexDir>
  *   graft.Cli compact <indexDir>     (fold streamed segments into the batch index)
  *   graft.Cli tombstone <indexDir> <docIdsParquet> | --dedup <srcDir>
  *                                    (index-level delete; purged at compact)
  *   graft.Cli reconcile <indexDir>   (two-sided lineage-vs-written check)
  *   graft.Cli search <indexDir> <k> <query terms...> [--and] [--fuzzy]
  *             [--not "<terms>"] [--sort-by field[:asc|desc]] [--collapse field]
  *             (clauses may carry ES-style boosts: term^2.5)
  *   graft.Cli suggest <indexDir> <prefix> [--k N]   (dictionary autocomplete)
  *   graft.Cli explain <indexDir> <docId> <query terms...>  (score breakdown)
  *   graft.Cli wildcard <indexDir> <k> <pattern>   (dictionary-rewrite search)
  *   graft.Cli regexp <indexDir> <k> <pattern>     (anchored-regex rewrite search)
  *   graft.Cli percolate <queriesParquet> <docsParquet>  (stored queries vs incoming docs)
  *   graft.Cli mlt <indexDir> <docsParquet> <doc_id> [--terms N] [--k K]
  *   graft.Cli snapshot <indexDir> <destDir>   (pinned-state backup, sha256 manifest)
  *   graft.Cli restore <snapDir> <destDir>     (manifest-verified restore)
  *   graft.Cli verify-snapshot <snapDir>       (re-hash in place)
  *
  * `export` accepts either a directory containing `documents.parquet`
  * (the driver stand-in, mapped per FIXTURES.md §2) or a parquet table
  * already in the corpus shape (repo, path, commit, lang, content).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    // under spark-submit the master + parallelism come from the cluster
    // deploy config; the local[] fallback is for bare `sbt runMain` use.
    // Defaults are applied only when the deploy config did NOT set them —
    // builder options land on top of spark-submit's properties, so an
    // unconditional .config() would silently override --conf/--name.
    var b = SparkSession.builder()
    def default(key: String, value: String): Unit =
      if (!sys.props.contains(key)) b = b.config(key, value)
    default("spark.app.name", "graft")
    default("spark.sql.session.timeZone", "UTC")
    default("spark.sql.adaptive.enabled", "true")
    if (!sys.props.contains("spark.master")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      b = b.master(s"local[$cpus]")
      default("spark.sql.shuffle.partitions", cpus)
      default("spark.ui.enabled", "false")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq)
    finally spark.stop()
  }

  private def flag(args: Seq[String], name: String): Boolean = args.contains(name)

  // Every value-taking flag read via opt() MUST be registered here: the
  // positional-term walk (positionalArgs) uses this set to skip a flag's
  // value, so an unregistered flag's value would silently join the query
  // terms. Registered once, consumed by both sides — the two cannot drift.
  private val ValueFlags = Set("--after", "--min-match", "--k", "--terms",
    "--mode", "--salts", "--seconds", "--merge-at", "--threshold",
    "--tombstone", "--lists", "--dedup", "--partitions", "--not", "--sort-by",
    "--collapse")

  private def opt(args: Seq[String], name: String, dflt: String): String = {
    require(ValueFlags(name), s"unregistered value flag $name — add it to ValueFlags")
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else dflt
  }

  /** Non-flag tokens of `args`, with each value-taking flag consuming its
    * NEXT token — so a positional term that happens to equal a flag's
    * value is never dropped.
    */
  private def positionalArgs(args: Seq[String]): Seq[String] = {
    val r = args.toIndexedSeq
    val b = Seq.newBuilder[String]
    var i = 0
    while (i < r.length) {
      if (ValueFlags(r(i))) i += 2
      else { if (!r(i).startsWith("--")) b += r(i); i += 1 }
    }
    b.result()
  }

  private def corpusOf(spark: SparkSession, srcDir: String): Dataset[CorpusDoc] = {
    import spark.implicits._
    if (graft.index.Fs.exists(s"$srcDir/documents.parquet"))
      Corpus.fromDocuments(spark, srcDir)
    else spark.read.parquet(srcDir)
      .select("repo", "path", "commit", "lang", "content").as[CorpusDoc]
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = args.toList match {
    case "create-index" :: dir :: rest =>
      // --force drop-recreate (commands/create-index.go:29-42 analog)
      if (flag(rest, "--force")) graft.index.Fs.delete(dir)
      require(graft.index.Fs.isAbsentOrEmptyDir(dir), s"index exists at $dir (use --force)")
      graft.index.Fs.mkdirs(dir)
      println(s"created $dir")

    case "export" :: srcDir :: indexDir :: rest =>
      val mode = opt(rest, "--mode", "simple") match {
        case "code" => Analyzer.Code
        case "trigram" => Analyzer.Trigram(Analyzer.Simple)
        case _ => Analyzer.Simple
      }
      if (flag(rest, "--verbose")) sys.props("graft.timing") = "1"
      val corpus = corpusOf(spark, srcDir)
      if (flag(rest, "--dry-run")) {
        // what WOULD be written, committing nothing (config/main.go:104-107,
        // export.go:77-87 analog)
        import spark.implicits._
        val byLang = corpus.groupByKey(_.lang).count().collect().sortBy(_._1)
        val n = byLang.map(_._2).sum
        println(s"dry-run: would index n=$n docs (mode=${mode.name}) -> $indexDir")
        byLang.foreach { case (l, c) => println(f"  $l%-8s $c%10d docs") }
        println(s"  stages: docmeta, stats, postings, termstats (+ lineage, analyzer_mode)")
      } else {
        val cfg = IndexBuilder.Config(
          salts = opt(rest, "--salts", "8").toInt,
          partitions = opt(rest, "--partitions", "0").toInt,
          mode = mode)
        val h = IndexBuilder.build(spark, corpus, indexDir, cfg)
        // positional tier is an EXPLICIT opt-in: it shuffles every token
        // occurrence (costs more than all other stages combined), so only
        // --positions builds it; phrase queries without it fail loudly.
        if (flag(rest, "--positions"))
          IndexBuilder.buildPositions(spark, corpus, indexDir, mode, cfg.partitions)
        val st = h.stats(spark)
        println(s"indexed n=${st.n} docs, avgdl=${st.avgdl}, tokens=${st.totalTokens} -> $indexDir")
      }

    case "ingest" :: srcDir :: indexDir :: ckp :: rest =>
      val secs = opt(rest, "--seconds", "10").toInt
      // continuous minor compaction by default: live segment count stays
      // bounded (the ES background-merge cadence); --merge-at 0 disables
      val mergeAt = opt(rest, "--merge-at", "8").toInt
      val avgdl = try IndexBuilder.openHandle(indexDir).stats(spark).avgdl
        catch { case _: Throwable => 80.0 }
      val q = StreamingIngest.startIndexAppend(spark, srcDir, indexDir, ckp, avgdl,
        mergeAtSegments = mergeAt)
      q.awaitTermination(secs * 1000L)
      q.stop()
      println(s"ingest stopped; segments under $indexDir/ingest_segments")

    case "compact" :: indexDir :: _ =>
      // fold completed streamed segments into the batch index (new epoch,
      // atomic CURRENT flip — Compactor.scala); the ES background-merge
      // analog, here an explicit maintenance command. Also runs when only
      // TOMBSTONES are pending: a delete-only fold purges them physically.
      val snap0 = IndexBuilder.openHandle(indexDir).snapshot
      val before = snap0.segmentDirs.size
      val tombs = snap0.tombstoneDirs.size
      if (before == 0 && tombs == 0)
        println("nothing to compact (no live segments, no tombstones)")
      else {
        val h = graft.index.Compactor.compact(spark, indexDir)
        val st = h.stats(spark)
        println(s"compacted $before segment(s), purged $tombs tombstone delta(s) " +
          s"-> ${h.root} (n=${st.n}, avgdl=${st.avgdl}); " +
          s"live segments now ${h.segmentDirs.size}")
      }

    case "tombstone" :: indexDir :: rest =>
      // index-level DELETE (Compactor.tombstone): docIds from an explicit
      // parquet/file list, or derived from dedup verdicts over a corpus
      // (--dedup <srcDir>: tombstone every non-keeper of Dedup.dedupClusters
      // resolved through docmeta — the enforcement step after dedup).
      import org.apache.spark.sql.functions._
      val h = IndexBuilder.openHandle(indexDir)
      // ONE snapshot: docIds are epoch-scoped, so the ids resolved here are
      // committed with an expectRoot guard — if a peer compaction re-ranks
      // the epoch while we wait for the maintenance lock, tombstone fails
      // loudly instead of deleting re-ranked (wrong) documents
      val snap = h.snapshot
      val dead: org.apache.spark.sql.DataFrame = opt(rest, "--dedup", "") match {
        case "" =>
          val idsPath = positionalArgs(rest).headOption.getOrElse(
            sys.error("usage: tombstone <indexDir> <docIdsParquet> | --dedup <srcDir>"))
          spark.read.parquet(idsPath)
        case srcDir =>
          // docmeta.path is "lang/doc_id" for documents-shaped corpora
          // (FIXTURES.md §2) — resolve verdict doc_ids to index docIds over
          // batch ∪ STREAMED docmeta (a loser ingested via streaming must
          // be enforceable too, the primary delete-without-re-export case)
          snap.docmetaAll(spark).toDF()
            .select(col("docId"),
              element_at(split(col("path"), "/"), 2).cast("long").as("doc_id"))
            .join(graft.ops.Dedup.losers(spark, srcDir), "doc_id")
            .select(col("docId"))
      }
      graft.index.Compactor.tombstone(spark, indexDir, dead,
        expectRoot = Some(snap.root))
      // count without collecting (the resident-set cap must not make a
      // COMMITTED delete look failed, and 10M longs need not visit the
      // driver to be counted)
      val dirs = h.snapshot.tombstoneDirs
      val n = IndexBuilder.readTable[graft.index.TombstoneRow](spark, dirs.map(_ + "/ids"): _*)
        .select(col("docId")).distinct().count()
      println(s"tombstoned; delete set now $n docId(s) — " +
        "hidden from queries immediately, purged at the next `compact`")

    case "reconcile" :: indexDir :: _ =>
      // TWO-SIDED reconciliation (the es-stats analog, commands/stats.go:
      // 44-64: source ranges vs query-side counts): recount what was
      // actually WRITTEN — tables and streamed segments — and compare to
      // the build-side lineage claims. Exit nonzero on any mismatch.
      val h = IndexBuilder.openHandle(indexDir)
      val lin = h.lineage(spark).collect().groupBy(_.stage)
      var bad = 0
      println(f"${"stage"}%-10s ${"lineage"}%12s ${"written"}%12s  status")
      for (stage <- Seq("docmeta", "stats", "postings", "termstats")) {
        val expected = lin.get(stage).map(_.map(_.rows).sum).getOrElse(-1L)
        val actual =
          try IndexBuilder.stageTable(spark, h.root, stage).count()
          catch { case _: Throwable => -2L }
        val ok = expected == actual
        if (!ok) bad += 1
        println(f"$stage%-10s $expected%12d $actual%12d  ${if (ok) "OK" else "MISMATCH"}")
      }
      for (seg <- h.segmentDirs) {
        val st = IndexBuilder.readStats(spark, Seq(s"$seg/stats")).head
        val actual = IndexBuilder.readTable[graft.index.DocMeta](spark, s"$seg/docmeta").count()
        val ok = st.n == actual
        if (!ok) bad += 1
        val name = graft.index.Fs.name(seg)
        println(f"$name%-10s ${st.n}%12d $actual%12d  ${if (ok) "OK" else "MISMATCH"}")
      }
      require(bad == 0, s"$bad stage(s) failed reconciliation")

    case "stats" :: indexDir :: _ =>
      // lineage report — the `stats` analog (commands/stats.go:20-67):
      // per-stage row counts, docId coverage, byte volume.
      import spark.implicits._
      val lin = IndexBuilder.openHandle(indexDir).lineage(spark)
        .groupByKey(_.stage)
        .mapGroups { (stage, it) =>
          val rows = it.toSeq
          (stage, rows.map(_.rows).sum, rows.map(_.docIdMin).min,
            rows.map(_.docIdMax).max, rows.map(_.bytes).sum, rows.size)
        }
        .collect().sortBy(_._1)
      println(f"${"stage"}%-10s ${"rows"}%12s ${"docIdMin"}%12s ${"docIdMax"}%12s ${"bytes"}%12s parts")
      lin.foreach { case (s, r, mn, mx, b, p) =>
        println(f"$s%-10s $r%12d $mn%12d $mx%12d $b%12d $p%5d")
      }

    // snapshot / restore / verify-snapshot — the ES `_snapshot` API analog
    // (index backup + migration): one pinned catalog state copied with
    // per-file sha256 under the maintenance lock; a completed snapshot dir
    // is itself an openable index (Snapshotter scaladoc)
    case "snapshot" :: indexDir :: destDir :: Nil =>
      val n = graft.index.Snapshotter.snapshot(spark, indexDir, destDir)
      println(s"snapshot complete: $n file(s) -> $destDir")

    case "restore" :: snapDir :: destDir :: Nil =>
      val n = graft.index.Snapshotter.restore(spark, snapDir, destDir)
      println(s"restore complete: $n file(s) verified -> $destDir")

    case "verify-snapshot" :: snapDir :: Nil =>
      val bad = graft.index.Snapshotter.verify(spark, snapDir)
      if (bad.isEmpty) println("snapshot intact")
      else sys.error(s"snapshot CORRUPT: ${bad.size} file(s) failed " +
        s"verification: ${bad.take(10).mkString(", ")}")

    case "decontaminate-emb" :: corpusDir :: refDir :: rest =>
      // the SEMANTIC decontamination tier over embeddings tables;
      // --tombstone <ivfDir> feeds the drop set into the ANN delete path
      // (the ivfTombstone enforcement wiring, mirroring text-tier
      // `decontaminate --tombstone`)
      import org.apache.spark.sql.functions.col
      val t = opt(rest, "--threshold", "0.9").toDouble
      val corpus = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      val ref = spark.read.parquet(s"$refDir/embeddings.parquet")
      val drop = graft.ops.Similarity.decontaminateEmbeddings(spark, corpus, ref, t)
        .select(col("vec_id")).distinct()
      opt(rest, "--tombstone", "") match {
        case "" =>
          val ids = drop.collect().map(_.getLong(0)).sorted
          println(s"${ids.length} contaminated vector(s) in $corpusDir vs $refDir (cos >= $t)")
          ids.take(20).foreach(id => println(f"  $id%12d"))
        case ivfDir =>
          graft.ops.Similarity.ivfTombstone(spark, ivfDir, drop)
          println(s"ivf-tombstoned contaminated vectors in $ivfDir — " +
            "hidden from probes immediately, purged at the next `ivf-compact`")
      }

    case "search" :: indexDir :: k :: rest =>
      val conj = flag(rest, "--and")
      val after = opt(rest, "--after", "")
      // ES minimum_should_match: require at least n query terms per hit
      // (1 = plain OR; composes with --after paging, not with --and)
      val minMatch = opt(rest, "--min-match", "1").toIntOption
        .filter(_ >= 1)
        .getOrElse(sys.error(
          s"--min-match expects a positive integer, got " +
            s"'${opt(rest, "--min-match", "1")}'"))
      require(minMatch == 1 || !conj,
        "--min-match composes with OR queries; --and already requires all terms")
      val terms = positionalArgs(rest).mkString(" ")
      // analyzer mode persisted by the build (analyzer_mode file) — a query
      // against a --mode code/trigram index tokenizes the same way the
      // index did
      val h = IndexBuilder.openHandle(indexDir)
      // EVERY page — including page 1 — runs searchAfter, so pages and
      // cursors all live in one total order (score_q desc, docId asc):
      // mixing a raw-score-ranked page 1 with quantized-cursor pages can
      // skip or duplicate docs at raw-score ties inside one score_q bucket
      val (cs, cd) =
        if (after.isEmpty) (Long.MaxValue, -1L)
        else after.split(':') match {
          case Array(a, b) => (a.toLong, b.toLong)
          case _ => sys.error(s"--after expects scoreQ:docId, got '$after'")
        }
      // --fuzzy: tokens expand to their edit-distance-≤1 vocabulary
      // neighbors (SymSpell deletion dict, Lexicon) before scoring; paging
      // still runs over the expanded set in the same cursor order.
      // --and --fuzzy is the grouped form (every ORIGINAL token must match
      // via its own expansions — Lexicon.fuzzySearch(conjunctive=true));
      // a flat conjunction over the expansion union would wrongly demand
      // every expansion of every token
      val v = h.snapshot
      val fuzzy = flag(rest, "--fuzzy")
      // msm counts ORIGINAL query clauses (ES); the flat fuzzy expansion
      // loses which expansion came from which token, so the composition
      // would silently count expansions — refuse instead of mis-counting
      require(minMatch == 1 || !fuzzy,
        "--min-match does not compose with --fuzzy (expansion loses the " +
          "original-clause mapping; use --and --fuzzy for all-terms-must-match)")
      // --not: ES bool.must_not — non-scoring exclusion, composes with
      // paging/boosts/--and (the denylist is collector admission, not
      // membership logic). The grouped --and --fuzzy path re-ranks on its
      // own and is refused below.
      val mustNot = opt(rest, "--not", "")
      // term^boost clauses (ES clause weights) — parsed from the query
      // terms themselves; refused with --fuzzy (expansion loses which
      // clause a vocabulary neighbor came from, so its boost is undefined)
      val hasBoost = positionalArgs(rest).exists(_.contains('^'))
      require(!hasBoost || !fuzzy,
        "term^boost does not compose with --fuzzy (expansions lose their " +
          "source clause's boost)")
      // --sort-by field[:desc]: membership from the query, order from a
      // docmeta field — a different result shape (field-ordered, no score
      // cursor), so the score-paging/fuzzy/min-match flags are refused
      opt(rest, "--sort-by", "") match {
        case "" => ()
        case spec =>
          require(!fuzzy && after.isEmpty && minMatch == 1 && mustNot.isEmpty
              && !hasBoost,
            "--sort-by composes only with [--and] (field-ordered results " +
              "have no score cursor; boosts/min-match/--not shape scoring " +
              "or membership the sorted surface does not thread)")
          // ADVICE r5 item 3: the --sort-by branch returns first, so a
          // composed --collapse was silently ignored — refuse loudly like
          // every other unsupported composition
          require(opt(rest, "--collapse", "").isEmpty,
            "--sort-by and --collapse are mutually exclusive (one result " +
              "ordering per request)")
          import org.apache.spark.sql.functions.col
          val (field, asc) = spec.split(':') match {
            case Array(f) => (f, false)
            case Array(f, "desc") => (f, false)
            case Array(f, "asc") => (f, true)
            case _ => sys.error(s"--sort-by expects field[:asc|desc], got '$spec'")
          }
          val sortCol = if (asc) col(field).asc else col(field).desc
          val out = Searcher.searchSortBy(spark, h, terms, Seq(sortCol),
            k.toInt, conjunctive = conj).select("docId", field).collect()
          out.foreach(r => println(f"${r.getLong(0)}%12d  $field=${r.get(1)}"))
          return
      }
      // --collapse field: ES field collapsing — ONE best-scoring hit per
      // distinct value of a docmeta field. A different result shape (one
      // row per group, exhaustive membership, no score cursor), so the
      // paging/fuzzy/min-match/boost/--not flags are refused
      opt(rest, "--collapse", "") match {
        case "" => ()
        case field =>
          require(!fuzzy && after.isEmpty && minMatch == 1 && mustNot.isEmpty
              && !hasBoost,
            "--collapse composes only with [--and] (collapsed results have " +
              "no score cursor; boosts/min-match/--not shape scoring or " +
              "membership the collapsed surface does not thread)")
          import org.apache.spark.sql.functions.col
          val out = Searcher.collapseTopSnap(spark, v, terms,
              col(field), field, col("docId"), "docId", conjunctive = conj)
            .orderBy(field).collect()
          out.foreach(r => println(
            f"${r.getLong(1)}%12d  score_q=${r.getLong(2)}%d  $field=${r.get(0)}"))
          return
      }
      val rows =
        if (fuzzy && conj) {
          import org.apache.spark.sql.functions.col
          require(after.isEmpty,
            "--after is not supported with --and --fuzzy (grouped coverage re-ranks)")
          require(mustNot.isEmpty,
            "--not is not supported with --and --fuzzy (the grouped path " +
              "does not thread the denylist; drop --fuzzy or --and)")
          graft.query.Lexicon.fuzzySearch(spark, h, terms, k.toInt,
              conjunctive = true).toDF()
            .select(col("docId"),
              Engine.quantized(col("score")).as("score_q"))
            .collect()
        } else {
          val boosts =
            if (hasBoost) Searcher.parseBoostClauses(terms, v.mode)
            else Map.empty[String, Double]
          val queryTerms =
            if (hasBoost) boosts.keys.toSeq
            else if (!fuzzy) Analyzer.tokens(terms, v.mode).toSeq
            else {
              val toks = Analyzer.tokens(terms, v.mode).toSeq.distinct
              val xp = graft.query.Lexicon.expandTerms(spark, v, toks)
                .values.flatten.toSeq.distinct
              println(s"fuzzy-expanded ${toks.mkString(",")} -> ${xp.sorted.mkString(",")}")
              xp
            }
          val deny =
            if (mustNot.isEmpty) None
            else Some(Searcher.mustNotDenySnap(spark, v, mustNot))
          Searcher.searchAfterTermsSnap(spark, v, queryTerms, cs, cd,
            k.toInt, conj, minMatch = minMatch, denyDocs = deny,
            boosts = boosts).collect()
        }
      rows.foreach(r => println(f"${r.getLong(0)}%12d  score_q=${r.getLong(1)}%d"))
      if (!(fuzzy && conj)) rows.lastOption.foreach(r => println(
        s"next page: --after ${r.getLong(1)}:${r.getLong(0)}"))

    case "wildcard" :: indexDir :: k :: pattern :: Nil =>
      // ES wildcard query: dictionary rewrite (prefix-pruned + regex),
      // expansion scored as disjunctive BM25
      val h = IndexBuilder.openHandle(indexDir)
      val xp = graft.query.Lexicon.wildcardTermsSnap(spark, h.snapshot, pattern)
      println(s"wildcard '$pattern' -> ${xp.mkString(",")}")
      graft.query.Lexicon.wildcardSearch(spark, h, pattern, k.toInt)
        .toDF().select(org.apache.spark.sql.functions.col("docId"),
          Engine.quantized(org.apache.spark.sql.functions.col("score")).as("score_q"))
        .collect()
        .foreach(r => println(f"${r.getLong(0)}%12d  score_q=${r.getLong(1)}%d"))

    case "percolate" :: queriesParquet :: docsParquet :: Nil =>
      // ES percolator: saved searches vs incoming docs — index-free, so it
      // runs against any docs parquet (a micro-batch, a corpus slice)
      val queries = spark.read.parquet(queriesParquet)
      val needQ = Set("query_id", "terms", "min_match")
      require(needQ.subsetOf(queries.columns.toSet),
        s"queries parquet needs columns ${needQ.mkString(", ")} — got " +
          queries.columns.mkString(", "))
      val docs = spark.read.parquet(docsParquet)
      require(Set("doc_id", "text").subsetOf(docs.columns.toSet),
        s"docs parquet needs columns doc_id, text — got " +
          docs.columns.mkString(", "))
      val pairs = graft.ops.Percolator.percolate(spark, queries, docs)
        .orderBy(org.apache.spark.sql.functions.col("query_id"),
          org.apache.spark.sql.functions.col("doc_id"))
        .collect()
      pairs.foreach(r => println(f"${r.getString(0)}%-24s ${r.getLong(1)}%12d"))
      println(s"${pairs.length} matched (query, doc) pair(s)")

    case "regexp" :: indexDir :: k :: pattern :: Nil =>
      // ES regexp query: anchored-pattern dictionary rewrite (mandatory-
      // prefix-pruned + rlike verify), expansion scored as disjunctive BM25
      val h = IndexBuilder.openHandle(indexDir)
      val xp = graft.query.Lexicon.regexpTermsSnap(spark, h.snapshot, pattern)
      println(s"regexp '$pattern' -> ${xp.mkString(",")}")
      graft.query.Lexicon.regexpSearch(spark, h, pattern, k.toInt)
        .toDF().select(org.apache.spark.sql.functions.col("docId"),
          Engine.quantized(org.apache.spark.sql.functions.col("score")).as("score_q"))
        .collect()
        .foreach(r => println(f"${r.getLong(0)}%12d  score_q=${r.getLong(1)}%d"))

    case "explain" :: indexDir :: docId :: rest =>
      // ES _explain: why does this doc score what it scores for this query
      val h = IndexBuilder.openHandle(indexDir)
      val q = positionalArgs(rest).mkString(" ")
      val rows = Searcher.explainScore(spark, h, q, docId.toLong).collect()
      if (rows.isEmpty) println(s"doc $docId matches no query term")
      else {
        rows.foreach(r => println(
          f"${r.getString(0)}%-24s tf=${r.getLong(1)}%-6d df=${r.getLong(2)}%-8d " +
            f"dl=${r.getLong(3)}%-6d idf_q=${r.getLong(4)}%-8d " +
            f"impact_q=${r.getLong(5)}%-8d contrib_q=${r.getLong(6)}%d"))
        println(s"score_q(sum of exact contribs) = " +
          rows.map(_.getLong(6)).sum + " (per-row quantization; ranked " +
          "surfaces quantize the exact sum)")
      }

    case "suggest" :: indexDir :: prefix :: rest =>
      // autocomplete over the live dictionary (batch ∪ streamed segments)
      val h = IndexBuilder.openHandle(indexDir)
      val k = opt(rest, "--k", "10").toInt
      graft.query.Lexicon.suggest(spark, h, prefix, k).collect()
        .foreach(r => println(f"${r.getString(0)}%-24s df=${r.getLong(1)}%d"))

    case "mlt" :: indexDir :: docsParquet :: docId :: rest =>
      // more-like-this: docs resembling the given source doc; the source
      // table is (doc_id, text)-shaped (the FIXTURES §2 stand-in corpus,
      // whose docmeta paths encode doc_id — results print as doc_ids with
      // the source doc excluded, ES MLT semantics)
      val h = IndexBuilder.openHandle(indexDir)
      val k = opt(rest, "--k", "10").toInt
      val nTerms = opt(rest, "--terms", "5").toInt
      import org.apache.spark.sql.functions.{col, desc}
      val srcId = docId.toLong
      val srcRows = spark.read.parquet(docsParquet)
        .filter(col("doc_id") === srcId)
        .select(col("text")).limit(1).collect()
      require(srcRows.nonEmpty, s"doc_id $srcId not found in $docsParquet")
      val v = h.snapshot
      // select terms ONCE; print them, then search with exactly that set
      val terms = graft.query.Lexicon.moreLikeThisTerms(spark, v,
        srcRows.head.getString(0), nTerms)
      require(terms.nonEmpty,
        s"doc_id $srcId has no index-resolvable terms — nothing to query")
      println(s"mlt terms: ${terms.mkString(", ")}")
      Engine.hitsAsDocIds(spark, h,
          Searcher.topKTermsSnap(spark, v, terms, Int.MaxValue,
            ranked = false).toDF(), ranked = false)
        .filter(col("doc_id") =!= srcId)
        .orderBy(desc("score_q"), col("doc_id")).limit(k)
        .collect()
        .foreach(r => println(f"${r.getLong(0)}%12d  score_q=${r.getLong(1)}%d"))

    case "ivf-tombstone" :: ivfDir :: idsPath :: _ =>
      // ANN-level delete: vec_ids from a parquet file ('vec_id' column, or
      // a single column); hidden from probes immediately, purged at the
      // next `ivf-compact`
      graft.ops.Similarity.ivfTombstone(spark, ivfDir, spark.read.parquet(idsPath))
      println(s"ivf-tombstoned; deleted vectors hidden from probes " +
        "immediately, purged at the next `ivf-compact`")

    case "ivf-compact" :: ivfDir :: rest =>
      // the ANN epoch fold: retrain the coarse quantizer over base ∪
      // appended deltas, rewrite the partitioned layout, consume the deltas
      graft.ops.Similarity.ivfCompact(spark, ivfDir,
        lists = opt(rest, "--lists", "0").toInt)
      println(s"ivf compacted -> ${graft.ops.Similarity.ivfRoot(ivfDir)}")

    case "decontaminate" :: corpusDir :: refDir :: rest =>
      // benchmark decontamination: corpus docs near-duplicating any doc of
      // the reference/eval set; --tombstone <indexDir> feeds the drop set
      // straight into the index delete path (the same enforcement wiring as
      // `tombstone --dedup`)
      import org.apache.spark.sql.functions._
      val t = opt(rest, "--threshold", "0.6").toDouble
      val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
      val ref = spark.read.parquet(s"$refDir/documents.parquet")
      val drop = graft.ops.Dedup.decontaminate(spark, corpus, ref, t)
      opt(rest, "--tombstone", "") match {
        case "" =>
          // ONE materialization: count + sample from a single collect (the
          // drop set is the rare output; a separate count() would re-run
          // the whole shingle-verify pipeline)
          val ids = drop.collect().map(_.getLong(0))
          println(s"${ids.length} contaminated doc(s) in $corpusDir vs $refDir (j >= $t)")
          ids.take(20).foreach(id => println(f"  $id%12d"))
        case indexDir =>
          val snap = IndexBuilder.openHandle(indexDir).snapshot
          val dead = snap.docmetaAll(spark).toDF()
            .select(col("docId"),
              element_at(split(col("path"), "/"), 2).cast("long").as("doc_id"))
            .join(drop, "doc_id")
            .select(col("docId"))
          graft.index.Compactor.tombstone(spark, indexDir, dead,
            expectRoot = Some(snap.root))
          println(s"tombstoned contaminated docs in $indexDir — " +
            "hidden immediately, purged at the next `compact`")
      }

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: create-index <dir> [--force] |
           |       export <src> <dir> [--mode m] [--positions] [--dry-run] [--verbose] |
           |       ingest <src> <dir> <ckp> [--seconds s] | stats <dir> |
           |       compact <dir> | reconcile <dir> | ivf-compact <ivfDir> [--lists n] |
           |       ivf-tombstone <ivfDir> <vecIdsParquet> |
           |       tombstone <dir> <docIdsParquet> | tombstone <dir> --dedup <srcDir> |
           |       decontaminate <corpusDir> <refDir> [--threshold t] [--tombstone <indexDir>] |
           |       decontaminate-emb <corpusDir> <refDir> [--threshold t] [--tombstone <ivfDir>] |
           |       search <dir> <k> <terms...> [--and] [--fuzzy] [--min-match n]
           |              [--after scoreQ:docId] [--collapse field] |
           |       suggest <dir> <prefix> [--k n] | mlt <dir> <docsParquet> <doc_id> |
           |       snapshot <dir> <destDir> | restore <snapDir> <destDir> |
           |       verify-snapshot <snapDir>""".stripMargin)
  }
}

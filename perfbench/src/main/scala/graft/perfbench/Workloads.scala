package graft.perfbench

import java.io.File
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.{octet_length, sha2, sum}
import scala.collection.mutable.ArrayBuffer
import graft.SparkEntry
import graft.analyze.Analyzer
import graft.index.{Catalog, Compactor, CorpusDoc, Hit, IndexBuilder}
import graft.ops.Similarity
import graft.query.{Oracle, Searcher}
import graft.streaming.StreamingIngest

/** A named metric value with its unit. */
final case class M(name: String, value: Double, unit: String)

/** One workload: set-up, a timed round repeated for the run's seconds, the
  * output checks, the end-to-end figures, and the per-layer metrics read
  * from the spans of its traced rounds.
  */
abstract class Workload(val c: Ctx, val probe: Boolean) {
  def name: String
  /** Builds the inputs and state the rounds need; repeated, so it must
    * produce the same state every time.
    */
  def setup(k: Int): Unit
  /** Untimed set-ups before the timed ones: the first runs on a JIT-cold
    * JVM.
    */
  def warmSetups: Int = 1
  /** Timed set-ups; their median is `setup_s`. */
  def timedSetups: Int = 3
  /** Timed rounds made even when `--seconds` have passed. */
  def minRounds: Int = 1
  /** JIT and cache warm-up over inputs the rounds do not use; made only
    * before the rounds of a timed workload.
    */
  def warm(): Unit = ()
  def round(r: Int): Unit
  /** Extra traced calls for per-layer figures, made after the rounds. */
  def extras(): Unit = ()
  /** Checks sampled outputs; returns the number of wrong results. */
  def check(): Int
  /** Reads what `layers` needs from Spark while the session is still up. */
  def beforeStop(): Unit = ()
  def figures: Seq[M]
  def layers(t: Tracer): Seq[M]
  /** Latencies (ms) of the workload's primary calls. */
  val primary = ArrayBuffer.empty[Double]

  /** A size: `full` in a timed run, `small` when the workload only makes
    * one traced round inside another workload's traced run.
    */
  protected def size(full: Long, small: Long): Long = if (probe) small else full
  protected def spark = c.spark
  protected def dir(rel: String): String = s"${c.work}/$name/$rel"
  protected val cfg = IndexBuilder.Config(salts = 8, partitions = 4, mode = Analyzer.Code)
}

object Workload {
  def apply(name: String, c: Ctx, probe: Boolean = false): Workload = name match {
    case "build" => new BuildW(c, probe)
    case "search" => new SearchW(c, probe)
    case "ingest" => new IngestW(c, probe)
    case "analytics" => new AnalyticsW(c, probe)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  /** Workloads with an untraced run. A traced run of either also makes one
    * traced round of every other workload, so that every layer is measured;
    * `build` and `ingest` run only that way.
    */
  val timed = Seq("search", "analytics")
  val all = timed ++ Seq("build", "ingest")
}

object Util {
  def rmrf(p: String): Unit = {
    val f = new File(p)
    if (f.isDirectory) f.listFiles().foreach(x => rmrf(x.getPath))
    f.delete()
  }

  /** (files, bytes) of regular files under `p`, Hadoop checksum files
    * excluded.
    */
  def du(p: String): (Long, Long) = {
    val f = new File(p)
    if (f.isDirectory) f.listFiles().map(x => du(x.getPath))
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    else if (f.isFile && !f.getName.endsWith(".crc")) (1L, f.length())
    else (0L, 0L)
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val mx = mean(pts.map(_._1))
    val my = mean(pts.map(_._2))
    val den = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (den == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / den
  }

  def sameHits(a: Seq[Hit], b: Seq[Hit]): Boolean = {
    def norm(xs: Seq[Hit]) = xs.sortBy(h => (-h.score, h.docId)).map(h => (h.docId, h.score))
    norm(a) == norm(b)
  }

  /** Per-span-name summary shared by several layers. */
  def perCall(t: Tracer, span: String): Seq[M] = {
    val ss = t.named(span)
    val n = math.max(ss.size, 1).toDouble
    Seq(M(s"${span}_s", median(ss.map(_.ms / 1000)), "s"),
      M(s"$span.jobs", t.sum(ss)(_.jobs) / n, "count"),
      M(s"$span.shuffle_write_bytes", t.sum(ss)(_.shuffleWrite) / n, "bytes"))
  }
}
import Util._

/** Bulk path: `IndexBuilder.build` of one corpus at local[4] and local[1],
  * order alternating between rounds.
  */
final class BuildW(c: Ctx, probe: Boolean) extends Workload(c, probe) {
  val name = "build"
  val docs = 1000L
  private val code = Gen.code(c.seed)
  private def corpusPath = dir("corpus")
  private def corpus: Dataset[CorpusDoc] = {
    val s = spark
    import s.implicits._
    spark.read.parquet(corpusPath).as[CorpusDoc]
  }
  private val pairs = ArrayBuffer.empty[(Double, Double)] // (thr@4, thr@1) per round
  private var lastDir4 = ""
  private var contentBytes = 0L

  def setup(k: Int): Unit =
    Gen.corpus(spark, code, 0, docs, 4).write.mode("overwrite").parquet(corpusPath)

  /** Build wall time in ms at `cores`. */
  private def buildAt(cores: Int): Double = {
    c.session(cores)
    val d = dir(s"idx$cores")
    rmrf(d)
    val r = c.op(s"index.build.c$cores")(IndexBuilder.build(spark, corpus, d, cfg))
    if (cores == 4) lastDir4 = d
    r.map(_._2).getOrElse(Double.NaN)
  }

  def round(r: Int): Unit = {
    // start at the level the session already runs: one restart per round
    val order = if (c.cores == 1) Seq(1, 4) else Seq(4, 1)
    val ms = order.map(k => k -> buildAt(k)).toMap
    pairs += ((docs / ms(4) * 1000, docs / ms(1) * 1000))
  }

  override def extras(): Unit = {
    c.session(4)
    c.op("index.assign_ids")(IndexBuilder.assignDocIds(spark, corpus, 4).release())
  }

  def check(): Int = {
    c.session(4)
    val s = spark
    import s.implicits._
    val dm = IndexBuilder.openHandle(lastDir4).docmeta(spark)
    val src = corpus.select($"repo", $"path", $"commit", sha2($"content", 256).as("want"))
    val joined = dm.join(src, Seq("repo", "path", "commit"))
    val n = dm.count()
    val matched = joined.filter($"sha256" === $"want").count()
    if (n == docs && matched == docs) 0 else 1
  }

  override def beforeStop(): Unit = {
    val s = spark
    import s.implicits._
    contentBytes = corpus.agg(sum(octet_length($"content"))).as[Long].head()
  }

  def figures: Seq[M] = {
    val (_, bytes) = du(lastDir4)
    Seq(M("build_docs_per_s", median(pairs.map(_._1).toSeq), "docs/s"),
      M("build_scaling_eff_1_4", median(pairs.map(p => p._1 / p._2 / 4).toSeq), "ratio"),
      M("index_bytes_per_input_byte", bytes.toDouble / math.max(contentBytes, 1L), "ratio"))
  }

  def layers(t: Tracer): Seq[M] = {
    val b4 = t.named("index.build.c4")
    val n = math.max(b4.size, 1).toDouble
    val wall = median(b4.map(_.ms / 1000))
    val busy = t.sum(b4)(_.busyMs) / 1000.0 / n
    def tbl(x: String) = du(s"$lastDir4/$x")._2.toDouble
    Seq(M("index.build.wall_s", wall, "s"),
      M("index.build.jobs", t.sum(b4)(_.jobs) / n, "count"),
      M("index.build.stages", t.sum(b4)(_.stages) / n, "count"),
      M("index.build.tasks", t.sum(b4)(_.tasks) / n, "count"),
      M("index.build.shuffle_write_bytes", t.sum(b4)(_.shuffleWrite) / n, "bytes"),
      M("index.build.spill_bytes", t.sum(b4)(_.spill) / n, "bytes"),
      M("index.build.gc_s", t.sum(b4)(_.gcMs) / 1000.0 / n, "s"),
      M("index.build.task_busy_s", busy, "s"),
      M("index.build.core_util", busy / (mean(b4.map(_.ms / 1000)) * 4), "ratio"),
      M("index.assign_ids.wall_s", median(t.named("index.assign_ids").map(_.ms / 1000)), "s"),
      M("index.bytes.docmeta", tbl("docmeta"), "bytes"),
      M("index.bytes.postings", tbl("postings"), "bytes"),
      M("index.bytes.termstats", tbl("termstats"), "bytes"),
      M("index.files", du(lastDir4)._1.toDouble, "count"))
  }
}

/** Closed-loop BM25 top-10, one client, over an index built in set-up. */
final class SearchW(c: Ctx, probe: Boolean) extends Workload(c, probe) {
  val name = "search"
  val docs: Long = size(12000, 1000)
  val batch = 10
  private val code = Gen.code(c.seed + 1)
  private var idx = ""
  private var h: IndexBuilder.Handle = _
  private var next = 0L
  private val done = ArrayBuffer.empty[Gen.Query]
  val micro = ArrayBuffer.empty[M]

  // no untimed set-up: the first of the three runs JIT-cold, so the median
  // is the slower warm one, and a run stays within its time budget
  override def warmSetups: Int = 0
  // rounds of ~1.5-2.5 s on 4 cores: five always run, so every run's
  // median is over the same count, and early rounds still slower than
  // later ones do not make it
  override def minRounds: Int = 5

  def setup(k: Int): Unit = {
    if (idx.nonEmpty) rmrf(idx)
    idx = dir(s"idx$k")
    rmrf(idx)
    Gen.corpus(spark, code, 0, docs, 4).write.mode("overwrite").parquet(dir("corpus"))
    h = IndexBuilder.build(spark, corpusDs, idx, cfg)
  }

  private def corpusDs: Dataset[CorpusDoc] = {
    val s = spark
    import s.implicits._
    spark.read.parquet(dir("corpus")).as[CorpusDoc]
  }

  private def run(q: Gen.Query): Array[Hit] =
    if (q.distributed) Searcher.topK(spark, h, q.text, 10, q.conjunctive, driverPathMaxPostings = 0L).collect()
    else Searcher.topK(spark, h, q.text, 10, q.conjunctive).collect()

  // The stream holds its cache state steady, so every round costs about
  // the same however many run. Warm-up caches the postings of the
  // vocabulary head, as a long-running server would hold it. Then, in
  // each ten queries, one short OR, one AND and one hot-term OR repeat an
  // earlier query of their kind (every term cached: no Spark job), and the
  // other seven pair head terms with one tail term not queried before in
  // the run (a one-term postings fetch). A plain Zipf stream keeps warming
  // the cache for as long as it runs, so its rounds get cheaper one after
  // another.
  private val usedTail = scala.collection.mutable.HashSet.empty[String]
  private val asked = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Gen.Query]]
  private val repeatSlots = Set(2, 5, 7)

  private def nextQuery(stream: Long, i: Long): Gen.Query = {
    val slot = (i % 10).toInt
    val kind = slot match { case 4 | 5 => 1; case 6 | 7 => 2; case 8 => 3; case _ => 0 }
    val past = asked.getOrElseUpdate(kind, ArrayBuffer.empty)
    if (repeatSlots(slot) && past.nonEmpty) past(Gen.below(c.seed, stream + 50, i, past.size))
    else {
      val q = Iterator.from(0).map(Gen.searchQuery(code, stream, i, _))
        .find(q => !usedTail(q.terms.last)).get
      usedTail += q.terms.last
      past += q
      q
    }
  }

  // four clients at once: JIT and plan compilation is the cost here. The
  // head is cached first, twenty terms to a query; then come the stream's
  // own queries, drawn in order before any runs.
  override def warm(): Unit = {
    def clients(qs: Seq[Gen.Query]): Unit = IndexBuilder.runConcurrently((0 until 4).map { t =>
      () => (t until qs.size by 4).foreach(i => run(qs(i)))
    })
    clients((0 until Gen.Head by 20).map(r => Gen.Query(code.vocab.slice(r, r + 20).mkString(" "), false, false)))
    clients((0L until 24L).map(nextQuery(2, _)))
    // the checks' oracle answers, untimed: this also gives the JVM the
    // ~10 s after warm-up in which rounds still ran 10-30% slower
    want
  }

  /** The first round's queries, drawn ahead so that the checks can be
    * prepared before the rounds.
    */
  private lazy val firstRound: IndexedSeq[Gen.Query] =
    (0 until batch).map { _ => next += 1; nextQuery(1, next - 1) }

  /** One query of every kind from the first round, which every run makes:
    * 1-2-term OR, AND, 3-5-term OR with a hot term, distributed. Indices
    * into `firstRound`, picked by seed.
    */
  private lazy val picks: Seq[Int] =
    firstRound.indices.groupBy { k =>
      val q = firstRound(k)
      (q.conjunctive, q.distributed, q.terms.size >= 3)
    }.values.toSeq.map(ks => ks(Gen.below(c.seed, 77, ks.size, ks.size)))

  private lazy val want: Map[Int, Array[Hit]] = picks.map { k =>
    val q = firstRound(k)
    k -> Oracle.topK(spark, corpusDs, q.text, 10, Analyzer.Code, q.conjunctive).collect()
  }.toMap

  /** The timed answers to the picked queries. */
  private val answered = scala.collection.mutable.Map.empty[Int, Array[Hit]]

  def round(r: Int): Unit = (0 until batch).foreach { k =>
    val q = if (r == 0) firstRound(k) else { next += 1; nextQuery(1, next - 1) }
    val span = if (q.distributed) "query.topK.distributed" else "query.topK"
    c.op(span, q.text)(run(q)).foreach { case (hits, ms) =>
      primary += ms
      if (r == 0 && picks.contains(k)) answered(k) = hits
    }
    done += q
  }

  // repeats of answered driver-path queries are memo hits, so the warm
  // class has samples even when a short traced round drew none
  override def extras(): Unit = {
    done.filterNot(_.distributed).take(3).foreach(q => c.op("query.topK", q.text)(run(q)))
    micro ++= Micro.all(spark, h, code)
  }

  /** The picked timed answers are rank-identical to `Oracle.topK`; a
    * picked call that failed is asked again.
    */
  def check(): Int = picks.count { k =>
    val q = firstRound(k)
    val got = answered.getOrElse(k, run(q)).toSeq
    val bad = !sameHits(got, want(k).toSeq)
    if (bad) System.err.println(s"[perfbench] search '${q.text}' (conjunctive ${q.conjunctive}, " +
      s"distributed ${q.distributed}) differs from Oracle.topK: got $got, want ${want(k).toSeq}")
    bad
  }

  def figures: Seq[M] = Seq(
    M("search_p50_ms", median(primary.toSeq), "ms"),
    M("search_p95_ms", pct(primary.toSeq, 0.95), "ms"))

  // posting blocks per query term, for the pruning ratio (read untimed)
  private lazy val blocksPerTerm: Map[String, Long] = {
    val s = spark
    import s.implicits._
    val terms = done.flatMap(_.terms).distinct.toSeq
    h.postings(spark).filter($"term".isin(terms: _*)).groupBy($"term").count()
      .as[(String, Long)].collect().toMap
  }

  override def beforeStop(): Unit = { blocksPerTerm; () }

  def layers(t: Tracer): Seq[M] = {
    val q = t.named("query.topK")
    val dist = t.named("query.topK.distributed")
    val (cold, warm) = q.partition(s => t.of(s).jobs > 0)
    val nc = math.max(cold.size, 1).toDouble
    // a cold query fetches only its tail term, the last: the head is cached
    val useful = cold.map(s => blocksPerTerm.getOrElse(s.tag.split(' ').last, 0L)).sum
    Seq(M("query.cold_p50_ms", median(cold.map(_.ms)), "ms"),
      M("query.warm_p50_ms", median(warm.map(_.ms)), "ms"),
      M("query.distributed_p50_ms", median(dist.map(_.ms)), "ms"),
      M("query.jobs_per_cold_query", t.sum(cold)(_.jobs) / nc, "count"),
      M("query.tasks_per_cold_query", t.sum(cold)(_.tasks) / nc, "count"),
      M("query.input_bytes_per_query", t.sum(q ++ dist)(_.inputBytes) / math.max(q.size + dist.size, 1).toDouble, "bytes"),
      M("query.rows_read_per_useful_block", t.sum(cold)(_.inputRecords) / math.max(useful, 1L).toDouble, "ratio"),
      M("query.zero_job_frac", warm.size / math.max(q.size, 1).toDouble, "ratio"),
      M("query.shuffle_bytes_per_distributed_query", t.sum(dist)(_.shuffleWrite) / math.max(dist.size, 1).toDouble, "bytes")) ++ micro
  }
}

/** Micro-batch appends, each followed by queries on a fresh snapshot, then
  * a compaction fold and a query on the folded epoch.
  */
final class IngestW(c: Ctx, probe: Boolean) extends Workload(c, probe) {
  val name = "ingest"
  val base = 1000L
  val batchDocs = 100
  val cycles = 3
  private val code = Gen.code(c.seed + 2)
  private var idx = ""
  private var avgdl = 0.0
  private var nextDoc = 0L
  private var nextBatch = 0L
  private var nextQ = 0L
  private val fresh = ArrayBuffer.empty[Double]
  private val queries = ArrayBuffer.empty[Double]
  private val compacts = ArrayBuffer.empty[Double]
  private val written = ArrayBuffer.empty[(Long, Long)] // (files, bytes) per segment
  private val liveBefore = ArrayBuffer.empty[Long] // live index bytes before each fold

  def setup(k: Int): Unit = {
    if (idx.nonEmpty) rmrf(idx)
    idx = dir(s"idx$k")
    rmrf(idx)
    val h = IndexBuilder.build(spark, Gen.corpus(spark, code, 0, base, 4), idx, cfg)
    avgdl = h.stats(spark).avgdl
    nextDoc = base
    nextBatch = 0
  }

  private def query(span: String): Double = {
    val q = Gen.query(code, 1, nextQ)
    nextQ += 1
    c.op(span, q.text)(Searcher.topK(spark, IndexBuilder.openHandle(idx), q.text, 10,
      q.conjunctive).collect()).map(_._2).getOrElse(Double.NaN)
  }

  def round(r: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until cycles).foreach { _ =>
      val from = nextDoc
      nextDoc += batchDocs
      val batch = spark.createDataset((from until nextDoc).map(code.doc))
      val b = nextBatch
      nextBatch += 1
      c.op("streaming.append")(StreamingIngest.appendSegment(spark, batch, b, idx, avgdl,
        salts = 4, baseDocId = 1L << 40, mode = Analyzer.Code)).foreach(x => primary += x._2)
      written += du(s"$idx/ingest_segments/batch=$b")
      fresh += query("query.fresh")
      // a span name of its own: search's layer figures read "query.topK"
      queries += query("ingest.query")
      queries += query("ingest.query")
    }
    liveBefore += liveBytes()
    c.op("compactor.compact")(Compactor.compact(spark, idx, cfg)).foreach(x => compacts += x._2)
    queries += query("ingest.query")
  }

  private def liveBytes(): Long = {
    val st = Catalog.of(idx)
    val root = st.epoch.map(e => s"$idx/$e").getOrElse(idx)
    Seq("docmeta", "postings", "termstats", "stats", "positions").map(x => du(s"$root/$x")._2).sum +
      st.segments.map(d => du(d.stripPrefix("file:"))._2).sum
  }

  override def extras(): Unit = (0 until 20).foreach { _ =>
    c.op("catalog.refresh") { Catalog.invalidate(idx); Catalog.of(idx) }
  }

  def check(): Int = {
    val union = Gen.corpus(spark, code, 0, nextDoc, 4)
    (0 until 2).count { k =>
      val q = Gen.query(code, 3, k)
      val got = Searcher.topK(spark, IndexBuilder.openHandle(idx), q.text, 10, q.conjunctive).collect()
      val want = Oracle.topK(spark, union, q.text, 10, Analyzer.Code, q.conjunctive).collect()
      !sameHits(got.toSeq, want.toSeq)
    }
  }

  def figures: Seq[M] = Seq(
    M("ingest_append_p50_ms", median(primary.toSeq), "ms"),
    M("ingest_fresh_query_p50_ms", median(fresh.toSeq), "ms"),
    M("ingest_query_p50_ms", median(queries.toSeq), "ms"),
    M("compact_s", median(compacts.toSeq) / 1000, "s"))

  def layers(t: Tracer): Seq[M] = {
    val ap = t.named("streaming.append")
    val na = math.max(ap.size, 1).toDouble
    val fr = t.named("query.fresh")
    val cp = t.named("compactor.compact")
    val nc = math.max(cp.size, 1).toDouble
    // a round appends `cycles` segments onto a folded index, so the i-th
    // append (and its fresh query) sees i % cycles + 1 live segments
    val liveOf = (i: Int) => (i % cycles) + 1
    Seq(M("catalog.refresh_ms", median(t.named("catalog.refresh").map(_.ms)), "ms"),
      M("streaming.append.jobs", t.sum(ap)(_.jobs) / na, "count"),
      M("streaming.append.tasks", t.sum(ap)(_.tasks) / na, "count"),
      M("streaming.append.files_written", mean(written.map(_._1.toDouble).toSeq), "count"),
      M("streaming.append.bytes_written", mean(written.map(_._2.toDouble).toSeq), "bytes"),
      M("streaming.append.jobs_per_live_segment",
        slope(ap.zipWithIndex.map { case (s, i) => (liveOf(i).toDouble, t.of(s).jobs.toDouble) }), "count"),
      M("query.fresh.jobs_per_query", t.sum(fr)(_.jobs) / math.max(fr.size, 1).toDouble, "count"),
      M("query.fresh.ms_per_live_segment",
        slope(fr.zipWithIndex.map { case (s, i) => (liveOf(i).toDouble, s.ms) }), "ms"),
      M("compactor.compact.jobs", t.sum(cp)(_.jobs) / nc, "count"),
      M("compactor.compact.task_busy_s", t.sum(cp)(_.busyMs) / 1000.0 / nc, "s"),
      M("compactor.compact.shuffle_write_bytes", t.sum(cp)(_.shuffleWrite) / nc, "bytes"),
      M("compactor.write_amp", t.sum(cp)(_.outputBytes) / math.max(liveBefore.takeRight(cp.size).sum, 1L).toDouble, "ratio"))
  }
}

/** The analytics surface: terms/date aggregations, dedup, text quality, and
  * an IVF/LSH build plus probes against exact cosine.
  */
final class AnalyticsW(c: Ctx, probe: Boolean) extends Workload(c, probe) {
  val name = "analytics"
  // sf0.1 row counts; a probe round uses sf0.01's
  val docs: Long = size(5000, 500)
  val events: Long = size(100000, 10000)
  val lineitems: Long = size(600000, 60000)
  val vectors: Long = size(8000, 2000)
  val dim = 64
  val lists = 32
  val nprobe = 4
  val (tables, planes) = (8, 8)
  private var sf = ""
  val ops = Seq("agg_date_histogram" -> "aggs.date_histogram", "agg_sig_terms" -> "aggs.sig_terms",
    "agg_terms_top10" -> "aggs.terms_top10", "dedup_minhash_lsh" -> "ops.dedup_minhash_lsh",
    "text_quality" -> "ops.text_quality")
  // two probe pairs: with them, the middle call of a pass falls among
  // four calls of ~1 s (the first probe, two aggregations and the LSH
  // build), not in the gap between those and the ~0.5 s probes
  private val qIds = (0 until 2).map(k => Gen.below(c.seed, 99, k, vectors.toInt).toLong)
  private val last = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  val passes = ArrayBuffer.empty[Double]
  val annBuild = ArrayBuffer.empty[Double]
  private var recall = Double.NaN

  // table writes still speed up over the first few set-ups: the median of
  // three after one untimed set-up is the middle one of those
  override def warmSetups: Int = 1
  override def timedSetups: Int = 3

  def setup(k: Int): Unit = {
    if (sf.nonEmpty) rmrf(sf)
    sf = dir(s"sf$k")
    Gen.analyticsTables(spark, c.seed + 3, sf, docs, events, lineitems, vectors, dim, 4)
  }

  // every call of a pass at once: JIT and plan compilation is the cost here
  override def warm(): Unit = IndexBuilder.runConcurrently(ops.map { case (q, _) =>
    () => { SparkEntry.queries(q)(spark, sf).collect(); () }
  } ++ Seq(
    () => { Similarity.ivfTopK(spark, sf, qIds.head, 10, lists, nprobe).collect(); () },
    () => { Similarity.buildLshBuckets(spark, sf, tables, planes); () },
    () => { Similarity.cosineTopK(spark, sf, qIds.head, 10).collect(); () }))

  def round(r: Int): Unit = {
    val t0 = System.nanoTime()
    // every engine call of the pass is a sample of call_p50_ms
    def call[T](span: String)(f: => T): Option[(T, Double)] = {
      val res = c.op(span)(f)
      res.foreach(x => primary += x._2)
      res
    }
    ops.foreach { case (q, span) =>
      call(span) {
        val df = SparkEntry.queries(q)(spark, sf)
        (df.collect(), df.schema)
      }.foreach { case (res, _) => last(q) = res }
    }
    rmrf(Similarity.ivfDir(sf, lists))
    rmrf(Similarity.lshBucketsDir(sf, tables, planes))
    def ms(x: Option[(Any, Double)]) = x.map(_._2).getOrElse(0.0)
    val ivf = ms(call("ops.ivf_build")(Similarity.buildIvf(spark, sf, lists)))
    val lsh = ms(call("ops.lsh_build")(Similarity.buildLshBuckets(spark, sf, tables, planes)))
    val rec = qIds.map { q =>
      val got = call("ops.ivf_probe")(Similarity.ivfTopK(spark, sf, q, 10, lists, nprobe).collect())
      val want = call("ops.cosine_brute")(Similarity.cosineTopK(spark, sf, q, 10).collect())
      (got, want) match {
        case (Some((g, _)), Some((w, _))) =>
          val ids = (rs: Array[Row]) => rs.map(_.getAs[Long]("vec_id")).toSet
          (ids(g) intersect ids(w)).size / math.max(w.length, 1).toDouble
        case _ => 0.0
      }
    }
    recall = mean(rec)
    annBuild += (ivf + lsh) / 1000
    passes += (System.nanoTime() - t0) / 1e9
  }

  /** Writes the last pass's results and their oracle SQL for the DuckDB
    * check, which the benchmark's runner makes after the JVM exits.
    */
  def check(): Int = {
    val out = s"${c.work}/analytics_check"
    ops.foreach { case (q, _) =>
      val (rs, schema) = last(q)
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$q")
    }
    val sql = ops.map { case (q, _) => q -> SparkEntry.oracleSql(q) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), Json.obj(sql))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/tables"), sf)
    0
  }

  def figures: Seq[M] = Seq(
    M("analytics_pass_s", median(passes.toSeq), "s"),
    M("ann_index_build_s", median(annBuild.toSeq), "s"),
    M("ann_recall_at_10", recall, "ratio"))

  def layers(t: Tracer): Seq[M] = {
    val ivf = t.named("ops.ivf_build")
    (ops.map(_._2) ++ Seq("ops.ivf_probe", "ops.cosine_brute")).flatMap(perCall(t, _)) ++ Seq(
      M("ops.ivf_build_s", median(ivf.map(_.ms / 1000)), "s"),
      M("ops.lsh_build_s", median(t.named("ops.lsh_build").map(_.ms / 1000)), "s"),
      // rows read ÷ table rows: Hadoop's byte counts undercount parquet reads
      M("ops.ivf_build.scans", t.sum(ivf)(_.inputRecords) / math.max(ivf.size, 1).toDouble / vectors, "ratio"))
  }
}

package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CorpusDoc

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so a seed yields the same inputs at any parallelism.
  *
  * The code corpus is built over a Zipf-ranked vocabulary of tens of
  * thousands of pseudo-words, joined into camelCase / snake_case
  * identifiers. The Code analyzer splits identifiers back into words, so the
  * index vocabulary is the word list itself. (`graft.corpus.Corpus.synth`
  * draws from about 35 distinct terms: every query goes warm after a few
  * draws there and probe pruning never shows.)
  */
object Gen {

  def mix(a: Long, b: Long, c: Long): Long = {
    var x = a ^ (b * 0x9e3779b97f4a7c15L) ^ (c * 0xc2b2ae3d27d4eb4fL)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, 1). */
  def unit(a: Long, b: Long, c: Long): Double =
    (mix(a, b, c) >>> 11).toDouble / (1L << 53).toDouble

  def below(a: Long, b: Long, c: Long, n: Int): Int = (unit(a, b, c) * n).toInt

  private val onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n",
    "p", "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "pl",
    "pr", "sh", "st", "th", "tr")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
  private val codas = Array("", "", "", "n", "r", "s", "t", "x", "ck", "ng", "l")

  /** `v` distinct lowercase pseudo-words; index 0 is the most frequent rank. */
  def words(seed: Long, v: Int): Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var j = 0L
    while (out.size < v) {
      val syl = 1 + below(seed, j, 1, 3)
      val sb = new StringBuilder
      var s = 0
      while (s < syl) {
        sb ++= onsets(below(seed, j, 10 + s, onsets.length))
        sb ++= vowels(below(seed, j, 20 + s, vowels.length))
        s += 1
      }
      sb ++= codas(below(seed, j, 30, codas.length))
      out += sb.toString
      j += 1
    }
    out.toArray
  }

  /** Cumulative Zipf(s) weights over ranks 0 until n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** A code corpus: vocabulary plus Zipf sampler, shipped to tasks. */
  final case class Code(seed: Long, vocab: Array[String], cdf: Array[Double]) {

    def word(i: Long, j: Long): String = vocab(draw(cdf, unit(seed, i, j)))

    private val langs = Array("scala", "go", "java", "py", "js", "rs")
    private val seps = Array(" ", " ", " = ", "(", ");\n", ".", ", ", " {\n  ")

    /** Document `i`: 12 + Exp(45) identifiers of 1-3 words each, so lengths
      * vary widely around ~115 tokens.
      */
    def doc(i: Long): CorpusDoc = {
      val nIdent = math.min(12 + (-math.log1p(-unit(seed, i, 1)) * 45).toInt, 400)
      val sb = new StringBuilder
      var k = 0
      var j = 1000L
      while (k < nIdent) {
        val parts = 1 + below(seed, i, j, 3)
        val style = below(seed, i, j + 1, 3)
        var p = 0
        while (p < parts) {
          val w = word(i, j + 2 + p)
          if (p > 0 && style == 1) sb += '_'
          if (p > 0 && style == 0) sb ++= w.capitalize else sb ++= w
          p += 1
        }
        if (below(seed, i, j + 5, 12) == 0) sb += ('0' + below(seed, i, j + 6, 10)).toChar
        sb ++= seps(below(seed, i, j + 7, seps.length))
        j += 8
        k += 1
      }
      val repoId = math.sqrt(below(seed, i, 2, 400).toDouble).toInt
      val lang = langs(below(seed, i, 3, langs.length))
      val path = s"pkg${below(seed, i, 4, 9)}/${word(i, 5).capitalize}_$i.$lang"
      val commit = f"${mix(seed, i, 6) & Long.MaxValue}%016x${mix(seed, i, 7) & Long.MaxValue}%016x"
      CorpusDoc(s"org${repoId % 7}/repo$repoId", path, commit, lang, sb.toString)
    }
  }

  /** The benchmark's code corpus: 30,000 words, Zipf exponent 1. */
  def code(seed: Long): Code = Code(seed, words(seed, 30000), zipfCdf(30000, 1.0))

  /** Docs `from until to` of the corpus as a Dataset. */
  def corpus(spark: SparkSession, c: Code, from: Long, to: Long, parts: Int): Dataset[CorpusDoc] = {
    import spark.implicits._
    spark.range(from, to, 1, parts).map(i => c.doc(i))
  }

  /** One search request of the stream. */
  final case class Query(text: String, conjunctive: Boolean, distributed: Boolean) {
    def terms: Seq[String] = text.split(' ').toSeq
  }

  /** Query `i` of stream `stream`: terms Zipf-drawn from the index
    * vocabulary; the kind cycles with `i` so every ten queries carry the
    * same mix: five 1-2-term OR, two 2-term AND, two 3-5-term OR with one
    * hot term (top 20 ranks), and one 2-term OR forced onto the
    * distributed per-salt path.
    */
  def query(c: Code, stream: Long, i: Long): Query = {
    val s = mix(c.seed, stream, 0x9e37L)
    def distinct(n: Int, first: Option[String]): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      first.foreach(out += _)
      var j = 10L
      while (out.size < n) { out += c.vocab(draw(c.cdf, unit(s, i, j))); j += 1 }
      out.toSeq
    }
    (i % 10).toInt match {
      case 0 | 1 | 2 | 3 | 9 => Query(distinct(1 + below(s, i, 2, 2), None).mkString(" "), false, false)
      case 4 | 5 => Query(distinct(2, None).mkString(" "), true, false)
      case 6 | 7 =>
        val hot = c.vocab(below(s, i, 3, 20))
        Query(distinct(3 + below(s, i, 4, 3), Some(hot)).mkString(" "), false, false)
      case _ => Query(distinct(2, None).mkString(" "), false, true)
    }
  }

  /** Ranks below `Head` are the vocabulary head: about 54% of all term
    * occurrences at Zipf exponent 1 over 30,000 words.
    */
  val Head = 200

  /** Search query `i` of stream `stream`, of the same kind and size as
    * `query(c, stream, i)`: one tail term (rank `Head` or more, Zipf-drawn;
    * `attempt` redraws it) and the other terms Zipf-drawn from the head.
    */
  def searchQuery(c: Code, stream: Long, i: Long, attempt: Int): Query = {
    val s = mix(c.seed, stream, 0x5e4cL)
    val headMass = c.cdf(Head - 1)
    val tail = c.vocab(draw(c.cdf, headMass + unit(s, i, 1000L + attempt) * (1 - headMass)))
    def withHead(n: Int, first: Option[String]): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      first.foreach(out += _)
      var j = 10L
      while (out.size < n - 1) { out += c.vocab(draw(c.cdf, unit(s, i, j) * headMass)); j += 1 }
      (out += tail).toSeq
    }
    (i % 10).toInt match {
      case 0 | 1 | 2 | 3 | 9 => Query(withHead(1 + below(s, i, 2, 2), None).mkString(" "), false, false)
      case 4 | 5 => Query(withHead(2, None).mkString(" "), true, false)
      case 6 | 7 =>
        val hot = c.vocab(below(s, i, 3, 20))
        Query(withHead(3 + below(s, i, 4, 3), Some(hot)).mkString(" "), false, false)
      case _ => Query(withHead(2, None).mkString(" "), false, true)
    }
  }

  // ---- analytics tables ----------------------------------------------------
  //
  // The tables copy the shape of the engine's sf0.1 test tables (row counts,
  // columns, value ranges and skew, measured with DuckDB): a run may read
  // only its own checkout, so it writes them from the seed instead.

  private val docWords = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val langsDoc = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh",
    "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** documents(doc_id, text, lang, source, n_chars): 8-100 words drawn
    * uniformly from 30; 41% `en`; 20 sources. Every twentieth doc is an
    * earlier original with " dup" appended (Jaccard over word 3-gram
    * shingles >= 6/7), so MinHash LSH finds every pair and the result can
    * be compared row for row with the exact oracle.
    */
  def documents(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map { id0 =>
      val id: Long = id0
      def text(i: Long): String =
        (0 until 8 + below(seed, i, 1, 93)).map(w => docWords(below(seed, i, 100 + w, docWords.length))).mkString(" ")
      val t = if (id % 20 != 19) text(id) else {
        val src = below(seed, id, 2, id.toInt)
        text(if (src % 20 == 19) src - 1 else src) + " dup"
      }
      (id, t, langsDoc(below(seed, id, 3, langsDoc.length)), s"src${id % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def h(seed: Long, k: Int, mod: Long) = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(mod))

  /** events(event_id, ts, user_id, event_type, value, props): five types
    * alike, 30 days of January 2024 at microsecond resolution, 1,500 users,
    * 100 distinct props.
    */
  def events(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val types = Seq("signup", "purchase", "view", "click", "error")
    spark.range(0, n, 1, parts).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h(seed, 1, 30L * 86400L * 1000000L)).as("ts"),
      h(seed, 2, 1500L).as("user_id"),
      element_at(typedLit(types), h(seed, 3, types.size.toLong).cast("int") + 1).as("event_type"),
      (h(seed, 4, 56022L) / 100.0).as("value"),
      concat(lit("{\"k\": "), h(seed, 5, 100L).cast("string"), lit("}")).as("props"))
  }

  /** lineitem with the TPC-H columns of the test tables: four lines per
    * order, ship dates over 2,499 days from 1995-01-02.
    */
  def lineitem(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (h(seed, 1, 20000L) + 1).as("l_partkey"),
      (h(seed, 2, 1000L) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(seed, 3, 50L) + 1).cast("double").as("l_quantity"),
      (h(seed, 4, 10000000L) / 100.0 + 900.0).as("l_extendedprice"),
      (h(seed, 5, 11L) / 100.0).as("l_discount"),
      (h(seed, 6, 9L) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")), h(seed, 7, 3L).cast("int") + 1).as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")), h(seed, 8, 2L).cast("int") + 1).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) + h(seed, 9, 2499L) * 86400L).as("l_shipdate"))

  /** Writes the analytics tables and the embeddings under `dir`. */
  def analyticsTables(spark: SparkSession, seed: Long, dir: String, docs: Long,
                      events: Long, lineitem: Long, vectors: Long, dim: Int, parts: Int): Unit = {
    documents(spark, seed, docs, parts).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Gen.events(spark, seed, events, parts).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Gen.lineitem(spark, seed, lineitem, parts).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    graft.ops.Similarity.synthEmbeddings(spark, dir, vectors, dim, seed = seed,
      parallelism = parts, centers = math.max(1, (vectors / 40).toInt))
  }
}

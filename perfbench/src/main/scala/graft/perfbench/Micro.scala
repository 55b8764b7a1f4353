package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.analyze.AnalyzerBytes
import graft.index.{Codec, IndexBuilder, PostingBlock}
import graft.query.{Bm25, Wand}

/** Single-thread JVM microbenches over data collected untimed, and the
  * pure-CPU calibration lap they are divided by.
  */
object Micro {

  /** 200M xorshift64 steps, no allocation, best of two: moves only with
    * host speed, so `x_per_cpu_lap = x_per_s × lap_s` cancels host drift.
    */
  def cpuLap(): Double = {
    def one(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < 200000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    math.min(one(), one())
  }

  /** Units of work per second: repeats `f` (which returns the units it did)
    * for at least `minSec`, after one untimed pass.
    */
  private def rate(minSec: Double)(f: => Long): Double = {
    f
    var units = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minSec) { units += f; el = (System.nanoTime() - t0) / 1e9 }
    units / el
  }

  private def sink(x: Long): Unit = if (x == Long.MinValue) System.err.print("")

  def analyzeMbPerS(texts: Array[UTF8String]): Double =
    rate(0.5) {
      var bytes = 0L
      var h = 0L
      texts.foreach { t =>
        h += AnalyzerBytes.termFreqs(t, "code")._3
        bytes += t.numBytes()
      }
      sink(h)
      bytes
    } / 1e6

  /** (decode postings/s, encode postings/s, encoded bytes per posting). */
  def codec(blocks: Array[PostingBlock]): (Double, Double, Double) = {
    val dec = rate(0.5) {
      var h = 0L
      blocks.foreach { b =>
        h += Codec.decodeDeltas(b.docDeltas, b.n, b.firstDocId)(b.n - 1)
        h += Codec.decodeInts(b.tfs, b.n)(0) + Codec.decodeInts(b.dls, b.n)(0)
      }
      sink(h)
      blocks.map(_.n.toLong).sum
    }
    val raw = blocks.map(b => (Codec.decodeDeltas(b.docDeltas, b.n, b.firstDocId), b.firstDocId,
      Codec.decodeInts(b.tfs, b.n), Codec.decodeInts(b.dls, b.n)))
    val enc = rate(0.5) {
      var h = 0L
      raw.foreach { case (d, base, tf, dl) =>
        h += Codec.encodeDeltas(d, base).length + Codec.encodeInts(tf).length + Codec.encodeInts(dl).length
      }
      sink(h)
      raw.map(_._1.length.toLong).sum
    }
    val bytes = blocks.map(b => b.docDeltas.length + b.tfs.length + b.dls.length).map(_.toLong).sum
    (dec, enc, bytes.toDouble / blocks.map(_.n.toLong).sum)
  }

  /** Analyzer, codec and WAND microbenches over the search index `h` and
    * a sample of the corpus `code`.
    */
  def all(spark: SparkSession, h: IndexBuilder.Handle, code: Gen.Code): Seq[M] = {
    val lap = cpuLap()
    val texts = (0L until 1500L).map(i => UTF8String.fromString(code.doc(i).content)).toArray
    val mb = analyzeMbPerS(texts)

    // WAND inputs: 2-5-term OR queries from their own stream, with every
    // posting block of their terms
    val qs = (0L until 200L).map(i => Gen.query(code, 4, i)).filter(q => !q.conjunctive && q.terms.size >= 2).take(30)
    val terms = qs.flatMap(_.terms).distinct
    val byTerm = h.postings(spark).filter(col("term").isin(terms: _*)).collect()
      .groupBy(_.term).map { case (t, bs) => t -> bs.sortBy(b => (b.salt, b.blockIdx)) }
    val st = h.stats(spark)
    val (dec, enc, bpp) = codec(byTerm.values.flatten.toArray)
    def scorers(q: Gen.Query): Array[Wand.TermScorer] = q.terms.flatMap(t => byTerm.get(t)).map { bs =>
      new Wand.TermScorer(bs.head.term, bs, Bm25.idf(st.n, bs.map(_.n.toLong).sum), st.avgdl)
    }.toArray
    val postings = qs.map(q => q.terms.flatMap(t => byTerm.get(t)).flatten.map(_.n.toLong).sum).sum
    def timeOf(f: Array[Wand.TermScorer] => Int): Double = {
      qs.foreach(q => f(scorers(q)))
      var n = 0
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < 0.4) { qs.foreach(q => n += f(scorers(q))); el = (System.nanoTime() - t0) / 1e9 }
      el / math.max(n, 1)
    }
    // seconds per query
    val tOr = timeOf(s => { Wand.topKOr(s, 10); 1 })
    val tAnd = timeOf(s => { Wand.intersectAnd(s); 1 })
    val tAll = timeOf(s => { Wand.mergeAtLeast(s, 1); 1 })
    val perQuery = postings.toDouble / qs.size
    Seq(M("analyze.code_mb_per_s", mb, "MB/s"),
      M("analyze.code_mb_per_cpu_lap", mb * lap, "MB"),
      M("codec.decode_postings_per_s", dec, "1/s"),
      M("codec.decode_postings_per_cpu_lap", dec * lap, "count"),
      M("codec.encode_postings_per_s", enc, "1/s"),
      M("codec.bytes_per_posting", bpp, "bytes"),
      M("wand.or_postings_per_s", perQuery / tOr, "1/s"),
      M("wand.and_postings_per_s", perQuery / tAnd, "1/s"),
      M("wand.or_postings_per_cpu_lap", perQuery / tOr * lap, "count"),
      M("wand.or_vs_exhaustive", tOr / tAll, "ratio"),
      M("bench.cpu_lap_s", lap, "s"))
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Run state shared by the workloads: the Spark session (at local[4], or
  * local[1] for the build workload's scaling pair), the tracer, and the
  * attempted / failed call counts.
  */
final class Ctx(val work: String, val seed: Long) {
  val tracer = new Tracer(System.nanoTime())
  var cores = 0
  var attempted = 0L
  var failed = 0L
  private var session0: SparkSession = _
  private var tracing = false

  def spark: SparkSession = session(if (cores == 0) 4 else cores)

  /** The session at local[`n`]; switching levels stops the old one. */
  def session(n: Int): SparkSession = {
    if (session0 == null || cores != n) {
      if (session0 != null) { tracer.detach(); session0.stop() }
      session0 = SparkSession.builder()
        .master(s"local[$n]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      session0.sparkContext.setLogLevel("ERROR")
      cores = n
      if (tracing) tracer.attach(session0.sparkContext)
    }
    session0
  }

  /** Runs `f` with span recording and the Spark listener on or off. */
  def traced[T](on: Boolean)(f: => T): T = {
    tracing = on
    if (on) tracer.attach(spark.sparkContext)
    try f finally { tracer.detach(); tracing = false }
  }

  /** One attempted call into the engine, timed (and traced when on). A call
    * that throws counts as failed and yields None.
    */
  def op[T](name: String, tag: String = "")(f: => T): Option[(T, Double)] = {
    attempted += 1
    try Some(tracer.call(name, tag)(f))
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name failed")
        e.printStackTrace()
        None
    }
  }

  def stop(): Unit = if (session0 != null) {
    tracer.detach()
    session0.stop()
    session0 = null
  }
}

/** The benchmark's JVM side. Arguments:
  *   --workload search|analytics --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE [--spans FILE]
  * Writes one JSON object to FILE: attempted and failed calls, the
  * end-to-end metrics (untraced run) or the per-layer metrics (traced run),
  * and the workload's named figures.
  */
object Main {
  private def secs[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0) -> a(1)).toMap
    def arg(k: String): String = kv.getOrElse(s"--$k", sys.error(s"missing --$k"))
    val name = arg("workload")
    val trace = arg("trace") == "1"
    val seconds = arg("seconds").toDouble
    val c = new Ctx(arg("work"), arg("seed").toLong)
    val w = Workload(name, c)
    val start = System.nanoTime()
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%.1f s: $p")

    c.session(4)
    phase("session up")
    // set-ups on a JIT-cold JVM may stay untimed; setup_s is an end-to-end
    // metric, so only the untraced run repeats set-up, timed
    val untimed = if (trace) 1 else w.warmSetups
    (0 until untimed).foreach(w.setup)
    val setupS = if (trace) Nil else (untimed until untimed + w.timedSetups).map(k => secs(w.setup(k)))
    phase(s"set-ups ${setupS.map(x => f"$x%.2f").mkString(" ")}")
    w.warm()
    phase("warm-up done")

    // timed region: whole rounds until the run's seconds are spent. A traced
    // run alternates untraced and traced rounds, so drift hits both alike;
    // its first (untraced) round is still warming and stays out of the
    // overhead ratio.
    val plain = ArrayBuffer.empty[Double]
    val withSpans = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var r = 0
    val minRounds = if (trace) math.max(3, w.minRounds) else w.minRounds
    while (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = trace && r % 2 == 1
      val s = c.traced(on)(secs(c.tracer.call(s"$name.round")(w.round(r))))
      (if (on) withSpans else plain) += s
      r += 1
    }
    phase(s"$r rounds done: ${(plain ++ withSpans).map(x => f"$x%.2f").mkString(" ")}")
    // used heap after a full GC; the least of three collections half a
    // second apart, so that Spark's ContextCleaner can release the
    // broadcasts and cached blocks the previous collection unreferenced
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(500)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // traced run: per-layer extras, then one traced round of every other
    // workload so that each layer is measured on the workload that owns it
    val others = if (!trace) Nil else Workload.all.filter(_ != name).map(Workload(_, c, probe = true))
    if (trace) {
      c.traced(on = true)(w.extras())
      others.foreach { o =>
        c.session(4)
        o.setup(0)
        c.traced(on = true) { c.tracer.call(s"${o.name}.round")(o.round(0)); o.extras() }
        phase(s"probe ${o.name} done")
      }
    }

    val all = w +: others
    c.session(4)
    val wrong = all.map(_.check()).sum
    phase(s"checks done, $wrong wrong")
    all.foreach(_.beforeStop())
    val figures = w.figures
    c.stop()
    phase("session stopped")

    val metrics: Seq[M] =
      if (!trace) Seq(
        M("setup_s", Util.median(setupS), "s"),
        M("round_s", Util.median(plain.toSeq), "s"),
        M("call_p50_ms", Util.median(w.primary.toSeq), "ms"),
        M("heap_retained_mb", heapMb, "MB"))
      else all.flatMap(_.layers(c.tracer)) ++
        others.filterNot(o => Workload.timed.contains(o.name)).flatMap(_.figures) :+
        M("bench.trace_overhead_frac",
          Util.median(withSpans.toSeq) / Util.median(plain.drop(1).toSeq) - 1, "ratio")
    kv.get("--spans").foreach(c.tracer.write)

    def obj(ms: Seq[M]) = ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit))
    val out = Json.obj(Seq(
      "workload" -> name,
      "attempted" -> c.attempted,
      "failed" -> (c.failed + wrong),
      "rounds" -> r.toLong,
      "metrics" -> obj(metrics).toMap,
      "figures" -> obj(figures).toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")), out)
  }
}

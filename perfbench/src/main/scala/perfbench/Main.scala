package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run shares: parsed arguments, the session, the tracer and
  * (traced runs only) the job-group listener. */
final class Ctx(val args: Map[String, String], val spark: SparkSession,
    val tracer: Tracer, val listener: Option[GroupListener], val work: String) {
  def arg(k: String, default: String): String = args.getOrElse(k, default)
  val seed: Long = arg("seed", "1").toLong
  val seconds: Double = arg("seconds", "10").toDouble
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Run `body` with the submitting thread's jobs tagged `group`. */
  def inGroup[A](group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

/** What a workload reports: end-to-end and per-layer metrics (name →
  * (value, unit)) and its output-check tally. */
final class Outcome {
  val endToEnd: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val perLayer: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  def fail(what: String): Unit = { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
}

trait Workload {
  /** Everything before timing begins; its wall time lands in `setup_s`. */
  def setup(ctx: Ctx, out: Outcome): Unit
  /** The timed phase: about `ctx.seconds` of measured work. */
  def measure(ctx: Ctx, out: Outcome): Unit
  /** Traced runs only, after the timed phase: per-layer metrics from the
    * spans, plus any legs timed only to split a layer out. */
  def report(ctx: Ctx, out: Outcome): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def loadavg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => 0.0 }
}

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --pinned FILE --work DIR [--spans FILE] [--pin FILE]
  * }}}
  *
  * Prints one JSON object as the last stdout line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{"value":…,"unit":…}}}`
  * with the end-to-end metrics when untraced and the per-layer metrics when
  * traced. Exits 1 when any output check failed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload: Workload = args.getOrElse("workload", "") match {
      case "ingest" => new IngestWorkload
      case w if CatalogWorkload.entries.contains(w) => new CatalogWorkload(w)
      case w => System.err.println(s"unknown workload '$w'"); sys.exit(2)
    }
    val traced = args.getOrElse("trace", "0") == "1"
    val loadStart = Stats.loadavg1()
    val work = args.getOrElse("work", "perfbench-work")
    Files.createDirectories(Paths.get(work))
    val tracer = new Tracer(traced, t0)
    val out = new Outcome

    val spark = tracer.span("session.start") { _ => session(work) }
    val listener = if (traced) {
      val l = new GroupListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new Ctx(args, spark, tracer, listener, work)
    var code = 0
    try {
      tracer.span("setup") { _ => workload.setup(ctx, out) }
      val setupS = (System.nanoTime() - t0) / 1e9
      tracer.span("measure") { _ => workload.measure(ctx, out) }
      val loadEnd = Stats.loadavg1()
      out.endToEnd("setup_s") = (setupS, "s")
      if (traced) {
        listener.foreach(_.flush())
        workload.report(ctx, out)
        out.perLayer("host.load_start") = (loadStart, "load")
        out.perLayer("host.load_end") = (loadEnd, "load")
        out.perLayer("host.contaminated") =
          (if (math.max(loadStart, loadEnd) > 1.5 * ctx.cores) 1.0 else 0.0, "flag")
        out.perLayer("trace.spans") = (tracer.spans.size.toDouble, "count")
        // the traced run's end-to-end figures: against an untraced run's,
        // they give the tracing overhead
        out.endToEnd.foreach { case (k, v) => out.perLayer(s"e2e.$k") = v }
        args.get("spans").foreach(tracer.write)
      } else if (math.max(loadStart, loadEnd) > 1.5 * ctx.cores)
        System.err.println(s"[perfbench] contaminated run: loadavg $loadStart → $loadEnd on ${ctx.cores} cores")
      val metrics = if (traced) out.perLayer else out.endToEnd
      val correct = out.failed == 0 && out.attempted > 0
      val m = metrics.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString(",")
      println(s"""{"correct":$correct,"attempted":${out.attempted max 1},"failed":${out.failed},"metrics":{$m}}""")
      if (!correct) code = 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 3
    } finally {
      try workload match { case c: AutoCloseable => c.close(); case _ => () }
      finally spark.stop()
    }
    System.out.flush()
    sys.exit(code)
  }

  /** One local session over every core, shuffle partitions = cores, every
    * scratch path inside the work directory. */
  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val abs = Paths.get(work).toAbsolutePath.toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$abs/spark-local")
      .config("spark.sql.warehouse.dir", s"$abs/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$abs/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$abs/rdd-checkpoints")
    s
  }
}

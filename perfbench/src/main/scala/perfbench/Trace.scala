package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call: wall-clock bounds in nanoseconds on the harness's
  * monotonic clock, the enclosing span, and numeric attributes (listener
  * counters, row counts). */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  @volatile var end: Long = -1L
  /** What the call worked on (an entry, a module, a phase). */
  var label: String = ""
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. Every layer call the benchmark makes goes through [[span]],
  * which times it from outside; when `enabled` the spans are kept for the
  * per-layer metrics and written as JSONL (one object per span: id, name,
  * parent, start/end in ns relative to process start, attributes). When not
  * enabled, [[span]] only runs the body, so an untraced run pays nothing. */
final class Tracer(val enabled: Boolean, t0: Long) {
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def span[A](name: String)(body: Span => A): A =
    if (!enabled) body(null)
    else {
      val s = new Span(ids.incrementAndGet(), name, stack.get.headOption.getOrElse(0), System.nanoTime())
      spans.synchronized(spans += s)
      stack.set(s.id :: stack.get)
      try body(s)
      finally { s.end = System.nanoTime(); stack.set(stack.get.tail) }
    }

  /** A span whose bounds were observed elsewhere (a stream progress event). */
  def record(name: String, start: Long, end: Long, attrs: (String, Double)*): Unit =
    if (enabled) {
      val s = new Span(ids.incrementAndGet(), name, stack.get.headOption.getOrElse(0), start)
      s.end = end
      attrs.foreach { case (k, v) => s.attrs(k) = v }
      spans.synchronized(spans += s)
    }

  def write(path: String): Unit = if (enabled) {
    val w = new BufferedWriter(new FileWriter(path))
    try spans.synchronized(spans.toList).foreach { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.write(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""label":${Json.str(s.label)},"start_ns":${s.start - t0},"end_ns":${s.end - t0},"attrs":{$a}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Executor-side counters of the jobs run under one job group. */
final class GroupCounters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleReadB = new AtomicLong
  val shuffleWriteB = new AtomicLong
  val spillB = new AtomicLong
}

/** The benchmark's one SparkListener. Jobs are attributed to the job group
  * the benchmark set on the submitting thread (`SparkContext.setJobGroup`),
  * so counters never bleed between entries and no listener-bus drain is
  * needed between them: [[flush]] runs one sentinel job and waits for its
  * end event, which the bus delivers after every earlier event. */
final class GroupListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
  private val flushes = new AtomicInteger(0)
  private val GroupKey = "spark.jobGroup.id" // SparkContext.SPARK_JOB_GROUP_ID, private[spark]

  def counters(group: String): GroupCounters = groups.computeIfAbsent(group, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobGroup.put(e.jobId, g)
    counters(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).flatMap(g => Option(sentinels.get(g))).foreach(_.countDown())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = counters(Option(stageGroup.get(info.stageId)).getOrElse("none"))
    c.stages.incrementAndGet()
    c.tasks.addAndGet(info.numTasks.toLong)
    val m = info.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Block until every event posted before this call has been delivered. */
  def flush(): Unit = {
    val g = s"perfbench-flush-${flushes.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    sentinels.put(g, latch)
    val prev = sc.getLocalProperty(GroupKey)
    sc.setJobGroup(g, "listener flush")
    try sc.parallelize(Seq(1), 1).count()
    finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, "")
    latch.await(60, TimeUnit.SECONDS)
    sentinels.remove(g)
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

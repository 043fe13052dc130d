package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermission
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.sources.BlockSource
import graft.sources.net.{BlockStreamDrainer, BlockStreamServer, BlockStreamWire}
import graft.sources.v2.BlockFeedProvider
import graft.streaming.{JdbcMultiTableSink, StreamDriver}
import graft.streaming.pg.{PgDriver, PgServer}

/** A seeded block chain as the wire serves it: data messages of a few blocks
  * each, invalidate reorgs of seeded depth (the blocks after the reorg point
  * are re-emitted with new contents), and a pending head as the last
  * message. `canonical` is what must survive: per block number, the events
  * of its last emitted version, up to the tip. */
final class Chain(val messages: Seq[String], val canonical: Map[Long, Seq[(Long, Long)]],
    val wireEvents: Long) {
  val tip: Long = canonical.keys.max
  val rows: Long = canonical.values.map(_.size.toLong).sum
  /** Expected row count per routed table. */
  def tableCounts: Map[Int, Long] =
    canonical.toSeq.flatMap { case (b, evs) => evs.map { case (t, e) => Chain.route(b, t, e) } }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
}

object Chain {
  val Tables = 24 // the reference's fact-table count
  def route(block: Long, tx: Long, ev: Long): Int = ((block * 31 + tx * 7 + ev) % Tables).toInt

  private def block(b: Long, n: Int): BlockStreamWire.WireBlock = {
    val txs = 1 + n / 8
    BlockStreamWire.WireBlock(b, 1704067200L + b * 30L,
      (0 until n).map(i => ((i % txs).toLong, (i / txs).toLong)))
  }

  /** `blocks` canonical blocks in messages of `perMessage`, `reorgs`
    * invalidations of seeded depth 2..`maxDepth`, then a pending head. Event
    * counts per emitted block vary with the seed but sum to exactly
    * `events`. The reorgs sit at fixed, evenly spaced messages: where they
    * fall decides how the backlog splits into micro-batches, and with it
    * how many task waves each batch needs — a seed must not change that. */
  def backlog(rnd: Random, blocks: Int, perMessage: Int, events: Int,
      reorgs: Int, maxDepth: Int): Chain = {
    // the emission plan: block numbers in wire order, with a reorg after
    // the message that ends at each chosen point
    val reorgAt = (1 to reorgs).map { j =>
      (blocks * j / (reorgs + 1) / perMessage).max(1) * perMessage -> (2 + rnd.nextInt(maxDepth - 1))
    }
    val plan = mutable.ArrayBuffer.empty[Either[Long, Seq[Long]]] // Left = invalidate, Right = data
    var next = 1L
    val pending = mutable.Queue(reorgAt: _*)
    while (next <= blocks) {
      val msg = (next until math.min(next + perMessage, blocks + 1L)).toSeq
      plan += Right(msg)
      next = msg.last + 1
      if (pending.headOption.exists(_._1 <= msg.last)) {
        val depth = pending.dequeue()._2
        val keep = msg.last - depth
        plan += Left(keep)
        // the replacement chain re-emits keep+1 .. msg.last before going on
        plan += Right((keep + 1) to msg.last)
      }
    }
    val emitted = plan.collect { case Right(bs) => bs }.flatten
    val counts = Array.fill(emitted.size)(10 + rnd.nextInt(61))
    var diff = events - counts.sum
    while (diff != 0) {
      val i = rnd.nextInt(counts.length)
      if (diff > 0) { counts(i) += 1; diff -= 1 }
      else if (counts(i) > 1) { counts(i) -= 1; diff += 1 }
    }
    val sizes = emitted.iterator.zip(counts.iterator)
    val canonical = mutable.Map.empty[Long, Seq[(Long, Long)]]
    val msgs = plan.map {
      case Left(keep) =>
        canonical.keys.filter(_ > keep).toList.foreach(canonical.remove)
        BlockStreamWire.invalidate(keep)
      case Right(bs) =>
        val wb = bs.map { b => val (_, n) = sizes.next(); block(b, n) }
        wb.foreach(w => canonical(w.blockNumber) = w.events)
        BlockStreamWire.data(wb)
    }
    val head = BlockStreamWire.data(Seq(block(blocks + 1L, 5)), finality = "pending")
    new Chain((msgs :+ head).toSeq, canonical.toMap, events.toLong)
  }

  /** `n` single-block messages numbered 1..n, for the followed head. */
  def follow(rnd: Random, n: Int): Chain = {
    val bs = (1 to n).map(b => block(b.toLong, 10 + rnd.nextInt(61)))
    new Chain(bs.map(b => BlockStreamWire.data(Seq(b))),
      bs.map(b => b.blockNumber -> b.events).toMap, bs.map(_.events.size.toLong).sum)
  }
}

/** The reference's headline job, end to end: a seeded chain served over h2c
  * with protobuf framing by `BlockStreamServer`, drained by
  * `BlockStreamDrainer` into the chunk directory, read by the `graft-blocks`
  * DSv2 source into `StreamDriver`, which writes canonical parquet and, with
  * `JdbcMultiTableSink`, 24 routed tables in a local Postgres.
  *
  * The timed phase drains and ingests the whole backlog under
  * `AvailableNow`, in rounds on fresh state. Traced runs then follow the
  * head: one block per fixed interval, ingested under a `ProcessingTime`
  * trigger, each block's lag taken from its due time on the producer's
  * schedule to its operational visibility. */
final class IngestWorkload extends Workload with AutoCloseable {
  import IngestWorkload._

  private var pg: PgServer.Instance = _
  private var pgRoot: Path = _
  /** Stream progress (`durationMs` plus batch id, rows, start) per query run. */
  private val progress = new ConcurrentHashMap[String, mutable.ArrayBuffer[Map[String, Long]]]()

  def setup(ctx: Ctx, out: Outcome): Unit = {
    pgRoot = ctx.tracer.span("pg.start") { _ =>
      val root = pgScratch(Paths.get(ctx.work))
      PgDriver.ensureRegistered()
      pg = PgServer.start(root)
      root
    }
    sys.addShutdownHook(close()) // a terminated run still stops and removes its Postgres
    if (ctx.tracer.enabled)
      ctx.spark.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap +
            ("batchId" -> p.batchId) + ("rows" -> p.numInputRows) +
            ("ts" -> Instant.parse(p.timestamp).toEpochMilli)
          progress.computeIfAbsent(p.runId.toString, _ => mutable.ArrayBuffer.empty).synchronized {
            progress.get(p.runId.toString) += d
          }
        }
      })
    // pilot, untimed: a one-batch backfill through the whole chain warms
    // the streaming machinery, the JDBC writer and the Postgres catalogs
    ctx.tracer.span("pilot") { _ =>
      backfill(ctx, out, Chain.backlog(new Random(ctx.seed), 8, 4, 200, 0, 2), "pilot")
    }
  }

  /** Backfill rounds, each the same seeded backlog on fresh state: at least
    * `TimedRounds`, more while the next should end within `--seconds`.
    * `cycle_s` is their mean: one round varied by ±6 % from run to run on a
    * shared 4-core host (CPU steal up to 17 %). */
  def measure(ctx: Ctx, out: Outcome): Unit = {
    backlog = Chain.backlog(new Random(ctx.seed), BacklogBlocks, PerMessage, BacklogEvents,
      Reorgs, MaxDepth)
    val roundSecs = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (roundSecs.size < TimedRounds ||
        System.nanoTime() + (roundSecs.last * 1e9).toLong <= deadline) {
      val t = System.nanoTime()
      ctx.tracer.span("backfill") { s =>
        if (s != null) s.label = s"round${roundSecs.size + 1}"
        backfill(ctx, out, backlog, s"b${roundSecs.size + 1}")
      }
      roundSecs += (System.nanoTime() - t) / 1e9
      System.err.println(f"[perfbench] round ${roundSecs.size}: ${roundSecs.last}%.3f s")
    }
    out.endToEnd("cycle_s") = (roundSecs.sum / roundSecs.size, "s")
  }
  private var backlog: Chain = _

  /** Drain the chain over h2c into a fresh feed, then ingest it to parquet
    * and the Postgres tables under AvailableNow; check every output. */
  private def backfill(ctx: Ctx, out: Outcome, chain: Chain, tag: String): Unit = {
    val dir = s"${ctx.work}/ingest/$tag"
    ctx.tracer.span("net.drain") { _ => drain(chain, s"$dir/feed") }
    val (sink, route) = mkSink(tag)
    val driver = new StreamDriver(ctx.spark, s"$dir/facts", s"$dir/ckpt",
      multiTableSink = Some((sink, route)), onOperationalRefresh = markRetract(tag))
    ctx.tracer.span("driver.run") { s =>
      val q = driver.start(Feed(s"$dir/feed", ChunksPerTrigger), Trigger.AvailableNow())
      if (s != null) s.label = q.runId.toString
      q.awaitTermination()
    }
    ctx.tracer.span("check") { _ => check(ctx, out, chain, s"$dir/facts", sink, tag) }
  }

  /** Serve the chain over h2c with protobuf framing and drain it into `feed`. */
  private def drain(chain: Chain, feed: String): Unit = {
    val srv = new BlockStreamServer(chain.messages, binary = true, h2c = true)
    try BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, feed, binary = true, h2c = true)
    finally srv.close()
  }

  private val retractBatches = new ConcurrentHashMap[String, mutable.Set[Int]]()
  private val callbacks = new ConcurrentHashMap[String, Int]()

  /** Operational-refresh hook: a retraction pokes it with a column-less
    * frame. Counting the calls numbers the micro-batches (every data or
    * invalidate batch calls it once), so retract batches can be picked
    * out of the progress events. */
  private def markRetract(tag: String)(df: DataFrame): Unit = {
    val i = callbacks.merge(tag, 1, _ + _) - 1
    if (df.columns.isEmpty) retractBatches.computeIfAbsent(tag, _ => mutable.Set.empty[Int]).synchronized {
      retractBatches.get(tag) += i
    }
  }

  /** Serve one block per `interval` ms and ingest continuously; returns per
    * block (lag from due time to visibility, lateness of the producer). */
  private def follow(ctx: Ctx, out: Outcome, chain: Chain, interval: Long, tag: String,
      span: Span): Seq[(Double, Double)] = {
    val dir = s"${ctx.work}/ingest/$tag"
    Files.createDirectories(Paths.get(s"$dir/feed"))
    val visible = new ConcurrentHashMap[Long, Long]()
    val perBatch = mutable.ArrayBuffer.empty[Int]
    val (sink, route) = mkSink(tag)
    val driver = new StreamDriver(ctx.spark, s"$dir/facts", s"$dir/ckpt",
      multiTableSink = Some((sink, route)),
      onOperationalRefresh = { df =>
        if (df.columns.contains("block_number")) {
          val now = System.currentTimeMillis()
          val bs = df.select("block_number").distinct().collect().map(_.getLong(0))
          bs.foreach(visible.putIfAbsent(_, now))
          perBatch.synchronized(perBatch += bs.length)
        }
      })
    val q = driver.start(Feed(s"$dir/feed", ChunksPerTrigger), Trigger.ProcessingTime("50 milliseconds"))
    if (span != null) span.label = q.runId.toString
    val srv = new BlockStreamServer(chain.messages, paceMs = interval, binary = true, h2c = true)
    val lags = try {
      val t0 = System.currentTimeMillis()
      BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, s"$dir/feed", binary = true, h2c = true)
      val deadline = System.currentTimeMillis() + 30000L
      while (visible.size < chain.canonical.size && System.currentTimeMillis() < deadline) Thread.sleep(10)
      q.processAllAvailable()
      (1L to chain.tip).flatMap { b =>
        out.attempted += 1
        val due = t0 + b * interval
        Option(visible.get(b)) match {
          case None => out.fail(s"$tag: block $b never became visible"); None
          case Some(v) =>
            val committed = Files.getLastModifiedTime(
              Paths.get(f"$dir/feed/chunk-$b%012d.jsonl")).toMillis
            Some(((v - due).toDouble, (committed - due).toDouble))
        }
      }
    } finally { q.stop(); srv.close() }
    if (ctx.tracer.enabled && perBatch.nonEmpty)
      followBlocksPerBatch = Stats.median(perBatch.synchronized(perBatch.map(_.toDouble).toSeq))
    check(ctx, out, chain, s"$dir/facts", sink, tag)
    lags
  }
  private var followBlocksPerBatch = 0.0

  /** Canonical parquet rows = surviving rows, each Postgres table holds its
    * routed share, and the cursor sits on the last canonical block. */
  private def check(ctx: Ctx, out: Outcome, chain: Chain, facts: String,
      sink: JdbcMultiTableSink, tag: String): Unit = {
    def expect(what: String, got: Any, want: Any): Unit = {
      out.attempted += 1
      if (got != want) out.fail(s"$tag: $what = $got, expected $want")
    }
    expect("canonical rows", ctx.spark.read.parquet(s"$facts/raw_events").count(), chain.rows)
    val want = chain.tableCounts
    val c = pg.connect()
    try (0 until Chain.Tables).foreach { i =>
      val t = table(tag, i)
      val got = c.simple(s"SELECT count(*) FROM $t").head.rows.head.head.get.toLong
      expect(s"rows in $t", got, want.getOrElse(i, 0L))
    } finally c.close()
    expect("cursor block", sink.cursor().map(_._2), Some(chain.tip))
  }

  private def table(tag: String, i: Int): String = f"${tag}_t$i%02d"

  private def mkSink(tag: String): (JdbcMultiTableSink, DataFrame => Map[String, DataFrame]) = {
    val props = new java.util.Properties
    props.setProperty("user", pg.user)
    props.setProperty("driver", "graft.streaming.pg.PgDriver")
    val tables = (0 until Chain.Tables).map(table(tag, _))
    val sink = new JdbcMultiTableSink(pg.url(), tables, cursorTable = s"${tag}_cursor",
      connectionProperties = props)
    // pre-create every table: a table no row routes to must still exist
    val c = pg.connect()
    try tables.foreach(t => c.simple(
      s"CREATE TABLE $t (block_number BIGINT, transaction_index BIGINT, event_index BIGINT, " +
        "event_id BIGINT, batch_id BIGINT)"))
    finally c.close()
    val route = (b: DataFrame) => {
      val slot = pmod(col("block_number") * 31 + col("transaction_index") * 7 + col("event_index"),
        lit(Chain.Tables.toLong))
      val keyed = b.select(col("block_number"), col("transaction_index"), col("event_index"),
        col("event_id"), slot.as("slot"))
      tables.zipWithIndex.map { case (t, i) => t -> keyed.filter(col("slot") === i).drop("slot") }.toMap
    }
    (sink, route)
  }

  /** Traced runs: follow the head, time the split-out legs, and derive the
    * per-layer metrics from the spans and the stream progress events. */
  def report(ctx: Ctx, out: Outcome): Unit = {
    val chain = backlog
    val interval = ctx.arg("follow-interval-ms", "1000").toLong
    val lags = ctx.tracer.span("follow") { s =>
      follow(ctx, out, Chain.follow(new Random(ctx.seed), FollowBlocks), interval, "f", s)
    }
    out.perLayer("follow.lag_p50_ms") = (Stats.quantile(lags.map(_._1), 0.5), "ms")
    out.perLayer("follow.lag_p90_ms") = (Stats.quantile(lags.map(_._1), 0.9), "ms")
    val spans = ctx.tracer.spans.toSeq
    val measure = spans.find(_.name == "measure")
    val inMeasure = (s: Span) => measure.exists(m => s.start >= m.start)
    val drains = spans.filter(s => s.name == "net.drain" && inMeasure(s))
    val runs = spans.filter(s => s.name == "driver.run" && inMeasure(s))
    val drainS = Stats.median(drains.map(_.seconds))
    out.perLayer("ingest.backfill_evps") = (chain.wireEvents / Stats.median(
      spans.filter(s => s.name == "backfill" && inMeasure(s)).map(_.seconds)), "1/s")
    out.perLayer("net.drain_s") = (drainS, "s")
    out.perLayer("net.drain_evps") = (chain.wireEvents / drainS, "1/s")
    out.perLayer("driver.run_s") = (Stats.median(runs.map(_.seconds)), "s")
    def batchesOf(s: Span): Seq[Map[String, Long]] = Option(progress.get(s.label)).map(_.toSeq).getOrElse(Nil)
    val batches = runs.flatMap(batchesOf)
    val followBatches = spans.filter(_.name == "follow").flatMap(batchesOf)
    def med(k: String): Double = {
      val xs = batches.flatMap(_.get(k)).map(_.toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    out.perLayer("driver.batches") = (Stats.median(runs.map(batchesOf(_).size.toDouble)), "count")
    out.perLayer("v2.latest_offset_ms") = (med("latestOffset"), "ms")
    out.perLayer("v2.get_batch_ms") = (med("getBatch"), "ms")
    out.perLayer("driver.query_planning_ms") = (med("queryPlanning"), "ms")
    out.perLayer("driver.add_batch_ms_p50") = (med("addBatch"), "ms")
    out.perLayer("driver.wal_commit_ms") = (med("walCommit"), "ms")
    out.perLayer("driver.commit_offsets_ms") = (med("commitOffsets"), "ms")
    out.perLayer("driver.trigger_ms_p50") = (med("triggerExecution"), "ms")
    // batches of each run in order; the retract batches were marked by the
    // operational-refresh hook
    val retracts = runs.flatMap { r =>
      val tag = spans.find(s => s.id == r.parent).map(_.label).map(l => s"b${l.stripPrefix("round")}")
      val marked = tag.flatMap(t => Option(retractBatches.get(t))).map(_.toSet).getOrElse(Set.empty)
      batchesOf(r).filter(b => marked.contains(b("batchId").toInt)).flatMap(_.get("addBatch"))
    }
    out.perLayer("driver.retract_ms") = (if (retracts.isEmpty) 0.0 else Stats.median(retracts.map(_.toDouble)), "ms")
    // progress events as spans, so the stream layer shows in the span file
    (batches ++ followBatches).foreach { b =>
      val end = System.nanoTime() - (System.currentTimeMillis() - b("ts") - b.getOrElse("triggerExecution", 0L)) * 1000000L
      ctx.tracer.record("driver.batch", end - b.getOrElse("triggerExecution", 0L) * 1000000L, end,
        b.toSeq.map { case (k, v) => k -> v.toDouble }: _*)
    }
    out.perLayer("follow.blocks_per_batch") = (followBlocksPerBatch, "count")
    out.perLayer("follow.batches") = (followBatches.size.toDouble, "count")
    out.perLayer("follow.trigger_ms_p50") =
      (if (followBatches.isEmpty) 0.0 else Stats.median(followBatches.flatMap(_.get("triggerExecution")).map(_.toDouble)), "ms")
    out.perLayer("follow.gen_late_ms") = (Stats.median(lags.map(_._2)), "ms")
    // the split-out legs: parquet only, and the sink alone
    val dir = s"${ctx.work}/ingest/split"
    drain(chain, s"$dir/feed")
    val parquetOnly = ctx.tracer.span("driver.parquet_only") { _ =>
      val t = System.nanoTime()
      new StreamDriver(ctx.spark, s"$dir/facts", s"$dir/ckpt")
        .start(Feed(s"$dir/feed", ChunksPerTrigger), Trigger.AvailableNow()).awaitTermination()
      (System.nanoTime() - t) / 1e9
    }
    out.perLayer("driver.parquet_only_s") = (parquetOnly, "s")
    val rows = ctx.spark.read.parquet(s"$dir/facts/raw_events")
      .select("block_number", "transaction_index", "event_index", "event_id").persist()
    val n = rows.count()
    val (sink, route) = mkSink("split")
    val t = System.nanoTime()
    ctx.tracer.span("sink.write") { _ => sink.write(route(rows), 0L, chain.tip) }
    val sinkS = (System.nanoTime() - t) / 1e9
    rows.unpersist()
    out.perLayer("sink.write_s") = (sinkS, "s")
    out.perLayer("sink.rows_per_s") = (n / sinkS, "1/s")
    spans.find(_.name == "pg.start").foreach(s => out.perLayer("pg.start_s") = (s.seconds, "s"))
    spans.find(_.name == "pilot").foreach(s => out.perLayer("setup.pilot_s") = (s.seconds, "s"))
    spans.find(_.name == "session.start").foreach(s => out.perLayer("setup.session_s") = (s.seconds, "s"))
    val (rdds, mb) = CatalogWorkload.storage(ctx.spark)
    out.perLayer("storage.rdds") = (rdds.toDouble, "count")
    out.perLayer("storage.cached_mb") = (mb, "MB")
    // the leaf layers' share of the timed wall time
    measure.foreach { m =>
      val rounds = spans.filter(_.parent == m.id).map(_.id).toSet
      val leaves = spans.filter(s => rounds.contains(s.parent))
      out.perLayer("trace.coverage_frac") = (leaves.map(_.seconds).sum / m.seconds, "ratio")
    }
  }

  def close(): Unit = synchronized {
    if (pg != null) { pg.stop(); pg = null }
    if (pgRoot != null) { rmTree(pgRoot.toFile); pgRoot = null }
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }
}

object IngestWorkload {
  val BacklogBlocks = 180
  val PerMessage = 20
  val BacklogEvents = 7200
  val Reorgs = 1
  val MaxDepth = 12
  val ChunksPerTrigger = 64
  val FollowBlocks = 16
  val TimedRounds = 3

  private val schema = StructType(Seq(
    StructField("block_number", LongType),
    StructField("transaction_index", LongType),
    StructField("event_index", LongType),
    StructField("is_pending", BooleanType)))

  /** The `graft-blocks` DSv2 source over a chunk directory, with the
    * per-trigger chunk cap (backpressure). */
  final case class Feed(dir: String, cap: Int) extends BlockSource {
    override def schema: StructType = BlockFeedProvider.withControlColumns(IngestWorkload.schema)
    override def stream(spark: SparkSession): DataFrame =
      spark.readStream.format("graft-blocks").schema(schema)
        .option("path", dir).option("maxChunksPerTrigger", cap.toString).load()
  }

  /** PostgreSQL refuses to run as root, so the server runs as `nobody`,
    * which must be able to reach its data directory. Use the work
    * directory when every ancestor lets others through; otherwise a
    * private directory under /tmp (removed at the end of the run). */
  def pgScratch(work: Path): Path = {
    val abs = work.toAbsolutePath
    val open = Iterator.iterate(abs)(_.getParent).takeWhile(_ != null).forall { p =>
      !Files.exists(p) || Files.getPosixFilePermissions(p).contains(PosixFilePermission.OTHERS_EXECUTE)
    }
    if (open) abs.resolve("pg") else Files.createTempDirectory(Paths.get("/tmp"), "perfbench-pg")
  }
}

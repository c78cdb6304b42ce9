package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.dfs.DfsEngine
import graft.sources.LoopbackBus

/** One sensor point: key index, value, and due time (epoch ms). */
final case class Point(key: Int, v: Double, dueMs: Long)

/** One emitted window as the sink saw it. */
final case class Emitted(sensor: String, start: Long, n: Long, genMax: Long,
    emitMs: Long)

/** Open-loop DFS streaming task over the loopback bus, then backlog
  * drains.
  *
  * Open loop: a generator thread publishes JSON points at [[Rate]] per
  * second over [[Keys]] seeded sensor keys, on a fixed schedule that does
  * not slow when the engine does. Each point carries its due time as
  * event time (`ts`) and as `gen`. The DFS script filters, groups by
  * sensor, and counts per 1 s tumbling window; a `foreachBatch` sink
  * stamps each emitted window. Latency is emission time minus the due
  * time of the window's newest event (`max(gen)`).
  *
  * Drains: a fixed backlog of [[DrainEvents]] points is published up
  * front and drained by the same script under `Trigger.AvailableNow`,
  * [[Drains]] times.
  *
  * The drains run first (after one unmeasured drain), then the open loop
  * is measured for half the measuring time.
  *
  * Every emitted window, in both phases, must equal the reference count
  * and maximum computed from the generator's own event list.
  */
final class StreamWorkload(seed: Long, work: String) extends Workload {
  import StreamWorkload._

  private val keys: Array[String] = {
    val r = new java.util.Random(seed)
    Iterator.continually(f"s${r.nextInt(1000000)}%06d").distinct
      .take(Keys).toArray
  }
  private var query: StreamingQuery = _
  private var topic: String = _
  private var streamSpan = -1
  private val emitted = new ConcurrentLinkedQueue[Emitted]()
  /** Every progress report of the session's queries, in order: Spark's
    * own `recentProgress` keeps only the last 100. */
  private val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var drainEvents: Seq[Point] = Nil

  private def script(topic: String): String =
    s"""||mqtt_subscribe(.topic('$topic').stream(true)
        |  .payload_schema('ts bigint, sensor string, val double, gen bigint'))
        ||where(lambda: "val" > 0)
        ||group_by('sensor')
        ||win_time(.period(1s))
        ||aggregate(.fields('val', 'gen').functions('count', 'max').as('n', 'gen_max'))
        |""".stripMargin

  private def sink(out: ConcurrentLinkedQueue[Emitted])
      : (DataFrame, Long) => Unit = (df, _) => {
    val rows = df.select("sensor", "window_start_ms", "n", "gen_max")
      .collect()
    val now = System.currentTimeMillis()
    rows.foreach(r => out.add(Emitted(r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), now)))
  }

  /** Compile, plan and start the open-loop task on a fresh topic. */
  override def setup(spark: SparkSession, corpus: String, trace: Trace,
      res: Result): Unit = {
    topic = s"bench/sensors/${System.nanoTime()}"
    emitted.clear()
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        reports.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val compiled = trace.span("dfs", "compile")(DfsEngine.compile(script(topic)))
    val sdf = trace.span("dfs", "plan") {
      DfsEngine.run(compiled, spark, corpus).values.head
    }
    streamSpan = trace.open("streaming", "stream", trace.current,
      System.nanoTime())
    query = trace.within(streamSpan) {
      sdf.writeStream.foreachBatch(sink(emitted))
        .option("checkpointLocation", s"$work/ckpt/${System.nanoTime()}")
        .start()
    }
  }

  override def teardown(spark: SparkSession): Unit = {
    if (query != null) query.stop()
    query = null
    spark.stop()
  }

  override def measure(spark: SparkSession, corpus: String, seconds: Double,
      trace: Trace, res: Result, work: String): Unit = {
    drainEvents = drainInput(new java.util.Random(seed ^ 0xd4a1))
    trace.span("bench", "drain warm-up")(drain(spark, corpus, res, trace))
    val drains = (1 to Drains).flatMap(i =>
      trace.span("bench", s"drain $i")(drain(spark, corpus, res, trace)))
    res.attempted += Drains + 1
    res.info("drains_s") = drains.map(Json.num).mkString("[", ", ", "]")
    if (drains.nonEmpty) {
      res.metric("drain_eps", Stats.median(drains.map(DrainEvents / _)), "1/s")
      res.metric("query_p50_s", Stats.quantile(drains, 0.5), "s")
      res.metric("query_p90_s", Stats.quantile(drains, 0.9), "s")
    }

    val rng = new java.util.Random(seed ^ 0x5eed)
    val startWall = System.currentTimeMillis() + 200
    val measuredFrom = startWall + (WarmS * 1000).toLong
    val openS = seconds / 2
    val measuredTo = measuredFrom + (openS * 1000).toLong
    val total = ((WarmS + openS + TailS) * Rate).toInt
    val gen = new Generator(topic, keys, rng, startWall, total)
    val sampler = new BacklogSampler(topic)
    gen.start(); sampler.start()
    gen.join()
    sampler.halt()

    // wait until every window inside the measured interval is emitted
    val lastClosed = measuredTo - 1000
    val waitUntil = System.currentTimeMillis() + 20000
    while (!emitted.asScala.exists(_.start >= lastClosed) &&
        System.currentTimeMillis() < waitUntil) Thread.sleep(20)
    val id = query.id
    query.stop()
    query = null
    org.apache.spark.graftbench.Bus.waitUntilEmpty(spark.sparkContext)
    val progress = reports.asScala.filter(_.id == id).toSeq
    trace.close(streamSpan, System.nanoTime())

    val ref = reference(gen.events.toSeq)
    val out = emitted.asScala.toSeq
    check("open loop", out, ref, lastClosed, res)
    val measured = out.filter(w => w.start >= measuredFrom &&
      w.start + 1000 <= measuredTo)
    res.attempted += measured.size
    val lat = measured.map(w => (w.emitMs - w.genMax).toDouble)
    val batches = progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= measuredFrom && t < measuredTo
    }

    val late = gen.lateMs.drop((WarmS * Rate).toInt)
      .take((openS * Rate).toInt)
    val backlog = sampler.samples.filter { case (t, _) =>
      t >= measuredFrom && t < measuredTo }.map(_._2.toDouble)
    val third = math.max(1, backlog.size / 3)
    val growth = Stats.mean(backlog.takeRight(third).toSeq) -
      Stats.mean(backlog.take(third).toSeq)
    val lateMax = if (late.isEmpty) 0.0 else late.max
    res.metric("bench.gen_late_ms", lateMax, "ms")
    res.metric("bench.gen_late_p99_ms", Stats.quantile(late.toSeq, 0.99), "ms")
    res.metric("bench.backlog_growth_msgs", growth, "count")
    res.metric("bench.windows", measured.size, "count")
    if (lateMax > MaxGenLateMs)
      res.error(f"generator ran $lateMax%.0f ms behind schedule " +
        s"(bound $MaxGenLateMs ms): the run is not open-loop")
    else if (growth > MaxBacklogGrowth)
      res.error(f"backlog grew by $growth%.0f messages over the run " +
        s"(bound $MaxBacklogGrowth): $Rate ev/s is not sustained")
    else if (lat.size < 10)
      res.error(s"only ${lat.size} windows closed in the measured interval")
    else {
      res.metric("latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
      res.metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
      res.metric("pass_s", Stats.median(batches.map(batchMs)) / 1e3, "s")
    }
    if (trace.enabled) {
      streamMetrics(batches, res)
      res.metric("sources.publish_us.p50", Stats.quantile(gen.publishUs.toSeq, 0.5), "us")
      res.metric("sources.publish_us.p99", Stats.quantile(gen.publishUs.toSeq, 0.99), "us")
      res.metric("sources.backlog_msgs.mean", Stats.mean(backlog.toSeq), "count")
      res.metric("sources.backlog_msgs.max",
        if (backlog.isEmpty) 0.0 else backlog.max, "count")
      batchSpans(progress, trace)
    }
  }

  /** Traced extra: the same drain in a one-core session, as the
    * single-threaded baseline. */
  override def afterMeasure(trace: Trace, res: Result): Unit =
    if (trace.enabled) {
      val spark = graft.core.Sessions.local(1, "graftbench-1core")
      trace.attach(spark.sparkContext)
      try {
        val runs = (1 to 2).flatMap(_ => trace.span("bench", "drain 1core")(
          drain(spark, work, res, trace)))
        if (runs.nonEmpty)
          res.metric("streaming.drain_eps_1core", DrainEvents / runs.last, "1/s")
      } finally spark.stop()
    }

  /** Publish the backlog to a fresh topic, drain it with AvailableNow and
    * return the wall time from planning to termination, if the output
    * matched the reference. */
  private def drain(spark: SparkSession, corpus: String, res: Result,
      trace: Trace): Option[Double] = {
    val t = s"bench/drain/${System.nanoTime()}"
    drainEvents.foreach(p => LoopbackBus.publish(t, null, payload(p), p.dueMs))
    val out = new ConcurrentLinkedQueue[Emitted]()
    val t0 = System.nanoTime()
    val q = trace.span("streaming", "drain") {
      val sdf = DfsEngine.runSingle(script(t), spark, corpus)
      val q = sdf.writeStream.foreachBatch(sink(out))
        .option("checkpointLocation", s"$work/ckpt/${System.nanoTime()}")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val s = (System.nanoTime() - t0) / 1e9
    val got = out.asScala.toSeq
    val before = res.failed
    val lastStart = drainEvents.map(_.dueMs).max / 1000 * 1000
    check("drain", got, reference(drainEvents), lastStart, res)
    if (got.isEmpty) res.error("drain emitted no window")
    if (q.exception.isDefined) res.error(s"drain failed: ${q.exception.get}")
    if (res.failed == before) Some(s) else None
  }

  private def drainInput(rng: java.util.Random): Seq[Point] = {
    val base = 1700000000000L
    (0 until DrainEvents).map(i =>
      Point(rng.nextInt(Keys), value(rng), base + i * 1000L / Rate))
  }

  private def payload(p: Point): String =
    s"""{"ts": ${p.dueMs}, "sensor": "${keys(p.key)}", "val": ${p.v}, "gen": ${p.dueMs}}"""

  /** Reference aggregation: (sensor, window start) -> (count, max gen)
    * over the points the script's filter keeps. */
  private def reference(ev: Seq[Point]): Map[(String, Long), (Long, Long)] =
    ev.filter(_.v > 0).groupBy(p => (keys(p.key), p.dueMs - p.dueMs % 1000))
      .map { case (k, ps) => k -> (ps.size.toLong, ps.map(_.dueMs).max) }

  /** Every emitted window must match the reference and be emitted once;
    * every reference window starting before `closedBefore` must have
    * been emitted. */
  private def check(phase: String, out: Seq[Emitted],
      ref: Map[(String, Long), (Long, Long)], closedBefore: Long,
      res: Result): Unit = {
    val seen = mutable.Set.empty[(String, Long)]
    var bad = 0
    for (w <- out) {
      val k = (w.sensor, w.start)
      if (!seen.add(k) || !ref.get(k).contains((w.n, w.genMax))) bad += 1
    }
    val missing = ref.keys.count(k => k._2 < closedBefore && !seen(k))
    res.attempted += 1
    if (bad > 0 || missing > 0)
      res.error(s"$phase: $bad emitted windows differ from the reference, " +
        s"$missing closed windows missing")
  }

  private def batchMs(p: StreamingQueryProgress): Double =
    p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  private def streamMetrics(ps: Seq[StreamingQueryProgress],
      res: Result): Unit = {
    def d(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).toDouble
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ps.map(p => p.stateOperators.map(f).sum)
    res.metric("streaming.batch_ms.p50", Stats.quantile(ps.map(batchMs), 0.5), "ms")
    res.metric("streaming.batch_ms.p90", Stats.quantile(ps.map(batchMs), 0.9), "ms")
    res.metric("streaming.planning_ms", Stats.mean(ps.map(d(_, "queryPlanning"))), "ms")
    res.metric("streaming.add_batch_ms", Stats.mean(ps.map(d(_, "addBatch"))), "ms")
    res.metric("streaming.commit_ms", Stats.mean(ps.map(p =>
      d(p, "walCommit") + d(p, "commitOffsets"))), "ms")
    res.metric("sources.offset_ms", Stats.mean(ps.map(p =>
      d(p, "latestOffset") + d(p, "getBatch"))), "ms")
    res.metric("streaming.batches", ps.size, "count")
    res.metric("streaming.rows_per_batch",
      Stats.mean(ps.map(_.numInputRows.toDouble)), "count")
    res.metric("streaming.state_rows", Stats.mean(st(_.numRowsTotal.toDouble)), "count")
    res.metric("streaming.state_mem_bytes",
      Stats.mean(st(_.memoryUsedBytes.toDouble)), "bytes")
    res.metric("streaming.state_commit_ms", Stats.mean(st(_.commitTimeMs.toDouble)), "ms")
    res.metric("streaming.late_rows",
      st(_.numRowsDroppedByWatermark.toDouble).sum, "count")
  }

  /** One span per micro-batch, under the stream span. */
  private def batchSpans(ps: Seq[StreamingQueryProgress], trace: Trace): Unit =
    for (p <- ps) {
      val t0 = trace.wallToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val id = trace.open("streaming", s"batch ${p.batchId}", streamSpan, t0)
      trace.close(id, t0 + (batchMs(p) * 1e6).toLong)
      trace.add(id, "rows", p.numInputRows.toDouble)
    }

  /** The open-loop generator: one thread, a fixed schedule. */
  private final class Generator(topic: String, keys: Array[String],
      rng: java.util.Random, startWall: Long, total: Int) extends Thread {
    setDaemon(true)
    val events = mutable.ArrayBuffer.empty[Point]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val publishUs = mutable.ArrayBuffer.empty[Double]

    override def run(): Unit = {
      val startNs = System.nanoTime() +
        (startWall - System.currentTimeMillis()) * 1000000L
      for (i <- 0 until total) {
        val dueNs = startNs + i * 1000000000L / Rate
        var now = System.nanoTime()
        while (now < dueNs) {
          LockSupport.parkNanos(dueNs - now)
          now = System.nanoTime()
        }
        val p = Point(rng.nextInt(keys.length), value(rng),
          startWall + i * 1000L / Rate)
        lateMs += (now - dueNs) / 1e6
        val t0 = System.nanoTime()
        LoopbackBus.publish(topic, null, payload(p), p.dueMs)
        publishUs += (System.nanoTime() - t0) / 1e3
        events += p
      }
    }
  }

  /** Samples `latest - committed` of the consumer group every 50 ms. */
  private final class BacklogSampler(topic: String) extends Thread {
    setDaemon(true)
    @volatile private var on = true
    private val q = new ConcurrentLinkedQueue[(Long, Long)]()
    def samples: Seq[(Long, Long)] = q.asScala.toVector
    override def run(): Unit = while (on) {
      q.add((System.currentTimeMillis(),
        LoopbackBus.latest(topic) - LoopbackBus.committed(topic, "default")))
      Thread.sleep(50)
    }
    def halt(): Unit = { on = false; join() }
  }
}

object StreamWorkload {
  /** Open-loop rate, events per second. */
  val Rate = 2000
  /** Distinct sensor keys. */
  val Keys = 100
  /** Seconds of generation before the measured interval (not measured)
    * and after it (so its last windows close). */
  val WarmS = 2.0
  val TailS = 1.5
  val DrainEvents = 60000
  val Drains = 3
  /** Open-loop validity bounds: a run beyond either counts as failed. */
  val MaxGenLateMs = 250.0
  val MaxBacklogGrowth = Rate / 2.0

  /** A sensor value; about one in ten is dropped by the script's filter. */
  def value(rng: java.util.Random): Double =
    math.round(rng.nextDouble() * 1100.0 - 100.0) / 10.0
}

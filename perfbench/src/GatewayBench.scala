package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.engine.{Webhook, WebhookConfig, WebhookEngine}
import graft.server.GatewayServer
import graft.streaming.StreamIngest

/** One event's life as seen from outside the gateway. Times are
  * `System.nanoTime`; `dueNs` is the open loop's schedule (0 elsewhere).
  */
final class EventRec(val input: Input, val dueNs: Long) {
  @volatile var sentNs = 0L
  @volatile var ackNs = 0L
  @volatile var status = 0
  @volatile var eventId: String = null
  /** The moment the event was handed to the gateway. */
  def startNs: Long = if (dueNs > 0) dueNs else sentNs
}

/** One dashboard call: `op` 0 is `GET /stats`, 1.. index [[GatewayBench.AdHoc]]. */
final case class DashRec(op: Int, sentNs: Long, ms: Double, status: Int,
    body: String)

/** What the dashboard should at least see: the audit counts right after
  * set-up, before any measured event.
  */
final case class Baseline(webhooks: Long, raw: Long, transformed: Long,
    success: Long, rawByPath: Map[String, Long])

/** A set-up gateway: session, engine, HTTP server, micro-batch ingest. */
final class Env(val spark: SparkSession, val engine: WebhookEngine,
    val server: GatewayServer, val stream: StreamIngest) {
  def close(): Unit = {
    server.stop()
    engine.close()
    spark.stop()
  }
}

/** The gateway benchmark. Usage:
  * {{{
  * GatewayBench --workload <http-burst|http-trickle|stream-microbatch>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *   [--inject <tamper-sink|drop-audit|perturb-oracle>]
  * }}}
  * Prints one JSON result as the last line of standard output.
  */
object GatewayBench {
  val Workloads = Seq("http-burst", "http-trickle", "stream-microbatch")
  val Injections = Seq("tamper-sink", "drop-audit", "perturb-oracle")

  /** Set-ups per run (the first cold, the rest warm); `setup_s` is their
    * median.
    */
  val SetupReps = 3
  /** Audit history written before every run, as parquet files of equal size. */
  val HistoryRows = 20000
  val HistoryFiles = 2
  /** Events per closed-loop round of http-burst (posted, then drained). */
  val BurstRound = Shapes.BlockSize
  /** Open-loop rate of http-trickle, events/s; the seed commit keeps up
    * with it without a growing backlog.
    */
  val TrickleRate = 5.0
  /** Events per micro-batch of stream-microbatch. */
  val StreamBatch = Shapes.BlockSize
  /** http-trickle's dashboard makes [[DashCalls]] calls spread evenly
    * over the measured window, beside the load, alternating `GET /stats`
    * with the ad-hoc queries below. The other workloads make
    * [[QuietReads]] such calls back to back once their load has drained,
    * so reads do not perturb their throughput. Both counts give each
    * ad-hoc query the same number of calls. 12 calls run beside about a
    * quarter of the trickle's acks, so its events stay mostly lone
    * arrivals: an ack beside a read takes 3-5 ms instead of ~1 ms.
    */
  val DashCalls = 12
  val QuietReads = 18
  val ApiKey = "perfbench-key"
  /** The console's example query and the README's ad-hoc examples. */
  val AdHoc = Seq(
    "SELECT COUNT(*) AS n FROM transformed_events",
    "SELECT COUNT(*) FROM transformed_events WHERE success",
    "SELECT source_path, COUNT(*) AS n FROM raw_events " +
      "GROUP BY source_path ORDER BY source_path")
  val Filtered = "Filtered out by filter_query"

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String, inject: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing $k"))
    val o = Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", need("--work"),
      need("--out"), kv.get("--inject"))
    if (!Workloads.contains(o.workload)) usage(s"unknown workload ${o.workload}")
    o.inject.foreach(i => if (!Injections.contains(i)) usage(s"unknown injection $i"))
    val line = new Bench(o).run()
    println(line)
    System.out.flush()
    sys.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  // ---- shared set-up pieces ----

  /** The sink path each webhook delivers to; `slow` gets the delayed one. */
  def destPath(shape: String): String =
    if (shape == "slow") s"/slow/$shape" else s"/fast/$shape"

  def destination(sink: Sink, shape: String): String = sink.base + destPath(shape)

  /** Registers the five webhooks through the engine's public API: the
    * join's reference table is uploaded and the UDF compiled from source
    * for the webhook they belong to, then the transform naming them is
    * registered.
    */
  def registerMix(engine: WebhookEngine, sink: Sink,
      variant: Int): Map[String, Webhook] =
    Shapes.Names.map { shape =>
      def reg(transform: String) = engine.register(WebhookConfig(
        Shapes.path(shape), destination(sink, shape), transform,
        Shapes.filterFor(shape))).fold(e => sys.error(e), identity)
      val first = reg(Shapes.transformFor(shape, "", ""))
      val hook = shape match {
        case "join" =>
          val m = engine.refTables.uploadCsv(first.id, "products",
            "benchmark products", Shapes.RefCsv)
          reg(Shapes.transformFor(shape, m.qualifiedName, ""))
        case "udf" =>
          val m = engine.udfs.register(first.id, Shapes.UdfName,
            Shapes.udfSource(variant)).fold(e => sys.error(e), identity)
          reg(Shapes.transformFor(shape, "", m.qualifiedName))
        case _ => first
      }
      shape -> hook
    }.toMap

  /** Writes the audit history through the batch appenders, dated a day
    * back: every tenth transformed row is a failure.
    */
  def seedHistory(engine: WebhookEngine, hooks: Map[String, Webhook],
      sink: Sink): Unit = {
    val spark = engine.spark
    val shapes = Shapes.Names
    val idx = (col("n") % shapes.size + 1).cast("int")
    def pick(values: Seq[String]) = element_at(array(values.map(lit): _*), idx)
    val ts = engine.audit.nowMicros() - 86400L * 1000000L
    val per = HistoryRows / HistoryFiles
    (0 until HistoryFiles).foreach { f =>
      val base = spark.range(f.toLong * per, (f + 1).toLong * per).toDF("n")
        .select(col("n"), concat(lit("hist-"), col("n")).as("id"),
          pick(shapes.map(Shapes.path)).as("source_path"),
          to_json(struct(col("n").as("id"), (col("n") % 100).as("amount")))
            .as("payload"))
        .coalesce(1)
      engine.audit.logRawBatch(base, ts)
      engine.audit.logTransformedBatch(base.select(
        concat(lit("hist-tr-"), col("n")).as("id"),
        col("id").as("raw_event_id"),
        pick(shapes.map(hooks(_).id)).as("webhook_id"),
        col("payload").as("transformed_payload"),
        pick(shapes.map(destination(sink, _))).as("destination_url"),
        (col("n") % 10 =!= 0).as("success"),
        lit(200).as("response_code"), lit("ok").as("response_body")), ts)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def ms(ns: Long): Double = ns / 1e6
}

/** One run of one workload. */
final class Bench(o: GatewayBench.Opts) {
  import GatewayBench._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val eventConns = math.max(1, cpus - 1)
  private val sink = new Sink(slowDelayMs = Shapes.SlowDelayMs)
  private val http = o.workload != "stream-microbatch"

  def run(): String = {
    o.inject.foreach(i => if (i == "tamper-sink") sink.tamperEvery = 10)
    val setups = mutable.ArrayBuffer[Double]()
    var env: Env = null
    (1 to SetupReps).foreach { rep =>
      if (env != null) env.close()
      val t0 = System.nanoTime()
      env = setUp(rep)
      setups += (System.nanoTime() - t0) / 1e9
      phase(s"set-up $rep")
    }
    warmRound(env)
    // the first reads of a run otherwise take a third longer than the later ones
    val warmReads = new Client("127.0.0.1", env.server.boundPort)
    try (0 until 2 * AdHoc.size).foreach(k => dashCall(warmReads, k))
    finally warmReads.close()
    phase("warm round")
    sink.receipts.clear()
    val base = baseline(env.engine)

    val gc0 = gcMs()
    val dashClient = new Client("127.0.0.1", env.server.boundPort)
    val dash = mutable.ArrayBuffer[DashRec]()
    val t0 = System.nanoTime()
    val dashThread = Option.when(o.workload == "http-trickle")(new Thread(
      () => dashboard(dashClient, t0, dash), "perfbench-dashboard"))
    dashThread.foreach(_.start())
    val (recs, wallNs) = o.workload match {
      case "http-burst" => burst(env, t0)
      case "http-trickle" => trickle(env, t0)
      case "stream-microbatch" => stream(env, t0)
    }
    dashThread.foreach(_.join())
    val gcRun = gcMs() - gc0
    if (dashThread.isEmpty) (0 until QuietReads).foreach(k => dash += dashCall(dashClient, k))
    dashClient.close()
    // Spark's context cleaner frees broadcasts and shuffles only after a GC
    // has cleared their last reference; collect again once it has run
    val heapMb = (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    phase("measured window")
    val receipts = sink.received
    val check = new Checker(env.engine, recs, receipts, dash.toSeq, base, http, o.inject)
    val (failed, stray) = check.run()

    phase("checks")
    val byKey = receipts.groupBy(_.key)
    val acks = recs.map(r => ms(r.ackNs - r.startNs))
    val delivers = recs.flatMap(r => Option(r.eventId).flatMap(byKey.get)
      .flatMap(_.headOption).map(rc => ms(rc.nanos - r.startNs)))
    val stats = dash.collect { case d if d.op == 0 => d.ms }.toSeq
    val adhoc = dash.collect { case d if d.op > 0 => d.ms }.toSeq
    System.err.println(f"perfbench: ${o.workload} seed=${o.seed} events=${recs.size} " +
      f"dash=${dash.size} failed=$failed stray=$stray wall=${wallNs / 1e9}%.2fs " +
      s"setups=${setups.map(x => f"$x%.3f").mkString(",")}")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("events_per_s", recs.size / (wallNs / 1e9), "events/s"),
        ("deliver_p50_ms", median(delivers), "ms"),
        ("deliver_p90_ms", pct(delivers, 0.9), "ms"),
        ("stats_p50_ms", median(stats), "ms"),
        ("adhoc_p50_ms", median(adhoc), "ms"),
        ("retained_heap_mb", heapMb, "MB"))
      else {
        val spans = new Spans
        recs.foreach { r =>
          spans.add(Span(String.valueOf(r.eventId), "ack", "", r.startNs, r.ackNs))
          Option(r.eventId).flatMap(byKey.get).foreach(_.foreach(rc =>
            spans.add(Span(r.eventId, "deliver", "ack", r.startNs, rc.nanos))))
        }
        val probe = new LayerProbe(env, sink, s"${o.work}/probe", o.seed, spans)
        val layers = probe.run() ++ Seq(
          ("server.ack_p50_ms", median(acks), "ms"),
          ("server.ack_p95_ms", pct(acks, 0.95), "ms"),
          ("ingest.backlog_peak", check.backlogPeak.toDouble, "count"),
          ("gen.late_p99_ms", pct(recs.filter(_.dueNs > 0)
            .map(r => ms(r.sentNs - r.dueNs)), 0.99) match {
              case x if x.isNaN => 0.0
              case x => x
            }, "ms"),
          ("jvm.gc_ms", gcRun.toDouble, "ms"))
        spans.write(new java.io.File(s"${o.out}/spans-${o.workload}-${o.seed}.jsonl"))
        layers
      }
    env.close()
    sink.close()
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = failed == 0 && stray == 0 && metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    s"""{"correct": $correct, "attempted": ${recs.size + dash.size}, """ +
      s""""failed": $failed, "metrics": {$body}}"""
  }

  private val born = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%.1fs $name done")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  // ---- set-up ----

  private def setUp(rep: Int): Env = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.local(cpus.toString)
    val engine = new WebhookEngine(spark, s"${o.work}/rep$rep")
    val hooks = registerMix(engine, sink, rep)
    seedHistory(engine, hooks, sink)
    val server = new GatewayServer(engine, port = 0, apiKey = ApiKey).start()
    val stream = new StreamIngest(engine)
    val warm = new Gen(seed = 7L, novel = false, prefix = 9)
    val inputs = Shapes.Names.flatMap(s =>
      Seq.fill(if (s == "agg") 3 else 1)(warm.nextOf(s)))
    if (http) {
      val c = new Client("127.0.0.1", server.boundPort)
      try inputs.foreach(i => c.call("POST", Shapes.path(i.shape), i.payload))
      finally c.close()
      engine.drain()
    } else stream.processMicroBatch(batchDf(spark, inputs), s"warm|$rep")
    new Env(spark, engine, server, stream)
  }

  private def baseline(engine: WebhookEngine): Baseline = {
    def one(q: String): Long =
      engine.adHocQuery(q).fold(e => sys.error(e), _.head.head.toString.toLong)
    val byPath = engine.adHocQuery(AdHoc(2)).fold(e => sys.error(e), identity)
      .map(r => r(0).toString -> r(1).toString.toLong).toMap
    val s = engine.stats()
    Baseline(s.webhookCount, s.rawEventCount, s.transformedEventCount,
      one(AdHoc(1)), byPath)
  }

  private def batchDf(spark: SparkSession, inputs: Seq[Input]): DataFrame = {
    import spark.implicits._
    inputs.map(i => (Shapes.path(i.shape), i.payload)).toDF("source_path", "payload")
  }

  // ---- load ----

  private def post(c: Client, r: EventRec): Unit = {
    r.sentNs = System.nanoTime()
    val (status, body) =
      try c.call("POST", Shapes.path(r.input.shape), r.input.payload,
        Seq("Content-Type" -> "application/json"))
      catch { case _: Throwable => (0, "") }
    r.ackNs = System.nanoTime()
    r.status = status
    if (status == 200) {
      val n = Shapes.mapper.readTree(body)
      if (n.path("status").asText == "accepted") r.eventId = n.path("event_id").asText
    }
  }

  private def sleepUntil(ns: Long): Unit = {
    val d = ns - System.nanoTime()
    if (d > 0) Thread.sleep(d / 1000000, (d % 1000000).toInt)
  }

  /** Sleeps until 2 ms before `ns`, then spins: a thread woken from sleep
    * on a busy host can run a millisecond or more late, and an ack timed
    * from its due time would carry that lateness.
    */
  private def awaitDue(ns: Long): Unit = {
    sleepUntil(ns - 2000000L)
    while (System.nanoTime() < ns) Thread.onSpinWait()
  }

  private def workers(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until n).map(i => new Thread(() => body(i), s"perfbench-load-$i"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  private def eventClients(env: Env): Seq[Client] =
    (0 until eventConns).map(_ => new Client("127.0.0.1", env.server.boundPort))

  /** Posts one round over the event connections, each connection sending
    * its next event once the previous one is acked, then waits for
    * `drain()`. Returns the round's wall time.
    */
  private def postRound(env: Env, clients: Seq[Client],
      recs: IndexedSeq[EventRec]): Long = {
    val next = new AtomicInteger(0)
    val start = System.nanoTime()
    workers(clients.size) { c =>
      var i = next.getAndIncrement()
      while (i < recs.size) { post(clients(c), recs(i)); i = next.getAndIncrement() }
    }
    env.engine.drain()
    System.nanoTime() - start
  }

  /** One untimed round of the workload's own path after set-up: the first
    * measured round otherwise runs a third slower while the JIT is still
    * compiling the per-event and micro-batch code.
    */
  private def warmRound(env: Env): Unit = {
    val gen = new Gen(seed = 8L, prefix = 8)
    if (http) {
      val clients = eventClients(env)
      try postRound(env, clients,
        (0 until BurstRound).map(_ => new EventRec(gen.next(), 0L)))
      finally clients.foreach(_.close())
    } else env.stream.processMicroBatch(
      batchDf(env.spark, Seq.fill(StreamBatch)(gen.next())), "warm-round")
  }

  /** Closed loop: rounds of [[BurstRound]] events (see [[postRound]]);
    * only whole rounds run.
    */
  private def burst(env: Env, t0: Long): (Seq[EventRec], Long) = {
    val gen = new Gen(o.seed)
    val clients = eventClients(env)
    val all = mutable.ArrayBuffer[EventRec]()
    var wall = 0L
    val end = t0 + o.seconds * 1000000000L
    while (System.nanoTime() < end) {
      val recs = (0 until BurstRound).map(_ => new EventRec(gen.next(), 0L))
      val took = postRound(env, clients, recs)
      System.err.println(f"perfbench: round ${all.size / BurstRound} ${took / 1e9}%.3fs")
      wall += took
      all ++= recs
    }
    clients.foreach(_.close())
    (all.toSeq, wall)
  }

  /** Open loop: [[TrickleRate]] × seconds events at fixed due times,
    * sent over the event connections; each is timed from its due time.
    */
  private def trickle(env: Env, t0: Long): (Seq[EventRec], Long) = {
    val gen = new Gen(o.seed)
    val period = (1e9 / TrickleRate).toLong
    val start = t0 + period
    val recs = (0 until (TrickleRate * o.seconds).round.toInt)
      .map(i => new EventRec(gen.next(), start + i * period))
    val next = new AtomicInteger(0)
    workers(eventConns) { _ =>
      val c = new Client("127.0.0.1", env.server.boundPort)
      try {
        var i = next.getAndIncrement()
        while (i < recs.size) {
          awaitDue(recs(i).dueNs)
          post(c, recs(i))
          i = next.getAndIncrement()
        }
      } finally c.close()
    }
    env.engine.drain()
    (recs, System.nanoTime() - start)
  }

  /** Micro-batches of [[StreamBatch]] events handed straight to
    * `StreamIngest.processMicroBatch`; whole batches only. An event's ack
    * is the return of the call that carried it.
    */
  private def stream(env: Env, t0: Long): (Seq[EventRec], Long) = {
    val gen = new Gen(o.seed)
    val all = mutable.ArrayBuffer[EventRec]()
    var wall = 0L
    var b = 0
    val end = t0 + o.seconds * 1000000000L
    while (System.nanoTime() < end) {
      val recs = (0 until StreamBatch).map(_ => new EventRec(gen.next(), 0L))
      val df = batchDf(env.spark, recs.map(_.input))
      val start = System.nanoTime()
      env.stream.processMicroBatch(df, s"perfbench|${o.seed}|$b")
      val done = System.nanoTime()
      recs.foreach { r => r.sentNs = start; r.ackNs = done; r.status = 200 }
      System.err.println(f"perfbench: batch $b ${(done - start) / 1e9}%.3fs")
      wall += done - start
      all ++= recs
      b += 1
    }
    (all.toSeq, wall)
  }

  /** The k-th dashboard call: even k `GET /stats`, odd k the ad-hoc
    * queries in turn.
    */
  private def dashCall(c: Client, k: Int): DashRec = {
    val op = if (k % 2 == 0) 0 else 1 + (k / 2) % AdHoc.size
    val sent = System.nanoTime()
    val auth = Seq("X-API-Key" -> ApiKey)
    val (status, body) =
      try {
        if (op == 0) c.call("GET", "/stats", "", auth)
        else c.call("POST", "/query",
          "query=" + java.net.URLEncoder.encode(AdHoc(op - 1), "UTF-8"),
          auth :+ ("Content-Type" -> "application/x-www-form-urlencoded"))
      } catch { case _: Throwable => (0, "") }
    DashRec(op, sent, ms(System.nanoTime() - sent), status, body)
  }

  /** http-trickle's dashboard: [[DashCalls]] calls at fixed times spread
    * evenly over the measured window, beside the load.
    */
  private def dashboard(c: Client, t0: Long, out: mutable.ArrayBuffer[DashRec]): Unit =
    (0 until DashCalls).foreach { k =>
      sleepUntil(t0 + ((k + 0.5) * o.seconds * 1e9 / DashCalls).toLong)
      val d = dashCall(c, k)
      out.synchronized(out += d)
    }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.engine.{AuditLog, Delivery, Json, WebhookEngine}
import graft.server.GatewayServer
import graft.streaming.StreamIngest

/** The traced run's per-layer measurements, all timed from the
  * benchmark's side of each layer's public functions.
  *
  * The per-event and micro-batch decompositions replay a seeded sample on
  * their own engine and work directory, so they cannot disturb the
  * workload's audited outputs. The read side is measured on the workload's
  * engine after its run, over the seeded history plus the run's events.
  */
final class LayerProbe(env: Env, sink: Sink, dir: String, seed: Long,
    spans: Spans) {
  import GatewayBench.{median, ms}

  /** Events replayed per shape. */
  private val Sample = 5
  private val spark = env.spark
  private val sc = spark.sparkContext
  private val out = mutable.ArrayBuffer[(String, Double, String)]()
  private def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))
  private def msOf(name: String) = median(spans.ms(name))
  private def usOf(name: String) = msOf(name) * 1000

  def run(): Seq[(String, Double, String)] = {
    val engine = new WebhookEngine(spark, s"$dir/engine")
    val hooks = GatewayBench.registerMix(engine, sink, variant = 0)
    val server = new GatewayServer(engine, port = 0, apiKey = GatewayBench.ApiKey).start()
    val acc = new JobAccounting(sc)
    try {
      roundTrips(server)
      val gen = new Gen(seed + 1, novel = false, prefix = 7)
      val sample = Shapes.Names.flatMap(s => (0 to Sample).map(_ => gen.nextOf(s)))
      // the first event of each shape warms the replay engine, untimed
      val (warm, timed) = sample.partition(_.seq % (Sample + 1) == 1)
      warm.foreach(i => engine.process(hooks(i.shape), s"warm-${i.seq}", i.payload))

      sc.addSparkListener(acc)
      val (plain, works) = timed.zipWithIndex.map { case (i, k) =>
        val (p, w) = replay(engine, hooks(i.shape), i, acc, plainFirst = k % 2 == 0)
        (p, i.shape -> w)
      }.unzip
      sc.removeSparkListener(acc)
      val traced = timed.map(i => spans.all.find(s =>
        s.trace == s"replay-${i.seq}" && s.name == s"process.${i.shape}").get)
      put("trace.overhead_pct",
        (traced.map(s => s.endNs - s.startNs).sum.toDouble / plain.sum - 1) * 100, "%")
      val parts = spans.all.filter(s => s.trace.startsWith("replay-") &&
        s.parent == "replay").map(_.ms).sum
      put("replay.parts_over_process", parts / traced.map(_.ms).sum, "ratio")

      Shapes.Names.foreach { s =>
        put(s"process.${s}_ms", msOf(s"process.$s"), "ms")
        put(s"transformer.transform.${s}_ms", msOf(s"transformer.transform.$s"), "ms")
        val w = works.filter(_._1 == s).map(_._2)
        put(s"spark.jobs_per_event.$s", w.map(_.jobs).sum.toDouble / w.size, "count")
        put(s"spark.tasks_per_event.$s", w.map(_.tasks).sum.toDouble / w.size, "count")
        put(s"spark.task_ms_per_event.$s", w.map(_.taskMs).sum.toDouble / w.size, "ms")
      }
      put("catalog.by_path_us", usOf("catalog.by_path"), "us")
      put("ingest.json_valid_us", usOf("ingest.json_valid"), "us")
      put("audit.log_raw_us", usOf("audit.log_raw"), "us")
      put("udfs.load_us", usOf("udfs.load"), "us")
      put("transformer.payload_df_hit_ms", msOf("transformer.payload_df_hit"), "ms")
      put("transformer.payload_df_miss_ms", msOf("transformer.payload_df_miss"), "ms")
      put("transformer.filter_ms", msOf("transformer.filter"), "ms")
      put("delivery.deliver_ms", msOf("delivery.deliver"), "ms")
      put("delivery.slow_ms", msOf("delivery.slow"), "ms")
      put("audit.log_transformed_us", usOf("audit.log_transformed"), "us")

      ingestCalls(engine, server, timed)
      driverBatch(engine)
      flush()
      microBatch(engine, acc)
      readSide(acc)
    } finally {
      server.stop()
      engine.close()
    }
    out.toSeq
  }

  /** `GET /` on a warm keep-alive connection, and the sink's own round
    * trip over the same kind of connection.
    */
  private def roundTrips(server: GatewayServer): Unit = {
    def rtt(c: Client, call: Client => Unit): Double = {
      (1 to 5).foreach(_ => call(c))
      median((1 to 30).map { _ =>
        val t0 = System.nanoTime(); call(c); ms(System.nanoTime() - t0)
      })
    }
    val g = new Client("127.0.0.1", server.boundPort)
    try put("server.floor_ms", rtt(g, _.call("GET", "/")), "ms") finally g.close()
    // the same request on a new connection each time, as Connection: close
    put("server.close_ms", median((1 to 30).map { _ =>
      val t0 = System.nanoTime()
      val c = new Client("127.0.0.1", server.boundPort)
      try c.call("GET", "/", "", Seq("Connection" -> "close")) finally c.close()
      ms(System.nanoTime() - t0)
    }), "ms")
    val uri = new java.net.URI(sink.base)
    val s = new Client(uri.getHost, uri.getPort)
    try put("sink.rtt_ms", rtt(s, _.call("POST", "/fast/probe", "{}")), "ms")
    finally s.close()
  }

  /** The per-event path one layer call at a time, then the whole
    * `process` call beside it, once traced under its own job group and
    * once untraced (first or second in turn), as the baseline of the
    * tracing overhead. Returns the untraced nanoseconds and the traced
    * call's Spark work.
    */
  private def replay(engine: WebhookEngine, hook: graft.engine.Webhook,
      in: Input, acc: JobAccounting, plainFirst: Boolean): (Long, SparkWork) = {
    val tr = s"replay-${in.seq}"
    def t[T](name: String)(f: => T): T = spans.time(tr, name, "replay")(f)
    val path = Shapes.path(in.shape)
    val w = t("catalog.by_path")(engine.catalog.byPath(path)).get
    t("ingest.json_valid")(Json.isValid(in.payload))
    val raw = t("audit.log_raw")(engine.audit.logRaw(path, in.payload))
    t("udfs.load")(engine.udfs.loadWebhookUdfs(w.id))
    val keep = w.filterQuery.forall(f =>
      t("transformer.filter")(engine.transformer.applyFilter(w.id, f, in.payload)))
    if (keep) {
      val out = t(s"transformer.transform.${in.shape}")(
        engine.transformer.transform(w.id, w.transformQuery, in.payload))
      val d = t(if (in.shape == "slow") "delivery.slow" else "delivery.deliver")(
        Delivery.deliver(w.destinationUrl, out, raw.id))
      t("audit.log_transformed")(engine.audit.logTransformed(raw.id, w.id, out,
        w.destinationUrl, d.success, d.code, d.body))
    } else t("audit.log_transformed")(engine.audit.logTransformed(raw.id, w.id,
      "{}", w.destinationUrl, success = false, None, GatewayBench.Filtered))
    // payload relation with the shape cached, and with a key never seen
    spans.time(tr, "transformer.payload_df_hit")(
      engine.transformer.payloadToDf(w.id, in.payload))
    val novel = Shapes.mapper.readTree(in.payload) match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.put(s"probe_${in.seq}", 1); o.toString
      case a => a.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put(s"probe_${in.seq}", 1); a.toString
    }
    spans.time(tr, "transformer.payload_df_miss")(
      engine.transformer.payloadToDf(w.id, novel))
    def plain(): Long = {
      val t0 = System.nanoTime()
      engine.process(hook, raw.id + "-plain", in.payload)
      System.nanoTime() - t0
    }
    val before = if (plainFirst) plain() else 0L
    val work = acc.inGroup(tr)(spans.time(tr, s"process.${in.shape}")(
      engine.process(hook, raw.id + "-whole", in.payload)))._2
    (if (plainFirst) before else plain(), work)
  }

  /** `engine.ingest` called directly, and the same payloads acked over
    * HTTP: the server's share of an ack is the difference of the medians.
    */
  private def ingestCalls(engine: WebhookEngine, server: GatewayServer,
      sample: Seq[Input]): Unit = {
    sample.foreach(i => spans.time(s"ingest-${i.seq}", "ingest.call")(
      engine.ingest(Shapes.path(i.shape), i.payload)))
    engine.drain()
    val c = new Client("127.0.0.1", server.boundPort)
    try sample.foreach(i => spans.time(s"ack-${i.seq}", "server.ack")(
      c.call("POST", Shapes.path(i.shape), i.payload)))
    finally c.close()
    engine.drain()
    put("ingest.call_us", usOf("ingest.call"), "us")
    put("server.overhead_ms", msOf("server.ack") - msOf("ingest.call"), "ms")
  }

  /** `processBatch`, the driver-side set-oriented path, over 1,000
    * events of the row-wise `proj` webhook.
    */
  private def driverBatch(engine: WebhookEngine): Unit = {
    val hook = engine.catalog.byPath(Shapes.path("proj")).get
    val gen = new Gen(seed + 3, prefix = 5)
    val events = (1 to 1000).map { _ =>
      val i = gen.nextOf("proj")
      graft.engine.RawEvent(s"batch-${i.seq}", 0L, hook.sourcePath, i.payload)
    }
    val t0 = System.nanoTime()
    engine.processBatch(hook, events)
    put("batch.process_eps", events.size / ((System.nanoTime() - t0) / 1e9), "events/s")
  }

  /** One `logRaw` that fills the buffer to its flush threshold, so the
    * parquet flush runs inside it, as it does on the ack path.
    */
  private def flush(): Unit = {
    val a = new AuditLog(spark, s"$dir/flush")
    (1 until 5000).foreach(i => a.logRaw("/flush", s"""{"i":$i}"""))
    spans.time("flush", "audit.flush")(a.logRaw("/flush", """{"i":0}"""))
    put("audit.flush_ms", msOf("audit.flush"), "ms")
  }

  /** A whole `processMicroBatch` under one job group, then its steps on
    * the `proj` webhook's slice of a second batch.
    *
    * The timed batch runs on a `StreamIngest` made inside the job group:
    * its webhook groups run on the instance's pool threads, and a thread
    * takes the caller's job group only when it is created, so threads left
    * by the warm batch would run their jobs outside the group.
    */
  private def microBatch(engine: WebhookEngine, acc: JobAccounting): Unit = {
    import spark.implicits._
    val gen = new Gen(seed + 2, prefix = 6)
    def batch() = (0 until GatewayBench.StreamBatch).map(_ => gen.next())
    def df(in: Seq[Input]) =
      in.map(i => (Shapes.path(i.shape), i.payload)).toDF("source_path", "payload")
    new StreamIngest(engine).processMicroBatch(df(batch()), "probe-warm")
    val timed = df(batch())
    sc.addSparkListener(acc)
    val (rows, w) = acc.inGroup("stream-batch") {
      val si = new StreamIngest(engine)
      spans.time("stream", "stream.batch")(si.processMicroBatch(timed, "probe-timed"))
      si.driverCollectedEvents.get
    }
    sc.removeSparkListener(acc)
    put("stream.batch_ms", msOf("stream.batch"), "ms")
    put("stream.jobs_per_batch", w.jobs.toDouble, "count")
    put("stream.shuffle_mb", w.shuffleBytes / 1e6, "MB")
    put("stream.spill_mb", w.spillBytes / 1e6, "MB")
    put("stream.task_gc_ms", w.gcMs.toDouble, "ms")
    put("stream.driver_rows", rows.toDouble, "count")

    val hook = engine.catalog.byPath(Shapes.path("proj")).get
    val slice = (0 until GatewayBench.StreamBatch).map(_ => gen.nextOf("proj"))
      .map(i => (s"probe-${i.seq}", i.payload)).toDF("__eid", "__json")
    def t[T](name: String)(f: => T): T = spans.time("stream", name)(f)
    val schema = t("stream.infer_schema")(engine.transformer.inferBatchSchema(slice))
    t("stream.filter")(engine.transformer.batchFilterPlan(slice,
      hook.filterQuery.get, Some(schema)).collect())
    t("stream.transform")(engine.transformer.batchTransformPlan(slice,
      hook.transformQuery, Some(schema)).get.collect())
    val ts = engine.audit.nowMicros()
    t("audit.raw_batch")(engine.audit.logRawBatch(slice.select(col("__eid").as("id"),
      lit(hook.sourcePath).as("source_path"), col("__json").as("payload")), ts))
    t("audit.tr_batch")(engine.audit.logTransformedBatch(slice.select(
      concat(lit("tr-"), col("__eid")).as("id"), col("__eid").as("raw_event_id"),
      lit(hook.id).as("webhook_id"), col("__json").as("transformed_payload"),
      lit(hook.destinationUrl).as("destination_url"), lit(true).as("success"),
      lit(200).as("response_code"), lit("ok").as("response_body")), ts))
    // rewrite every partition holding more than one file
    t("audit.compact")(engine.audit.compact(maxFilesPerPartition = 1))
    Seq("infer_schema", "filter", "transform").foreach(s =>
      put(s"stream.${s}_ms", msOf(s"stream.$s"), "ms"))
    Seq("raw_batch", "tr_batch", "compact").foreach(s =>
      put(s"audit.${s}_ms", msOf(s"audit.$s"), "ms"))
  }

  /** `/stats` and ad-hoc reads on the workload's engine. */
  private def readSide(acc: JobAccounting): Unit = {
    val engine = env.engine
    val q = GatewayBench.AdHoc.head
    sc.addSparkListener(acc)
    val (st, sw) = acc.inGroup("read-stats")(spans.time("read", "read.stats")(engine.stats()))
    val (_, aw) = acc.inGroup("read-adhoc")(engine.adHocQuery(q))
    sc.removeSparkListener(acc)
    (1 to 20).foreach(_ => spans.time("read", "read.validate")(engine.validateAdHoc(q)))
    (1 to 3).foreach(_ => spans.time("read", "read.refresh_views")(engine.refreshSqlViews()))
    put("read.stats_ms", msOf("read.stats"), "ms")
    put("read.stats_jobs", sw.jobs.toDouble, "count")
    put("read.validate_us", usOf("read.validate"), "us")
    put("read.refresh_views_ms", msOf("read.refresh_views"), "ms")
    put("read.adhoc_jobs", aw.jobs.toDouble, "count")
    val files = Seq("raw_events", "transformed_events").map { t =>
      val root = java.nio.file.Paths.get(engine.workDir, t)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val st = java.nio.file.Files.walk(root)
        try st.filter(_.toString.endsWith(".parquet")).count() finally st.close()
      }
    }.sum
    put("audit.files", files.toDouble, "count")
    put("audit.rows", (st.rawEventCount + st.transformedEventCount).toDouble, "count")
  }
}

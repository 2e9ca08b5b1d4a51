package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Engine
import graft.functions.JwtVerify
import graft.operators.TenantContext
import graft.streaming.{HttpIngest, StreamingIngest}
import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Live ingest: an open-loop generator process POSTs the request plan to
  * `HttpIngest`; `StreamingIngest` tails the spool into the lake on a short
  * processing-time trigger; one closed-loop reader queries the live table
  * through `Engine.query`, round-robin over the tenants, and records when
  * each record first becomes visible. */
object LivePhase {
  import Main.{list, obj}

  val table = "live_events"

  def run(spark: SparkSession, cfg: JsonNode, d: String, cpus: Int,
          python: String, loadgen: String): java.util.Map[String, Any] = {
    val setupStart = System.nanoTime()
    val jwks = Main.readJson(s"$d/jwks.json")
    val keys = Map(jwks.get("kid").asText ->
      JwtVerify.rsaKeyFromJwk(jwks.get("n").asText, jwks.get("e").asText))
    val tenants = Main.readJson(s"$d/tokens.json").get("tenants").elements().asScala
      .map(_.asText).toVector
    val rate = cfg.get("rate").asDouble
    val warmS = cfg.get("warm_s").asDouble
    val preRollS = cfg.get("pre_roll_s").asDouble
    val windowS = cfg.get("seconds").asDouble

    val server = Trace.span("http_ingest.start") { HttpIngest.start(s"$d/spool", keys) }
    val query = Trace.span("streaming_ingest.start") {
      StreamingIngest.fromJsonDir(spark, s"$d/spool", "tenant_key", s"$d/lake",
        s"$d/ckpt", Trigger.ProcessingTime(cfg.get("trigger_ms").asLong),
        table = Some(table))
    }
    val engine = Engine(spark, s"$d/lake", table)

    // ---- closed-loop reader ----
    val firstSeen = new ConcurrentHashMap[String, java.lang.Long]()
    val reads = mutable.ArrayBuffer[(Long, Long, String)]()
    val readFailures = new AtomicLong
    val foreignRows = new AtomicLong
    // traced runs: (start, files, partitions, rows scanned, rows returned) per read
    val scans = mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    @volatile var stop = false
    val reader = new Thread(() => {
      var i = 0
      while (!stop) {
        if (!spark.catalog.tableExists(table)) Thread.sleep(20)
        else {
          val t = tenants(i % tenants.size)
          i += 1
          val s = System.nanoTime()
          try {
            val rows = Trace.span("engine.query") {
              if (!Trace.on) engine.query(TenantContext(t)).select("device").collect()
              else {
                val df = Trace.span("tenant_queries.sql") {
                  engine.query(TenantContext(t)).select("device")
                }
                Trace.span("tenant_queries.plan") { df.queryExecution.executedPlan }
                val rows = Trace.span("tenant_queries.exec") { df.collect() }
                val (files, parts, scanned) = BackfillPhase.scanStats(df)
                scans.synchronized { scans += ((s, files, parts, scanned, rows.length.toLong)) }
                rows
              }
            }
            val e = System.nanoTime()
            rows.foreach { r =>
              val dev = r.getString(0)
              if (!dev.startsWith(t + "-")) foreignRows.incrementAndGet()
              firstSeen.putIfAbsent(dev, e)
            }
            reads.synchronized { reads += ((s, e, t)) }
          } catch {
            case ex: Exception =>
              readFailures.incrementAndGet()
              System.err.println(s"[perfbench] live read failed: ${ex.getMessage}")
          }
        }
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()

    // ---- open-loop generator: request i of a slice is due at t0 + i / rate ----
    val ackLog = new File(s"$d/acks.jsonl")
    def generate(first: Int, count: Int, t0: Long): Unit = {
      val gen = new ProcessBuilder(python, loadgen, "--port", server.port.toString,
        "--dir", d, "--rate", rate.toString, "--t0-ns", t0.toString,
        "--first", first.toString, "--count", count.toString, "--threads", cpus.toString)
        .redirectOutput(ProcessBuilder.Redirect.appendTo(ackLog))
        .redirectError(ProcessBuilder.Redirect.INHERIT)
        .start()
      val ok = gen.waitFor((count / rate + 60).toLong, java.util.concurrent.TimeUnit.SECONDS)
      if (!ok) { gen.destroyForcibly(); gen.waitFor() }
      require(ok && gen.exitValue() == 0,
        s"load generator failed (${if (ok) s"exit ${gen.exitValue()}" else "timeout"})")
    }
    def processed = query.recentProgress.map(_.numInputRows).sum
    /** wait until every accepted record is committed */
    def drain(limitS: Double): Unit = {
      val from = System.nanoTime()
      while (processed < server.accepted && System.nanoTime() - from < limitS * 1e9)
        Thread.sleep(20)
    }

    // warm-up: the first (cold) trigger compiles the sink's plans and
    // creates the table
    val nWarm = (warmS * rate).toInt
    generate(0, nWarm, System.nanoTime() + 200000000L)
    drain(60)
    Main.note("live warm-up committed")
    // then one continuous schedule: a pre-roll that brings the stream back
    // to its steady trigger cadence, and the measured window
    val nWindow = ((preRollS + windowS) * rate).toInt
    val t0 = System.nanoTime() + 300000000L
    val windowStart = t0 + (preRollS * 1e9).toLong
    val windowEnd = windowStart + (windowS * 1e9).toLong
    val setupS = (windowStart - setupStart) / 1e9
    Trace.span("bench.live_window") {
      // traced runs: the micro-batches run Ingest and Lake inside the
      // stream's own thread; a sampler attributes its time to them
      val sampler = if (!Trace.on) None else Thread.getAllStackTraces.keySet.asScala
        .find(_.getName.startsWith("stream execution thread"))
        .map(th => new StackSampler(th, BackfillPhase.ingestLayers))
      try generate(nWarm, nWindow, t0)
      finally sampler.foreach(_.finish(Trace.current))
    }
    Main.windows += ((windowStart, windowEnd))
    Main.note("live window done")

    // ---- drain: every accepted record committed, then one full read cycle ----
    drain(60)
    val cycleFrom = reads.synchronized(reads.size)
    val cycleStart = System.nanoTime()
    while (reads.synchronized(reads.size) < cycleFrom + tenants.size + 1 &&
      System.nanoTime() - cycleStart < 30e9) Thread.sleep(20)
    stop = true
    reader.join()
    Main.note("live drained")
    val progress = query.recentProgress.toSeq
    query.stop()
    server.close()

    // ---- output dump for the checks (outside every timed window) ----
    spark.catalog.refreshTable(table)
    val lake = spark.table(table).select("tenant", "TenantId", "device").collect()
    val errs = if (spark.catalog.tableExists(s"${table}_errors"))
      spark.table(s"${table}_errors").select("raw", "error_type").collect() else Array()
    val pw = new PrintWriter(s"$d/lake_rows.jsonl")
    try {
      lake.foreach(r => pw.println(Main.mapper.writeValueAsString(
        list(Seq(r.getString(0), r.getString(1), r.getString(2))))))
    } finally pw.close()
    val ew = new PrintWriter(s"$d/error_rows.jsonl")
    try {
      errs.foreach(r => ew.println(Main.mapper.writeValueAsString(
        list(Seq(r.getString(0), r.getString(1))))))
    } finally ew.close()

    obj(
      "setup_s" -> setupS,
      "requests" -> (nWarm + nWindow), "window" -> list(Seq(windowStart, windowEnd)),
      "accepted" -> server.accepted, "rejected" -> server.rejected,
      "auth_cache_hits" -> server.authCacheHits,
      "reads" -> list(reads.map { case (s, e, t) => list(Seq(s, e, t)) }),
      "read_failures" -> readFailures.get, "foreign_rows" -> foreignRows.get,
      "scans" -> list(scans.map { case (s, f, p, r, n) => list(Seq(s, f, p, r, n)) }),
      "lake" -> BackfillPhase.lakeStats(s"$d/lake/data"),
      "first_seen" -> obj(firstSeen.asScala.toSeq.map { case (k, v) => k -> v.longValue }: _*),
      "progress" -> list(progress.map { p =>
        obj("batch" -> p.batchId,
          "start_epoch_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "duration_ms" -> obj(p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }: _*))
      }))
  }
}

package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Engine
import graft.operators.TenantContext
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Backfill + tenant SQL: `Engine.ingestBatch` of a historical dump into a
  * tenant × hour partitioned lake, then a closed loop of clients running
  * the query mix through `Engine.sql`, each client on its own session (the
  * tenant view is a session temp view). */
object BackfillPhase {
  import Main.{list, obj}

  private val dumpSchema = "value STRING, tk STRING, ts BIGINT"

  /** Frames of `Ingest` and `Lake` that the sampler attributes, inside
    * `Engine.ingestBatch` and inside a stream's micro-batch. */
  val ingestLayers = Seq(
    "graft.ingest.Ingest$.validateAndSplit" -> "ingest.validate_split",
    "graft.ingest.Ingest$" -> "ingest.enrich",
    "graft.sources.Lake$.writeValid" -> "lake.write_valid",
    "graft.sources.Lake$.writeErrors" -> "lake.write_errors",
    "graft.sources.Lake$.register" -> "lake.register")

  final case class Q(tenant: String, kind: String, sql: String)

  def run(spark: SparkSession, cfg: JsonNode, d: String,
          cpus: Int): java.util.Map[String, Any] = {
    val queries = scala.io.Source.fromFile(s"$d/queries.jsonl").getLines().map { l =>
      val n = Main.mapper.readTree(l)
      Q(n.get("tenant").asText, n.get("kind").asText, n.get("sql").asText)
    }.toVector
    val clients = cfg.get("clients").asInt
    val windowS = cfg.get("seconds").asDouble

    // ---- warm-up: the first hours of the dump into a scratch lake, so the
    // measured backfill does not time class loading and JIT compilation ----
    val warmB = System.nanoTime()
    Engine(spark, s"$d/warm_lake", "warm_events")
      .ingestBatch(spark.read.schema(dumpSchema).json(s"$d/warm_dump"), "value", col("tk"), col("ts"))
    val warmS = (System.nanoTime() - warmB) / 1e9
    Main.note("backfill warm-up done")

    // ---- backfill ----
    val engine = Engine(spark, s"$d/lake", "events")
    val bStart = System.nanoTime()
    val (valid, errors) = Trace.span("engine.ingest_batch") {
      val sampler = if (Trace.on) Some(new StackSampler(Thread.currentThread, ingestLayers)) else None
      try engine.ingestBatch(spark.read.schema(dumpSchema).json(s"$d/dump"), "value",
        col("tk"), col("ts"))
      finally sampler.foreach(_.finish(Trace.current))
    }
    val bEnd = System.nanoTime()
    Main.windows += ((bStart, bEnd))
    Main.note("backfill done")

    // ---- closed loop of query clients ----
    val sessions = Vector.fill(clients)(Engine(spark.newSession(), s"$d/lake", "events"))
    val next = new AtomicInteger
    /** Every client runs `each(client session, client, query index)` back
      * to back until `until` (nanoTime). */
    def closedLoop(until: Long)(each: (Engine, Int, Int) => Unit): Unit = {
      val threads = sessions.zipWithIndex.map { case (eng, c) =>
        val th = new Thread(() => {
          while (System.nanoTime() < until) each(eng, c, next.getAndIncrement())
        }, s"perfbench-client-$c")
        th.start()
        th
      }
      threads.foreach(_.join())
    }
    // warm-up: the loop runs untimed first, so the window does not time
    // the JIT compilation of the planning and scan paths
    val setupB = System.nanoTime()
    closedLoop(setupB + (cfg.get("query_warm_s").asDouble * 1e9).toLong) { (eng, _, i) =>
      val q = queries(i % queries.size)
      eng.sql(q.sql)(TenantContext(q.tenant)).collect()
    }
    val setupS = warmS + (System.nanoTime() - setupB) / 1e9
    Main.note(s"query warm-up done: ${next.get} queries")

    val done = mutable.ArrayBuffer[java.util.Map[String, Any]]()
    val wStart = System.nanoTime()
    val wEnd = wStart + (windowS * 1e9).toLong
    Trace.span("bench.query_window") {
      closedLoop(wEnd) { (eng, c, i) =>
        val r = runQuery(eng, queries(i % queries.size))
        r.put("i", i)
        r.put("client", c)
        done.synchronized { done += r }
      }
    }
    Main.windows += ((wStart, System.nanoTime()))
    Main.note("query window done")

    obj("setup_s" -> setupS, "backfill_ns" -> (bEnd - bStart),
      "valid" -> valid, "errors" -> errors,
      "lake" -> lakeStats(s"$d/lake/data"),
      "queries" -> list(done.sortBy(_.get("i").asInstanceOf[Int])),
      "window" -> list(Seq(wStart, wEnd)))
  }

  private def runQuery(eng: Engine, q: Q): java.util.Map[String, Any] = {
    implicit val ctx: TenantContext = TenantContext(q.tenant)
    val s = System.nanoTime()
    try {
      val (rows, scan) = Trace.span("bench.query") {
        if (!Trace.on) (eng.sql(q.sql).collect(), None)
        else {
          val df = Trace.span("tenant_queries.sql") { eng.sql(q.sql) }
          Trace.span("tenant_queries.plan") { df.queryExecution.executedPlan }
          val rows = Trace.span("tenant_queries.exec") { df.collect() }
          (rows, Some(scanStats(df)))
        }
      }
      val e = System.nanoTime()
      val out = obj("start" -> s, "end" -> e, "ok" -> true, "kind" -> q.kind,
        "rows" -> list(rows.map(rowStrings).sortBy(_.toString)))
      scan.foreach { case (files, parts, scanned) =>
        out.put("files_read", files); out.put("partitions_read", parts)
        out.put("rows_scanned", scanned)
      }
      out
    } catch {
      case ex: Exception =>
        System.err.println(s"[perfbench] query failed: ${q.sql}: ${ex.getMessage}")
        obj("start" -> s, "end" -> System.nanoTime(), "ok" -> false, "kind" -> q.kind,
          "rows" -> list(Nil))
    }
  }

  private def rowStrings(r: Row): java.util.List[Any] =
    list((0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i).toString))

  /** (files, partitions, rows) read by the file scans of an executed query. */
  def scanStats(df: DataFrame): (Long, Long, Long) = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: QueryStageExec => leaves(s.plan)
      case other => other +: other.children.flatMap(leaves)
    }
    val scans = leaves(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    def m(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    (m("numFiles"), m("numPartitions"), m("numOutputRows"))
  }

  /** Files, partition directories and bytes under the lake's data prefix. */
  def lakeStats(root: String): java.util.Map[String, Any] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toVector
    obj("files" -> files.size, "partitions" -> files.map(_.getParent).distinct.size,
      "bytes" -> files.map(p => java.nio.file.Files.size(p)).sum)
  }
}

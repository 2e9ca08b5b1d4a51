package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `run.py` generates the inputs into a run
  * directory, writes `plan.json` there and starts this main; it runs the
  * phases the plan lists (live ingest, backfill + tenant SQL, corpus prep)
  * against one Spark session and writes every raw sample, counter and span
  * to `<dir>/out/raw.json`. Statistics and output checks are done by
  * `run.py` from those files, outside the timed windows.
  *
  * Usage: Main --dir <run dir> --trace 0|1 --python <interpreter> --loadgen <loadgen.py> */
object Main {
  val mapper = new ObjectMapper()

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.toSeq.asJava)

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A timestamped progress line in the run's JVM log. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $msg")

  /** Measured windows of every phase, as (start ns, end ns). */
  val windows = mutable.ArrayBuffer[(Long, Long)]()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opts("dir")
    val traced = opts("trace") == "1"
    val plan = readJson(s"$dir/plan.json")
    val cpus = plan.get("cpus").asInt
    new File(s"$dir/out").mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/tmp")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$dir/ckpt")
    val sessionReadyEpochMs = System.currentTimeMillis()
    note("session ready")
    // nanoTime = epochMs * 1e6 + clockOffsetNs, for Spark's epoch-ms events
    val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

    Trace.on = traced
    Trace.sc = spark.sparkContext
    val listener = if (traced) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val res = obj("session_ready_epoch_ms" -> sessionReadyEpochMs,
      "clock_offset_ns" -> clockOffsetNs, "cpus" -> cpus)
    try Trace.span("bench.run") {
      plan.get("phases").elements().asScala.map(_.asText).foreach { phase =>
        val cfg = plan.get(phase)
        val r = phase match {
          case "live" => LivePhase.run(spark, cfg, s"$dir/live", cpus, opts("python"), opts("loadgen"))
          case "backfill" => BackfillPhase.run(spark, cfg, s"$dir/backfill", cpus)
          case "corpus" => CorpusPhase.run(spark, cfg, s"$dir/corpus")
        }
        res.put(phase, r)
      }
    } finally {
      res.put("windows", list(windows.map { case (s, e) => list(Seq(s, e)) }))
      listener.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        l.synchronized {
          def ns(ms: Long) = ms * 1000000L + clockOffsetNs
          res.put("jobs", list(l.jobs.values.map { j =>
            obj("group" -> j.group, "start" -> ns(j.start),
              "end" -> (if (j.end < 0) -1L else ns(j.end)), "tasks" -> j.tasks,
              "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
              "input_bytes" -> j.inputBytes, "shuffle_write_bytes" -> j.shuffleWrite,
              "spill_bytes" -> j.spill)
          }))
        }
        res.put("spans", list(Trace.spans.map(s =>
          list(Seq(s.id, s.parent, s.trace, s.name, s.start, s.end)))))
      }
      res.put("peak_rss_kb", peakRssKb())
      mapper.writeValue(new File(s"$dir/out/raw.json"), res)
      note("results written")
      spark.stop()
      note("session stopped")
    }
  }

  /** VmHWM of this process: the resident-set high-water mark. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

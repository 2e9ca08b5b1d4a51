package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkEntry
import graft.functions.{TextFunctions => TF}
import graft.operators.{Blocks, Dedup, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Corpus prep: the `train_corpus_prep_v2` composition (near-dup
  * canonicalization → 8-gram decontamination → quality rules + language ID
  * → content split + sequence packing) plus an exact cosine top-k over the
  * embeddings, run as repeated passes over a generated corpus. Each stage
  * ends in a materialized frame so its span times the stage's own work. */
object CorpusPhase {
  import Main.{list, obj}

  def run(spark: SparkSession, cfg: JsonNode, d: String): java.util.Map[String, Any] = {
    val setupStart = System.nanoTime()
    val all = spark.read.parquet(s"$d/documents")
    val embs = spark.read.parquet(s"$d/embeddings")
    val probes = embs.filter(col("vec_id") < cfg.get("probes").asInt)
    val k = cfg.get("topk").asInt
    val windowS = cfg.get("seconds").asDouble
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/oracle.sql"),
      SparkEntry.oracleSql("train_corpus_prep_v2"))

    def pass(): (Seq[Row], Seq[Row]) = Trace.span("bench.corpus_pass") {
      val evalSet = all.filter(col("doc_id") % 10 === 0)
      val reps = Trace.span("dedup.canonicalize") {
        Blocks.copyOut(Dedup.canonicalize(all, "doc_id", "text")
          .filter(col("doc_id") === col("canonical_id")).select("doc_id")
          .join(all, "doc_id")
          .filter(col("doc_id") % 10 =!= 0), singleEval = true)
      }
      val clean = Trace.span("dedup.decontaminate") {
        val contaminated = Dedup.decontaminate(reps, evalSet, "doc_id", "text", k = 8)
          .select(col("train_id").as("doc_id"))
        Blocks.copyOut(reps.join(broadcast(contaminated), Seq("doc_id"), "left_anti"),
          singleEval = true)
      }
      val metrics = Trace.span("text_analysis.quality_filter") {
        Blocks.copyOut(TextAnalysis.qualityFilter(
          clean.withColumn("lang", TF.langId(col("text"))),
          "doc_id", "text", carryCols = Seq("lang", "text")), singleEval = true)
      }
      val result = Trace.span("sampling.split_pack") {
        val kept = metrics.filter(col("keep") && col("lang") === "en")
          .select(col("doc_id"), col("text"), Sampling.contentSplit(col("text")).as("split"))
        TextAnalysis.packSequences(kept, "doc_id", "text", extraKeys = Seq("split"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
            countDistinct(col("shard"), col("seq_id")).as("n_sequences"))
          .orderBy("split").collect().toSeq
      }
      val topk = Trace.span("similarity.topk") {
        Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", k)
          .orderBy("probe_id", "rank").collect().toSeq
      }
      Seq(reps, clean, metrics).foreach(Blocks.release)
      (result, topk)
    }

    def dump(r: (Seq[Row], Seq[Row])) = obj(
      "result" -> list(r._1.map(x => obj("split" -> x.getString(0), "n_docs" -> x.getLong(1),
        "total_tokens" -> x.getLong(2), "n_sequences" -> x.getLong(3)))),
      "topk" -> list(r._2.map(x => list(Seq[Any](x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))))))

    // warm-up passes: the first is checked against the oracle; the
    // later ones let the JIT settle before the window
    val first = dump(pass())
    (1 until cfg.get("warm_passes").asInt).foreach(_ => pass())
    val setupS = (System.nanoTime() - setupStart) / 1e9
    Main.note("corpus warm-up passes done")

    val passes = mutable.ArrayBuffer[java.util.Map[String, Any]]()
    val wStart = System.nanoTime()
    val wEnd = wStart + (windowS * 1e9).toLong
    Trace.span("bench.corpus_window") {
      // passes until the window is over, at least two: the run reports
      // their median
      while (passes.size < 2 || System.nanoTime() < wEnd) {
        val s = System.nanoTime()
        val r = dump(pass())
        r.put("start", s)
        r.put("end", System.nanoTime())
        passes += r
      }
    }
    Main.windows += ((wStart, System.nanoTime()))
    Main.note(s"corpus window done: ${passes.size} passes")
    obj("setup_s" -> setupS, "first" -> first, "passes" -> list(passes),
      "docs" -> all.count())
  }
}

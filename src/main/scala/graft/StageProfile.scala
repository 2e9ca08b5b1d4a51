package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-STAGE wall-clock forensics for the composed flagship pipelines —
  * the instrument behind scaling triage: `target/scaling.json` says
  * WHETHER an entry grows super-linearly between sf0.1 and the ×8
  * synth corpus; this main says WHICH stage grows. Each stage is
  * materialized at its natural copyOut boundary and timed at both
  * scales, twice (the second pass separates steady-state growth from
  * first-touch costs), and the per-stage ×8 growth factor is printed —
  * a stage whose factor exceeds ~8 (linear) is the triage target.
  *
  * Usage: runMain graft.StageProfile [pipeline] — pipeline defaults to
  * `v2` (the one flagship whose α_large has a watch flag, VERDICT r11).
  * Output: `[stage] <tag> <stage> <sec>` lines plus a growth table.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val bigDir = "/root/testdata/sf0.1"
    Scaling.ensureSynth(spark, bigDir, Scaling.SynthDir)
    val timings = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Double]
    def t[A](tag: String, name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      timings((tag, name)) = sec
      println(f"[stage] $tag%-8s $name%-18s $sec%8.2f s")
      r
    }
    def v2(tag: String, dir: String): Unit = {
      import graft.functions.{TextFunctions => TF}
      import graft.operators.{Blocks, Dedup, TextAnalysis}
      val all = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val evalSet = all.filter(col("doc_id") % 10 === 0)
      val canon = t(tag, "canonicalize")(Blocks.copyOut(
        Dedup.canonicalize(all, "doc_id", "text"), singleEval = true))
      val reps = canon.filter(col("doc_id") === col("canonical_id"))
        .select("doc_id").join(all, "doc_id")
        .filter(col("doc_id") % 10 =!= 0)
      val contaminated = t(tag, "decontaminate")(Blocks.copyOut(
        Dedup.decontaminate(reps, evalSet, "doc_id", "text", k = 8)
          .select(col("train_id").as("doc_id")), singleEval = true))
      val clean = t(tag, "clean-antijoin")(Blocks.copyOut(
        reps.join(broadcast(contaminated), Seq("doc_id"), "left_anti"),
        singleEval = true))
      val metrics = t(tag, "quality-metrics")(Blocks.copyOut(
        TextAnalysis.qualityFilter(clean, "doc_id", "text"),
        singleEval = true))
      val kept = t(tag, "langid-split")(Blocks.copyOut(
        metrics.filter(col("keep")).select("doc_id").join(clean, "doc_id")
          .filter(TF.langId(col("text")) === "en")
          .select(col("doc_id"), col("text"),
            graft.operators.Sampling.contentSplit(col("text")).as("split")),
        singleEval = true))
      val packed = TextAnalysis.packSequences(kept, "doc_id", "text",
        extraKeys = Seq("split"))
      t(tag, "pack-rollup")(packed.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("shard"), col("seq_id")).as("n_sequences"))
        .orderBy("split").count())
      Seq(canon, contaminated, clean, metrics, kept)
        .foreach(df => try df.unpersist() catch { case _: Throwable => })
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    def v3(tag: String, dir: String): Unit = {
      import graft.functions.{TextFunctions => TF}
      import graft.operators.{Blocks, Dedup, TextAnalysis}
      val all = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val evalSet = all.filter(col("doc_id") % 10 === 0)
      val canon = t(tag, "canonicalize")(Blocks.copyOut(
        Dedup.canonicalize(all, "doc_id", "text"), singleEval = true))
      val reps = canon.filter(col("doc_id") === col("canonical_id"))
        .select("doc_id").join(all, "doc_id")
        .filter(col("doc_id") % 10 =!= 0)
      val masked = t(tag, "mask-spans")(Blocks.copyOut(
        Dedup.maskRepeatedSpans(reps, "doc_id", "text", k = 8,
          minOccurrences = 2)
          .select(col("doc_id"), col("clean_text").as("text")),
        singleEval = true))
      val contaminated = t(tag, "decontaminate")(Blocks.copyOut(
        Dedup.decontaminate(masked, evalSet, "doc_id", "text", k = 8)
          .select(col("train_id").as("doc_id")), singleEval = true))
      // mirrors the r13 entry: clean is a cheap anti-join (contaminated
      // is the checkpoint), langid/text ride the metrics pass, kept is
      // a filter on it
      val clean = masked.join(broadcast(contaminated), Seq("doc_id"),
        "left_anti")
      val metrics = t(tag, "quality-metrics+langid")(Blocks.copyOut(
        TextAnalysis.qualityFilter(
          clean.withColumn("lang", TF.langId(col("text"))),
          "doc_id", "text", carryCols = Seq("lang", "text")),
        singleEval = true))
      val kept = metrics.filter(col("keep"))
        .select("doc_id", "lang", "text")
      val sampled = t(tag, "temp-sample")(Blocks.copyOut(
        graft.operators.Sampling
          .temperatureSample(kept, "lang", "text", alpha = 0.5)
          .select(col("doc_id"), col("text"),
            graft.operators.Sampling.contentSplit(col("text")).as("split")),
        singleEval = true))
      val packed = TextAnalysis.packSequences(sampled, "doc_id", "text",
        extraKeys = Seq("split"))
      t(tag, "pack-rollup")(packed.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("shard"), col("seq_id")).as("n_sequences"))
        .orderBy("split").count())
      Seq(canon, masked, contaminated, metrics, sampled)
        .foreach(df => try df.unpersist() catch { case _: Throwable => })
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    val pipeline: (String, String) => Unit = args.headOption match {
      case None | Some("v2") => v2
      case Some("v3") => v3
      case Some(other) => sys.error(s"unknown pipeline '$other' (have: v2, v3)")
    }
    // two passes per scale: pass 2 is the steady-state number
    pipeline("sf01_1", bigDir)
    pipeline("synth_1", Scaling.SynthDir)
    pipeline("sf01_2", bigDir)
    pipeline("synth_2", Scaling.SynthDir)
    println(f"${"stage"}%-18s ${"sf0.1"}%8s ${"synth"}%8s  x8-growth")
    timings.keys.map(_._2).toSeq.distinct.foreach { st =>
      val small = timings.getOrElse(("sf01_2", st), Double.NaN)
      val big = timings.getOrElse(("synth_2", st), Double.NaN)
      println(f"$st%-18s $small%8.2f $big%8.2f  ${big / small}%6.2fx")
    }
    spark.stop()
  }
}

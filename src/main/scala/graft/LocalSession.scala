package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session profile: every bundled main (Verify, Bench,
  * Scaling, AnnRecall, StageProfile, Explain) and the spec session build
  * from it, so the configuration the oracle certifies is the one the bench
  * times. Deployment paths (warehouse dir, app name) stay with the caller.
  * Settings marked LOCAL MODE ONLY are measured answers to a single host
  * and must not be carried to a cluster (see DEPLOYMENT.md). */
object LocalSession {

  /** Every setting, keyed by conf name; `cpus` sizes the local executor. */
  def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    // one shuffle partition per core: at sf0.1 the default 200 is dispatch
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    // partition values follow the reference's UTC strftime derivation
    "spark.sql.session.timeZone" -> "UTC",
    // partition cols of the lake round-trip must stay strings ("01")
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS) — read as long, converted
    // exactly in Tables.load
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // LOCAL MODE ONLY: parallel task-side commit of dynamic-partition files;
    // a failed job can leave partial output (clusters: a manifest committer)
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    // LOCAL MODE ONLY: client-side .crc checksums double the cost of
    // many-small-file dynamic partition writes (measured 2x); real
    // clusters rely on HDFS/S3 storage integrity instead
    "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
    // LOCAL MODE ONLY: the state-store maintenance thread fires on a wall
    // clock and landed inside stateful-streaming bench entries (a 1.5-2x
    // outlier one run in three); Bench's quiesce unloads providers anyway
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    // LOCAL MODE ONLY: above the default threshold (32) a many-small-file
    // dir (the HTTP spool's ~1600 one-record files) is listed by a
    // 1600-task job — measured 2.6 s of dispatch for a millisecond readdir
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "100000",
    // LOCAL MODE ONLY: shuffle/checkpoint scratch on tmpfs; disk writeback
    // stalls made every ~4th iterative-operator run ~2x slower
    // (canonicalize: 4.5-6.3 s on tmpfs vs 10-14 s spikes on disk)
    "spark.local.dir" -> "/dev/shm/graft-bench-local")

  /** A builder carrying [[settings]]; callers add deployment paths. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder().config(settings(cpus))

  /** The session a bundled main runs on, logging at WARN. */
  def apply(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical schemas + partition-derivation column functions.
  *
  * Mirrors the reference's validated ingest envelope
  * (multi-tenant-apigateway-stack.ts:91-111: JSON-Schema Draft-7, `Data`
  * object with required string fields `device`,`event`,`region`), the
  * Flink enrichment (FirehoseStreamingSinkJob.java:74-82: inject
  * `TenantId` from the partition key + epoch-seconds `timestamp`), and the
  * Firehose JQ partition derivation (kinesis-stack.ts:148-161:
  * `.timestamp|strftime("%Y"/"%m"/"%d"/"%H")`, UTC, zero-padded).
  */
object Schemas {

  /** The validated inner payload: required string fields. Schema is OPEN —
    * extras are allowed (the reference's validator checks required-only). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("device", StringType, nullable = true),
    StructField("event", StringType, nullable = true),
    StructField("region", StringType, nullable = true)))

  /** The full ingest envelope `{ "Data": {...} }`. */
  val envelopeSchema: StructType =
    StructType(Seq(StructField("Data", payloadSchema, nullable = true)))

  val partitionCols: Seq[String] = Seq("tenant", "year", "month", "day", "hour")

  /** Hive partition-value derivation from an epoch-seconds column —
    * semantics of JQ-1.6 `strftime` (kinesis-stack.ts:153-154): UTC,
    * zero-padded. Pure column functions → codegen'd, no UDF.
    *
    * Timezone-INDEPENDENT by construction: `from_unixtime`/`date_format`
    * on timestamps render in the session time zone, so the old form was
    * only UTC because every bundled driver sets
    * `spark.sql.session.timeZone=UTC` — a library caller with another tz
    * got wrong partition values. Instead: floor-divide epoch seconds into
    * days (pmod → negative-epoch-safe) and read calendar fields from a
    * DateType (a tz-free day count); hour comes from the remainder. */
  def partitionColumns(epochSeconds: Column, tenantId: Column): Seq[(String, Column)] = {
    val secOfDay = pmod(epochSeconds, lit(86400L))
    val days = ((epochSeconds - secOfDay) / lit(86400L)).cast("int")
    val d = date_add(to_date(lit("1970-01-01")), days)
    Seq(
      "tenant" -> tenantId,
      "year"   -> format_string("%04d", year(d)),
      "month"  -> format_string("%02d", month(d)),
      "day"    -> format_string("%02d", dayofmonth(d)),
      "hour"   -> format_string("%02d", (secOfDay / lit(3600L)).cast("int")))
  }
}

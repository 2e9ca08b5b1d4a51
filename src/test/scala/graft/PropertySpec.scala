package graft

import graft.model.Schemas
import org.apache.spark.sql.functions._

/** SURVEY §5.2 property tests (seeded sampling): partition derivation ≡
  * strftime (UTC, zero-padded, boundary-safe); rolling fingerprint ≡
  * reference fold; jaccard symmetry/bounds. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)

  test("partition derivation equals JQ strftime semantics for arbitrary epochs") {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy|MM|dd|HH")
      .withZone(java.time.ZoneOffset.UTC)
    // 1990..2100 plus explicit year/day/hour boundaries
    val es = Seq.fill(300)(631152000L + (rng.nextDouble() * (4102444800L - 631152000L)).toLong) ++
      Seq(631151999L, 631152000L, 946684799L, 946684800L, 1704067199L, 1704067200L)
    val derived = Schemas.partitionColumns(col("epoch"), lit("t"))
      .foldLeft(es.toDF("epoch")) { case (d, (n, c)) => d.withColumn(n, c) }
      .select($"epoch", concat_ws("|", $"year", $"month", $"day", $"hour"))
      .as[(Long, String)].collect().toMap
    es.foreach { e =>
      assert(derived(e) == fmt.format(java.time.Instant.ofEpochSecond(e)), s"epoch $e")
    }
  }

  test("partition derivation is session-timezone-independent") {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy|MM|dd|HH")
      .withZone(java.time.ZoneOffset.UTC)
    // boundary epochs where a non-UTC rendering flips year/day/hour
    val es = Seq(0L, 631151999L, 631152000L, 1704067199L, 1704067200L, 1704063600L) ++
      Seq.fill(60)(631152000L + (rng.nextDouble() * (4102444800L - 631152000L)).toLong)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      Seq("America/New_York", "Asia/Tokyo", "Australia/Eucla").foreach { tz =>
        spark.conf.set("spark.sql.session.timeZone", tz)
        val derived = Schemas.partitionColumns(col("epoch"), lit("t"))
          .foldLeft(es.toDF("epoch")) { case (d, (n, c)) => d.withColumn(n, c) }
          .select($"epoch", concat_ws("|", $"year", $"month", $"day", $"hour"))
          .as[(Long, String)].collect().toMap
        es.foreach { e =>
          assert(derived(e) == fmt.format(java.time.Instant.ofEpochSecond(e)),
            s"epoch $e in session tz $tz")
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("rolling fingerprint matches reference fold for arbitrary ASCII text") {
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % 1000000007L)
    val texts = Seq.fill(100)(rng.alphanumeric.take(rng.nextInt(60) + 1).mkString) :+
      "hello world! 123" :+ "a"
    val got = texts.toDF("text")
      .select($"text", graft.functions.TextFunctions.rollingFingerprint($"text"))
      .as[(String, Long)].collect().toMap
    texts.foreach(t => assert(got(t) == ref(t), s"text '$t'"))
  }

  test("jaccard is symmetric and bounded on random token arrays") {
    val vocab = Seq("a", "b", "c", "d", "e")
    val pairs = Seq.fill(50)((
      Seq.fill(8)(vocab(rng.nextInt(5))),
      Seq.fill(8)(vocab(rng.nextInt(5)))))
    val df = pairs.toDF("x", "y")
      .select(array_distinct($"x").as("x"), array_distinct($"y").as("y"))
    val js = df.select(
      graft.functions.TextFunctions.jaccard($"x", $"y"),
      graft.functions.TextFunctions.jaccard($"y", $"x")).as[(Double, Double)].collect()
    js.foreach { case (j1, j2) =>
      assert(j1 == j2 && j1 >= 0.0 && j1 <= 1.0)
    }
  }

  test("wire encode/decode round-trips arbitrary unicode payloads") {
    val strs = Seq.fill(60)(Seq.fill(rng.nextInt(40))(
      (rng.nextInt(0xD7FF - 32) + 32).toChar).mkString) :+ "πß漢字 emoji é" :+ ""
    val out = strs.toDF("s")
      .select($"s", graft.ingest.Ingest.wireDecode(graft.ingest.Ingest.wireEncode($"s")))
      .as[(String, String)].collect()
    out.foreach { case (orig, round) => assert(round == orig) }
  }

  test("parser never throws on arbitrary garbage; every row is classified") {
    val garbage = Seq.fill(80)(Seq.fill(rng.nextInt(30))(
      (rng.nextInt(94) + 32).toChar).mkString) ++
      Seq("{", "[]", "null", "{\"Data\":4}", "{\"Data\":{}}", "")
    val (valid, errors) = graft.ingest.Ingest.validateAndSplit(garbage.toDF("raw"), "raw")
    assert(valid.count() + errors.count() == garbage.length)
    val types = errors.select("error_type").distinct().as[String].collect().toSet
    assert(types.subsetOf(Set("parse-error", "validation-error")))
  }

  test("tenant isolation holds under arbitrary tenant interleavings") {
    import graft.operators.{TenantContext, TenantQueries}
    val tenants = Seq("acme", "globex", "initech")
    val rows = (1 to 120).map { i =>
      (s"""{"Data":{"event":"e$i","region":"US","device":"d"}}""",
        tenants(rng.nextInt(3)), i.toLong)
    }
    val df = rows.toDF("raw", "tenant_key", "row_id")
    val (valid, _) = graft.ingest.Ingest.validateAndSplit(df, "raw")
    val enriched = graft.ingest.Ingest.derivePartitions(
      graft.ingest.Ingest.enrich(valid, $"tenant_key", lit(1704067199L)))
      .drop("raw", "tenant_key")
    val root = tmpDir("iso")
    graft.sources.Lake.writeValid(enriched, root)
    graft.sources.Lake.registerExternal(spark, "iso_events", s"$root/data")
    val expected = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    tenants.foreach { t =>
      implicit val ctx: TenantContext = TenantContext(t)
      val got = TenantQueries.queryByTenant(spark, "iso_events")
        .select("row_id").as[Long].collect().toSet
      assert(got == expected.getOrElse(t, Set.empty), s"tenant $t leaked/lost rows")
    }
  }

  test("sqlInTenantScope enforces the view-only rule (no base-table bypass)") {
    import graft.operators.{TenantContext, TenantQueries}
    val rows = (1 to 30).map { i =>
      (s"""{"Data":{"event":"e$i","region":"US","device":"d"}}""",
        if (i % 2 == 0) "acme" else "globex", i.toLong)
    }
    val df = rows.toDF("raw", "tenant_key", "row_id")
    val (valid, _) = graft.ingest.Ingest.validateAndSplit(df, "raw")
    val enriched = graft.ingest.Ingest.derivePartitions(
      graft.ingest.Ingest.enrich(valid, $"tenant_key", lit(1704067199L)))
      .drop("raw", "tenant_key")
    val root = tmpDir("scoped")
    graft.sources.Lake.writeValid(enriched, root)
    graft.sources.Lake.registerExternal(spark, "scoped_events", s"$root/data")
    implicit val ctx: TenantContext = TenantContext("acme")
    // legal: view + own CTE + subquery over the view
    val ok = TenantQueries.sqlInTenantScope(spark, "scoped_events",
      """WITH t AS (SELECT row_id FROM tenant_events)
        |SELECT count(*) AS n FROM t
        |WHERE EXISTS (SELECT 1 FROM tenant_events)""".stripMargin)
      .as[Long].head()
    assert(ok == rows.count(_._2 == "acme"))
    // bypass attempts must be rejected BEFORE execution
    val bypasses = Seq(
      "SELECT * FROM scoped_events",                                  // base table directly
      "WITH t AS (SELECT * FROM scoped_events) SELECT * FROM t",      // hidden in a CTE body
      "SELECT * FROM tenant_events WHERE EXISTS (SELECT 1 FROM scoped_events)", // in a subquery
      "SELECT (SELECT max(row_id) FROM scoped_events) AS x",          // scalar subquery
      "SELECT * FROM tenant_events JOIN scoped_events USING (row_id)", // joined in
      // nested-CTE shadowing: the inner CTE named 'scoped_events' is NOT
      // in scope at the outer reference — it resolves to the real table
      """WITH q AS (WITH scoped_events AS (SELECT 1 AS row_id)
        |           SELECT * FROM scoped_events)
        |SELECT * FROM scoped_events""".stripMargin,
      // IDENTIFIER() resolves relations dynamically at ANALYSIS time —
      // invisible to a static relation walk, so it must be rejected as such
      "SELECT * FROM IDENTIFIER('scoped_events')",
      "SELECT * FROM tenant_events WHERE EXISTS (SELECT 1 FROM IDENTIFIER('scoped' || '_events'))",
      // non-Command side effects must die at the query-only parse
      "INSERT OVERWRITE DIRECTORY '/tmp/exfil' USING parquet SELECT * FROM tenant_events",
      "INSERT INTO scoped_events SELECT * FROM tenant_events",
      "CACHE TABLE evil AS SELECT * FROM scoped_events",
      "DROP TABLE scoped_events")                                     // command
    bypasses.foreach { sql =>
      intercept[IllegalArgumentException] {
        TenantQueries.sqlInTenantScope(spark, "scoped_events", sql)
      }
    }
    assert(spark.catalog.tableExists("scoped_events"), "command must not have run")
    // a CTE reference in proper scope (earlier CTE used by a later one) is legal
    val scoped = TenantQueries.sqlInTenantScope(spark, "scoped_events",
      """WITH a AS (SELECT row_id FROM tenant_events),
        |     b AS (SELECT row_id FROM a)
        |SELECT count(*) AS n FROM b""".stripMargin)
    assert(scoped.as[Long].head() == ok)
  }

  test("sqlInTenantScope: concurrent tenants on one session see only their own rows") {
    import graft.operators.{TenantContext, TenantQueries}
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Seq("a", "b").toDF("tenant").createOrReplaceTempView("race_events")
    val runs = Seq("a", "b").map(t => t -> Future(Seq.fill(150)(
      TenantQueries.sqlInTenantScope(spark, "race_events",
        "SELECT DISTINCT tenant FROM tenant_events")(TenantContext(t))
        .collect().map(_.getString(0)).toSet)))
    val leaks = runs.map { case (t, f) =>
      t -> Await.result(f, scala.concurrent.duration.Duration.Inf).count(_ != Set(t)) }
    assert(leaks.forall(_._2 == 0), s"results with another tenant's rows: $leaks")
  }

  test("enrichment is payload-preserving under arbitrary extra fields") {
    val raws = Seq.fill(30) {
      val extra = rng.alphanumeric.take(6).mkString
      s"""{"Data":{"device":"d$extra","event":"e$extra","region":"r$extra","x_$extra":1}}"""
    }
    val (valid, errors) = graft.ingest.Ingest.validateAndSplit(raws.toDF("raw"), "raw")
    assert(errors.count() == 0)
    val out = graft.ingest.Ingest.enrich(valid, lit("t0"), lit(0L))
      .select("device", "event", "region").as[(String, String, String)].collect()
    assert(out.length == raws.length)
    out.foreach { case (d, e, r) =>
      assert(d.startsWith("d") && e.startsWith("e") && r.startsWith("r"))
    }
  }
}

package graft

import graft.plans.GraftExtensions

/** The custom expressions exposed through the SQL function surface. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions usable from SQL after registration") {
    GraftExtensions.registerAll(spark)
    val dot = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(dot == 11.0)
    val sh = spark.sql("SELECT graft_word_shingles('a b c d', 3) AS s")
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val mh = spark.sql(
      "SELECT size(graft_minhash(graft_word_shingles('a b c d e f', 3), 16)) AS n")
      .as[Int].head()
    assert(mh == 16)
    val simEq = spark.sql(
      """SELECT graft_simhash(graft_word_shingles('x y z w', 2)) =
        |       graft_simhash(graft_word_shingles('x y z w', 2)) AS eq""".stripMargin)
      .as[Boolean].head()
    assert(simEq)
    // LSH pair: the bucket must EQUAL the sign-pack of the projections
    // (the directed-probe invariant, here through the SQL surface — a
    // builder argument swap between the two functions would break this)
    val (bucket, packed, nProj) = spark.sql(
      """SELECT graft_lsh_bucket(array(1.0d, -2.0d, 0.5d), 6, 42) AS bucket,
        |  aggregate(zip_with(graft_lsh_projections(array(1.0d, -2.0d, 0.5d), 6, 42),
        |                     sequence(0, 5),
        |                     (p, b) -> CASE WHEN p >= 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0L END),
        |            0L, (acc, x) -> acc + x) AS packed,
        |  size(graft_lsh_projections(array(1.0d, -2.0d, 0.5d), 6, 42)) AS n""".stripMargin)
      .as[(Long, Long, Int)].head()
    assert(nProj == 6)
    assert(bucket == packed, s"bucket $bucket != sign-pack $packed")
    // analysis-time validation of the literal args
    intercept[Exception] {
      spark.sql("SELECT graft_lsh_bucket(array(1.0d), 70, 42)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_lsh_bucket(array(1.0d), -1, 42)").collect()
    }
    // NFC: decomposed e + combining acute (U+0301) composes to one char
    // (the codepoint is embedded from Scala — Spark's chr() wraps mod 256)
    val nfc = spark.sql("SELECT length(graft_nfc('e' || '\u0301')) AS n")
      .as[Int].head()
    assert(nfc == 1)
    val ic = spark.sql(
      "SELECT graft_intersect_count(array('a','b','c'), array('b','c','d')) AS n")
      .as[Int].head()
    assert(ic == 2)
    // z-order through SQL must agree with the Column-API builder
    val z = spark.sql("SELECT graft_zorder_key(1L, 2L, 2) AS z").as[Long].head()
    val zCol = Seq((1L, 2L)).toDF("a", "b")
      .select(graft.plans.ZOrderExpressions.zOrderKey2(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), 2).as("z"))
      .as[Long].head()
    assert(z == zCol, "SQL surface must agree with the Column API")
    intercept[Exception] {
      spark.sql("SELECT graft_zorder_key(1L, 2L, 40)").collect() // 2*40 > 62
    }
  }

  test("query/oracle registries fail fast on duplicate keys") {
    intercept[IllegalArgumentException] {
      graft.queries.Entries.toMapUnique("test", Seq("a" -> 1, "b" -> 2, "a" -> 3))
    }
    // force-evaluate every real registry through the guard
    assert(SparkEntry.queries.nonEmpty && SparkEntry.oracleSql.nonEmpty)
    // every oracle key must have a query backing it
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    // SparkEntry.entry is the smoke entry point: it must return rows
    assert(SparkEntry.entry(spark).count() > 0, "SparkEntry.entry returned no rows")
  }
}

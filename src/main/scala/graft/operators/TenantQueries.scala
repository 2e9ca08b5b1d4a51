package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{ExpressionWithUnresolvedIdentifier, PlanWithUnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Tenant-scoped query API (SURVEY §7.1 #5).
  *
  * Reference semantics: the saved Athena query `SELECT * FROM t WHERE
  * tenant='X'` (athena-saved-query-stack.ts:16) plus the C3 rule — the
  * SERVER decides the tenant (multi-tenant-apigateway-stack.ts:126), so the
  * engine APPENDS the tenant predicate from the authenticated context; a
  * caller can never widen it.
  *
  * Efficiency: because `tenant` is a partition column of the lake layout,
  * this predicate becomes a partition filter in `FileSourceScanExec` —
  * executors never open other tenants' files. That partition pruning is the
  * reference system's raison d'être (SURVEY §4.1) and is what makes the
  * query O(one tenant) instead of O(lake) at 100 TB.
  */
final case class TenantContext(tenantId: String, user: String = "anonymous")

object TenantQueries {

  /** The one user-facing query of the reference, tenant-enforced. */
  def queryByTenant(spark: SparkSession, table: String)(implicit ctx: TenantContext): DataFrame =
    spark.table(table).filter(col("tenant") === lit(ctx.tenantId))

  /** General passthrough: user SQL over a view that is already
    * tenant-filtered and visible to this query only. Isolation is
    * ENFORCED, not assumed: analysis runs with full catalog access, so
    * before execution the SQL is parsed with the QUERY-ONLY grammar
    * (`parseQuery` — INSERT/commands/any
    * side-effecting statement fail to parse) and every table reference
    * must resolve to the tenant view or a CTE that is lexically IN SCOPE
    * at the reference site. Scoping matters: a CTE merely named somewhere
    * in the query must not whitelist an out-of-scope reference — `WITH q
    * AS (WITH base AS (...) SELECT ...) SELECT * FROM base` resolves the
    * outer `base` to the real catalog table. The walk covers CTE bodies
    * and subqueries in expressions (EXISTS/IN/scalar). */
  def sqlInTenantScope(spark: SparkSession, table: String, userSql: String,
                       viewName: String = "tenant_events")(implicit ctx: TenantContext): DataFrame = {
    val parsed =
      try spark.sessionState.sqlParser.parseQuery(userSql)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IllegalArgumentException(
            s"tenant-scoped SQL must be a pure query: ${e.getMessage}")
      }
    require(!parsed.isInstanceOf[Command],
      "tenant-scoped SQL must be a query, not a command")
    val illegal = illegalRefs(parsed, Set(viewName.toLowerCase))
    require(illegal.isEmpty,
      s"tenant-scoped SQL may only reference '$viewName' (and its own in-scope CTEs); " +
        s"found: ${illegal.sorted.mkString(", ")}")
    // the tenant view is bound into THIS plan as an outer CTE, never
    // registered on the session: a session-global temp view could be
    // swapped by a concurrent call for another tenant between its
    // registration and this query's analysis
    val tenantView = SubqueryAlias(viewName, queryByTenant(spark, table).queryExecution.analyzed)
    PlanBridge.dataFrame(spark, UnresolvedWith(parsed, Seq((viewName, tenantView, None))))
  }

  /** Relation references that are not in the LEXICAL scope of allowed
    * names. CTE scoping follows Spark's resolution: a CTE body sees the
    * CTEs defined BEFORE it in the same WITH (plus outer scopes); the
    * WITH's main child sees all of them; nothing outside the WITH sees
    * any. Bodies are walked explicitly with their own scope —
    * `UnresolvedWith` keeps them as innerChildren, which generic child
    * traversal misses, and a global name set would let a nested CTE
    * shadow-whitelist the real table. */
  private def illegalRefs(plan: LogicalPlan, allowed: Set[String]): Seq[String] = {
    val bad = scala.collection.mutable.ListBuffer[String]()
    def walk(n: LogicalPlan, scope: Set[String]): Unit = n match {
      case w: UnresolvedWith =>
        var s = scope
        val bodies = w.cteRelations.map(_._2)
        w.cteRelations.foreach { rel =>
          walk(rel._2, s) // body sees only earlier CTEs (+ outer scope)
          s += rel._1.toLowerCase
        }
        w.children.filterNot(c => bodies.exists(_ eq c)).foreach(walk(_, s))
        walkExprs(w, s)
      case r: UnresolvedRelation =>
        val name = r.multipartIdentifier.map(_.toLowerCase).mkString(".")
        if (!scope.contains(name)) bad += name
      // IDENTIFIER('name') resolves a relation DYNAMICALLY during
      // analysis — it never surfaces as UnresolvedRelation at parse time,
      // so a static walk cannot know what it names. Reject outright: it
      // is exactly a guard-bypass primitive.
      case _: PlanWithUnresolvedIdentifier =>
        bad += "IDENTIFIER(...)"
      case other =>
        other.children.foreach(walk(_, scope))
        walkExprs(other, scope)
    }
    def walkExprs(n: LogicalPlan, scope: Set[String]): Unit =
      n.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan, scope)
        case _: ExpressionWithUnresolvedIdentifier => bad += "IDENTIFIER(...)"
        case _ => ()
      })
    walk(plan, allowed)
    bad.toSeq.distinct
  }

  /** COLUMN MASKING layered on the tenant row filter — the data-egress
    * policy a multi-tenant operator applies before handing query results
    * to a tenant's analysts: direct identifiers PSEUDONYMIZED (user_id →
    * salted SHA-256; the raw column is DROPPED, not hidden, so no
    * downstream projection can resurrect it) and free-text columns
    * regex-redacted (emails → `[EMAIL]`, the Java∩RE2 pattern family of
    * `TextAnalysis.piiRedact`). Pure per-row codegen'd expressions on top
    * of the partition-pruned tenant scan — masking costs scan speed,
    * never a shuffle. Compose with [[sqlInTenantScope]] by registering
    * the returned frame as the tenant's ONLY queryable view. */
  def maskedTenantView(spark: SparkSession, table: String, salt: String,
                       redactCols: Seq[String] = Seq("props"))
                      (implicit ctx: TenantContext): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val pseudo = sha2(
      concat(col("user_id").cast("string"), lit(":"), lit(salt)), 256)
    redactCols.foldLeft(
      queryByTenant(spark, table)
        .withColumn("user_pseudo", pseudo)
        .drop("user_id"))(
      (df, c) => df.withColumn(c, regexp_replace(col(c), email, "[EMAIL]")))
  }

  /** True iff the physical plan prunes on the tenant partition column —
    * test hook for the §5.2-t1 pruning assertion. */
  def prunesOnTenant(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("PartitionFilters") && plan.contains("tenant")
  }
}

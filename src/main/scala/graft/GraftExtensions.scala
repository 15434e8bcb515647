package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomBuildAgg, BloomMightContain, Fnv1a64,
  HammingWords, HashSample, SortedIntersectCount, VecDot}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions so SQL users (`SELECT fnv1a64(text) FROM docs`,
  * `SELECT lang, hash_sample(text, 3) FROM docs GROUP BY lang`) and the
  * Column API share one codegen'd implementation.
  *
  * [[GraftSession.local]] installs it; an outside session wires it up
  * with `builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("fnv1a64"),
      new ExpressionInfo(classOf[Fnv1a64].getName, "fnv1a64"),
      (children: Seq[Expression]) => Fnv1a64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("hash_sample"),
      new ExpressionInfo(classOf[HashSample].getName, "hash_sample"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"hash_sample(col, k) takes 2 arguments, got ${children.length}")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null => v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"hash_sample k must be a non-null literal, got $other")
        }
        HashSample(children.head, k).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("hamming_words"),
      new ExpressionInfo(classOf[HammingWords].getName, "hamming_words"),
      (children: Seq[Expression]) => HammingWords(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) =>
        SortedIntersectCount(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomBuildAgg].getName, "bloom_build"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"bloom_build(key, numBits) takes 2 arguments, got ${children.length}")
        // typed literal match + range check: numBits sizes a per-group
        // aggregation buffer (numBits/8 bytes per partial state), so an
        // unbounded or non-integral SQL argument must fail analysis
        // with a clear message, not NumberFormatException or an OOM
        val bits = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
            v.toLong
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) =>
            v
          case other => throw new IllegalArgumentException(
            s"bloom_build numBits must be a non-null integer literal, got $other")
        }
        if (bits < 64 || bits > (1L << 30) || bits % 8 != 0)
          throw new IllegalArgumentException(
            s"bloom_build numBits must be a multiple of 8 in [64, 2^30] " +
              s"(${bits / 8} bytes of aggregation state per group), got $bits")
        BloomBuildAgg(children.head, bits.toInt).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_contains"),
      (children: Seq[Expression]) => BloomMightContain(children(0), children(1))))
    // caller_groups() must be a BUILT-IN, not a session-injected temp
    // function: persistent governed views reference it, and
    // SessionCatalog.isTemporaryFunction would otherwise refuse the
    // CREATE VIEW. The builtin registry is process-global and cloned
    // into every session; registration is idempotent.
    val cgId = new FunctionIdentifier("caller_groups")
    val cgInfo = new ExpressionInfo(
      classOf[graft.functions.CallerGroups].getName, "caller_groups")
    val cgBuilder = (_: Seq[Expression]) => graft.functions.CallerGroups()
    if (!org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(cgId))
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .registerFunction(cgId, cgInfo, cgBuilder)
    ext.injectFunction((cgId, cgInfo, cgBuilder))
    // has_privilege(securable, priv, groups) — the GRANT check; a
    // built-in for the same reason as caller_groups (persistent
    // governed views reference it in their guard predicate)
    val hpId = new FunctionIdentifier("has_privilege")
    val hpInfo = new ExpressionInfo(
      classOf[graft.functions.HasPrivilege].getName, "has_privilege")
    val hpBuilder = (children: Seq[Expression]) =>
      graft.functions.HasPrivilege(children(0), children(1), children(2))
    if (!org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(hpId))
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .registerFunction(hpId, hpInfo, hpBuilder)
    ext.injectFunction((hpId, hpInfo, hpBuilder))
    // Bind caller_groups() to a literal during ANALYSIS (not just
    // optimizer constant folding): CacheManager matches on the
    // canonicalized analyzed plan, so an unbound CallerGroups() node
    // would let one principal's cached governed view serve another
    // principal's query. See graft.functions.BindCallerGroups.
    ext.injectResolutionRule(session =>
      graft.functions.BindCallerGroups(session))
    // table_changes('ns.t', v1[, v2]) — the CDF as a SQL table-valued
    // function over the change-scale manifest diff
    ext.injectTableFunction((
      new FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.sources.CdfSql.getClass.getName,
        "table_changes"),
      (children: Seq[Expression]) =>
        graft.sources.CdfSql.tableChangesPlan(children)))
    // event_log('pipeline') — run/flow/quality observability as a
    // queryable relation (the reference's DLT event_log surface)
    ext.injectTableFunction((
      new FunctionIdentifier("event_log"),
      new ExpressionInfo(graft.plans.EventLog.getClass.getName,
        "event_log"),
      (children: Seq[Expression]) =>
        graft.plans.EventLog.eventLogPlan(children)))
    // alerts('pipeline') — the actionable incidents derived from the
    // ledger (the reference's email_notifications.on_failure analog,
    // ref resources/olist_jobs.yml:50-53), as pollable rows
    ext.injectTableFunction((
      new FunctionIdentifier("alerts"),
      new ExpressionInfo(graft.plans.EventLog.getClass.getName,
        "alerts"),
      (children: Seq[Expression]) =>
        graft.plans.EventLog.alertsPlan(children)))
    // readStream.table("graft_lake.ns.t[.changes]") — named streaming
    // reads resolve onto the _changes/ file stream
    ext.injectResolutionRule(session =>
      graft.sources.CdfSql.ResolveLakeStreams(session))
    // the reference's EXPECT … ON VIOLATION DROP ROW / FAIL UPDATE
    // expectation DDL, which Spark's grammar lacks
    ext.injectParser((_, delegate) =>
      new graft.plans.GraftSqlParser(delegate))
    ext.injectPlannerStrategy(_ => graft.plans.PointInIntervalStrategy)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinGuard)
    // SQL MERGE INTO over registered lake tables lowers onto one
    // VersionedLake.upsert commit (post-hoc: the statement must be
    // fully resolved before the rewrite reads its action expressions)
    ext.injectPostHocResolutionRule(_ => graft.plans.GraftMergeRule)
  }
}

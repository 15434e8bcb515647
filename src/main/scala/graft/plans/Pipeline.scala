package graft.plans

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.{Cdc, Gold, Medallion}

/** Declarative pipeline DAG — the engine analogue of the reference's
  * DLT pipeline (tables declare dependencies, the runtime orders and
  * materializes them; ref /root/reference/resources/olist_pipeline.yml,
  * docs/ORCHESTRATION_GUIDE.md).
  *
  * Tables are built in topological order; each result registers as a
  * temp view so downstream builders can read it, and optionally lands
  * as parquet under `lakeDir/<layer>/<name>`. Builders are lazy
  * DataFrames, so Catalyst still fuses across table boundaries when a
  * table is not persisted.
  */
object Pipeline {

  /** @param sources external input paths (files or directories) the
    *                 builder reads directly — the change-detection basis
    *                 for [[Incremental]] runs; derived tables list only
    *                 `deps` and inherit change state transitively
    */
  final case class TableDef(
      name: String,
      layer: String,
      deps: Seq[String],
      build: (SparkSession, Map[String, DataFrame]) => DataFrame,
      sources: Seq[String] = Nil)

  final class CycleException(names: Seq[String])
    extends RuntimeException(s"dependency cycle along: ${names.mkString(" -> ")}")

  /** Topological order (stable: insertion order among ready nodes). */
  def topoSort(defs: Seq[TableDef]): Seq[TableDef] = {
    val byName = defs.map(d => d.name -> d).toMap
    val done = mutable.LinkedHashSet.empty[String]
    // path is the actual DFS chain, so a cycle reports in walk order
    val path = mutable.ArrayBuffer.empty[String]
    def visit(d: TableDef): Unit = {
      if (done.contains(d.name)) return
      if (path.contains(d.name))
        throw new CycleException(
          (path.dropWhile(_ != d.name) :+ d.name).toSeq)
      path += d.name
      d.deps.foreach(dep => byName.get(dep).foreach(visit))
      path.remove(path.length - 1)
      done.add(d.name)
    }
    defs.foreach(visit)
    done.toSeq.map(byName)
  }

  /** Run mode — the engine analogue of the reference's daily
    * incremental run vs its weekly `full_refresh: true` job (ref
    * /root/reference/resources/olist_jobs.yml): [[FullRefresh]]
    * re-lands every table; [[Incremental]] re-lands ONLY tables whose
    * transitive inputs changed since the last landed run (source-file
    * fingerprints, the [[graft.sources.FileRegistry]] discipline
    * applied to the DAG), reading unchanged tables straight from the
    * lake — the batch analogue of DLT's incremental materialized-view
    * refresh.
    */
  sealed trait RunMode
  case object FullRefresh extends RunMode
  case object Incremental extends RunMode

  /** Job-run policy — the engine analogue of the reference's jobs
    * config (ref /root/reference/resources/olist_jobs.yml: max_retries,
    * timeout_seconds, retry_on_timeout, on-failure email_notifications;
    * the notification hook here is a callback handed the failed
    * [[NodeReport]], and the report table remains what a monitor
    * alerts on).
    *
    * @param maxRetries        re-attempts per table build after the first
    *                          failure (olist_jobs.yml `max_retries`)
    * @param continueOnFailure when true, a failed table marks its
    *                          downstream SKIPPED but independent branches
    *                          still land; when false [[run]] throws after
    *                          the DAG settles
    * @param parallelism       max concurrently-building tables
    * @param mode              [[FullRefresh]] (default, today's behavior)
    *                          or [[Incremental]] (requires `lakeDir`)
    * @param timeoutSeconds    per-TABLE build+land budget
    *                          (olist_jobs.yml `timeout_seconds`); on
    *                          expiry the table's Spark job group is
    *                          cancelled and its attempt thread
    *                          interrupted, so a hung source cannot wedge
    *                          the whole DAG
    * @param retryOnTimeout    whether a timeout consumes retries like
    *                          any failure (olist_jobs.yml
    *                          `retry_on_timeout`) or fails immediately
    * @param onFailure         invoked EXACTLY ONCE per failed table with
    *                          its final report, after retries are
    *                          exhausted (the email_notifications
    *                          delivery hook); exceptions it throws are
    *                          logged, never propagated into the DAG
    * @param pipelineName      when set, the run writes its lifecycle +
    *                          per-table flow_progress events to the
    *                          [[EventLog]] ledger under this name, so
    *                          `SELECT * FROM event_log('<name>')`
    *                          serves the run — the reference's
    *                          event_log observability surface
    */
  final case class RunPolicy(
      maxRetries: Int = 0,
      continueOnFailure: Boolean = false,
      parallelism: Int = 8,
      mode: RunMode = FullRefresh,
      timeoutSeconds: Option[Long] = None,
      retryOnTimeout: Boolean = false,
      onFailure: NodeReport => Unit = _ => (),
      pipelineName: Option[String] = None)

  /** Per-table outcome of a DAG run: status ∈ ok | failed | skipped |
    * fresh (skipped = an upstream dependency failed; fresh = an
    * [[Incremental]] run found the table's transitive inputs unchanged
    * and served the landed parquet without rebuilding), the attempt
    * count, and the last error message for failed tables — the
    * failure-report analogue of the reference's email_notifications.
    */
  final case class NodeReport(
      name: String,
      layer: String,
      status: String,
      attempts: Int,
      error: Option[String])

  private final case class Outcome(df: Option[DataFrame], report: NodeReport)

  // ---- input fingerprints (Incremental mode) -------------------------------
  /** Fingerprint of one external source path: the sorted
    * (relative-path, size, mtime) listing hashed — O(directory
    * metadata), the same scale class as Spark's own file-source log.
    */
  private def pathFingerprint(p: String): String = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) "absent"
    else {
      val walk = java.nio.file.Files.walk(root)
      val lines = try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(q => s"${root.relativize(q)}|${java.nio.file.Files.size(q)}|" +
          java.nio.file.Files.getLastModifiedTime(q).toMillis)
        .toSeq.sorted
      finally walk.close()
      md5Hex(lines.mkString("\n"))
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Per-table input fingerprints, derived in topo order: a table's
    * fingerprint hashes its own source listings plus its declared
    * dependencies' fingerprints — so ANY transitive source change
    * changes exactly the affected subtree's fingerprints, and nothing
    * else. Depends only on inputs (never on built data), so it is
    * computable before any build starts.
    */
  private[plans] def fingerprints(defs: Seq[TableDef]): Map[String, String] = {
    val fps = mutable.LinkedHashMap.empty[String, String]
    topoSort(defs).foreach { d =>
      val parts = d.name +: (d.sources.map(pathFingerprint) ++
        d.deps.flatMap(fps.get))
      fps(d.name) = md5Hex(parts.mkString("\u0000"))
    }
    fps.toMap
  }

  private def fpFile(lakeDir: String, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$lakeDir/_fingerprints/$name.txt")

  private def storedFingerprint(lakeDir: String, name: String): Option[String] = {
    val f = fpFile(lakeDir, name)
    if (java.nio.file.Files.exists(f))
      Some(java.nio.file.Files.readString(f).trim)
    else None
  }

  /** Atomic commit of a landed table's fingerprint (tmp + rename, the
    * [[graft.sources.FileRegistry]] torn-write discipline).
    */
  private def commitFingerprint(lakeDir: String, name: String, fp: String): Unit = {
    val f = fpFile(lakeDir, name)
    java.nio.file.Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, fp)
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run the DAG; returns every materialized table by name. Ready nodes
    * build CONCURRENTLY (each table's future waits only on its declared
    * dependencies' futures, so independent branches — e.g. the no-dep
    * silver tables — land in parallel; Spark's scheduler interleaves
    * their jobs). Throws on the first failed table unless
    * `policy.continueOnFailure`.
    *
    * @param lakeDir when set, each table also lands as parquet
    */
  def run(spark: SparkSession, defs: Seq[TableDef],
      lakeDir: Option[String] = None,
      policy: RunPolicy = RunPolicy()): Map[String, DataFrame] = {
    val (results, reports) = runWithReport(spark, defs, lakeDir, policy)
    if (!policy.continueOnFailure)
      reports.find(_.status == "failed").foreach { r =>
        throw new RuntimeException(
          s"pipeline table ${r.name} failed after ${r.attempts} attempt(s): " +
            r.error.getOrElse(""))
      }
    results
  }

  /** [[run]] plus the per-table [[NodeReport]]s (topo order). Builders
    * receive the map of their DECLARED dependencies' results (the lazy
    * contract is unchanged: tables are fused by Catalyst unless landed).
    */
  def runWithReport(spark: SparkSession, defs: Seq[TableDef],
      lakeDir: Option[String] = None,
      policy: RunPolicy = RunPolicy()): (Map[String, DataFrame], Seq[NodeReport]) = {
    val ordered = topoSort(defs)
    if (policy.mode == Incremental) require(lakeDir.nonEmpty,
      "Incremental mode needs a lakeDir: change state lives in the lake")
    // input fingerprints derive from sources only — computed up front,
    // before any build, so the fresh/rebuild decision is per-table and
    // independent of execution order. Computed for ANY landed run (a
    // FullRefresh primes the state an Incremental run reads — the
    // weekly-full / daily-incremental pairing of the reference's jobs),
    // but only Incremental consults it.
    val fps: Map[String, String] =
      if (lakeDir.nonEmpty) fingerprints(defs) else Map.empty
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(policy.parallelism, ordered.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = mutable.LinkedHashMap.empty[String, Future[Outcome]]
      ordered.foreach { d =>
        // deps not defined in this DAG are ignored (matches topoSort)
        val depFs = d.deps.flatMap(futures.get)
        futures(d.name) = Future.sequence(depFs).map { deps =>
          val failedDeps = deps.filter(_.df.isEmpty).map(_.report.name)
          val fresh = policy.mode == Incremental && {
            val dir = lakeDir.get
            storedFingerprint(dir, d.name).contains(fps(d.name)) &&
              java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"$dir/${d.layer}/${d.name}"))
          }
          if (failedDeps.nonEmpty)
            Outcome(None, NodeReport(d.name, d.layer, "skipped", 0,
              Some(s"upstream failed: ${failedDeps.mkString(",")}")))
          else if (fresh) {
            // inputs unchanged and the landed table exists: serve it
            val df = spark.read.parquet(s"${lakeDir.get}/${d.layer}/${d.name}")
            df.createOrReplaceTempView(d.name)
            System.err.println(s"[pipeline] ${d.name} fresh (inputs unchanged)")
            Outcome(Some(df), NodeReport(d.name, d.layer, "fresh", 0, None))
          }
          else buildOne(spark, d, deps.map(o => o.report.name -> o.df.get).toMap,
            lakeDir, policy, fps.get(d.name))
        }
      }
      policy.pipelineName.foreach(pn => EventLog.record(pn, "run_started",
        message = s"tables=${ordered.size}"))
      val outcomes =
        Await.result(Future.sequence(futures.values.toSeq), Duration.Inf)
      // ledger rows land AFTER the DAG settles, in TOPO order — builds
      // interleave nondeterministically, the observability record must
      // not (the event_log oracle depends on it)
      policy.pipelineName.foreach { pn =>
        outcomes.map(_.report).foreach { r =>
          EventLog.record(pn, "flow_progress", tableName = r.name,
            layer = r.layer, status = r.status, attempts = r.attempts,
            message = r.error.getOrElse(""))
        }
        val tally = outcomes.map(_.report).groupBy(_.status)
          .view.mapValues(_.size).toMap
        EventLog.record(pn, "run_completed", message =
          Seq("ok", "failed", "skipped", "fresh")
            .map(s => s"$s=${tally.getOrElse(s, 0)}").mkString(" "))
      }
      val results = mutable.LinkedHashMap.empty[String, DataFrame]
      outcomes.foreach(o => o.df.foreach(results += o.report.name -> _))
      (results.toMap, outcomes.map(_.report))
    } finally pool.shutdown()
  }

  /** One table: build + optional landing, with up to `maxRetries`
    * re-attempts. Landing notes: when landing, downstream deps read the
    * MATERIALIZED table, not the lazy plan — DLT semantics, and it keeps
    * a table consumed by k children from recomputing its pipeline k
    * times. (A landing coalesce was tried and reverted: fewer output
    * files also collapse the COMPUTE stage's parallelism, which costs
    * more on the join-heavy tables than the file-commit overhead saves.)
    */
  private final class TableTimeout(name: String, seconds: Long)
    extends RuntimeException(s"table $name timed out after ${seconds}s")

  /** Run `body` within the per-table budget. The attempt executes on
    * its own thread under a table-scoped Spark job group (job-group
    * membership is thread-local); on expiry the group's jobs are
    * CANCELLED and the thread interrupted — a hung scan releases its
    * executors instead of wedging the DAG pool.
    */
  private def withBudget[T](spark: SparkSession, name: String,
      timeoutSeconds: Option[Long])(body: => T): T = timeoutSeconds match {
    case None => body
    case Some(sec) =>
      val group = s"pipeline-$name-${System.nanoTime()}"
      @volatile var result: Option[Either[Throwable, T]] = None
      val t = new Thread(() => {
        spark.sparkContext.setJobGroup(group, s"pipeline table $name",
          interruptOnCancel = true)
        try result = Some(Right(body))
        catch { case e: Throwable => result = Some(Left(e)) }
        finally spark.sparkContext.clearJobGroup()
      }, group)
      t.setDaemon(true)
      t.start()
      t.join(sec * 1000L)
      if (t.isAlive) {
        spark.sparkContext.cancelJobGroup(group)
        t.interrupt()
        t.join(10000L)
        throw new TableTimeout(name, sec)
      }
      result match {
        case Some(Right(v)) => v
        case Some(Left(e)) => throw e
        case None => throw new TableTimeout(name, sec) // died silently
      }
  }

  private def buildOne(spark: SparkSession, d: TableDef,
      deps: Map[String, DataFrame], lakeDir: Option[String],
      policy: RunPolicy, fp: Option[String] = None): Outcome = {
    var attempt = 0
    var out: Option[Outcome] = None
    def fail(e: Throwable): Unit = {
      val report = NodeReport(d.name, d.layer, "failed", attempt,
        Some(e.toString))
      // notification delivery: once, with the FINAL report; a throwing
      // hook must never take the DAG down with it
      try policy.onFailure(report)
      catch {
        case NonFatal(h) =>
          System.err.println(s"[pipeline] onFailure hook threw for " +
            s"${d.name}: $h")
      }
      out = Some(Outcome(None, report))
    }
    def retryable(e: Throwable): Boolean = e match {
      case _: TableTimeout => policy.retryOnTimeout
      case NonFatal(_) => true
      case _ => false
    }
    while (out.isEmpty) {
      attempt += 1
      val t0 = System.nanoTime()
      try {
        val exposed = withBudget(spark, d.name, policy.timeoutSeconds) {
          val df = d.build(spark, deps)
          lakeDir.map { dir =>
            val path = s"$dir/${d.layer}/${d.name}"
            df.write.mode("overwrite").parquet(path)
            // fingerprint commits AFTER the landing write: a crash
            // in between re-runs the build (safe), never serves a
            // half-landed table as fresh
            fp.foreach(commitFingerprint(dir, d.name, _))
            spark.read.parquet(path)
          }.getOrElse(df)
        }
        exposed.createOrReplaceTempView(d.name) // `spark.table(name)` works
        System.err.println(f"[pipeline] ${d.name} ok in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs (attempt $attempt)")
        out = Some(Outcome(Some(exposed),
          NodeReport(d.name, d.layer, "ok", attempt, None)))
      } catch {
        case e if retryable(e) && attempt <= policy.maxRetries =>
          // each failed attempt is logged (a silent retry loses the
          // transient error's diagnosis) and backed off briefly so a
          // deterministic failure doesn't hot-loop the executor pool
          System.err.println(
            s"[pipeline] ${d.name} attempt $attempt failed, retrying: $e")
          Thread.sleep(math.min(200L << (attempt - 1), 2000L))
        case e @ (_: TableTimeout) => fail(e)
        case NonFatal(e) => fail(e)
      }
    }
    out.get
  }

  /** The full medallion DAG over the testdata schema — the engine's
    * equivalent of the reference's main pipeline (bronze → silver →
    * gold) plus the CDC flow.
    */
  def medallion(sfDir: String): Seq[TableDef] = Seq(
    TableDef("silver_orders", "silver", Nil,
      (s, _) => Medallion.silverOrders(Tables.orders(s, sfDir)),
      sources = Seq(s"$sfDir/orders.parquet")),
    TableDef("silver_lineitem", "silver", Nil,
      (s, _) => Medallion.silverLineitem(Tables.lineitem(s, sfDir)),
      sources = Seq(s"$sfDir/lineitem.parquet")),
    TableDef("silver_customers", "silver", Nil,
      (s, _) => Medallion.silverCustomers(Tables.customer(s, sfDir),
        Tables.nation(s, sfDir), Tables.region(s, sfDir)),
      sources = Seq(s"$sfDir/customer.parquet", s"$sfDir/nation.parquet",
        s"$sfDir/region.parquet")),
    TableDef("silver_payments", "silver", Nil,
      (s, _) => Medallion.silverPayments(Tables.events(s, sfDir)),
      sources = Seq(s"$sfDir/events.parquet")),
    TableDef("silver_reviews", "silver", Nil,
      (s, _) => Medallion.silverReviews(Tables.events(s, sfDir)),
      sources = Seq(s"$sfDir/events.parquet")),
    // enriched composes the LANDED silver tables (DLT semantics: the
    // materialized upstream, not a re-cleanse of the raw inputs)
    TableDef("silver_orders_enriched", "silver",
      Seq("silver_orders", "silver_lineitem", "silver_payments",
        "silver_reviews"),
      (_, t) => Medallion.silverOrdersEnrichedFromSilver(
        t("silver_orders"), t("silver_lineitem"),
        t("silver_payments"), t("silver_reviews"))),
    TableDef("gold_daily_orders", "gold", Seq("silver_orders_enriched"),
      (_, t) => Gold.dailyOrders(t("silver_orders_enriched"))),
    TableDef("gold_monthly_orders", "gold", Seq("silver_orders_enriched"),
      (_, t) => Gold.monthlyOrders(t("silver_orders_enriched"))),
    TableDef("scd1_current", "cdc", Nil,
      (s, _) => Cdc.scd1Current(Tables.events(s, sfDir)),
      sources = Seq(s"$sfDir/events.parquet")),
    TableDef("scd2_history", "cdc", Nil,
      (s, _) => Cdc.scd2History(Tables.events(s, sfDir)),
      sources = Seq(s"$sfDir/events.parquet")))

  /** Which gate oracle carries each DAG table's definition — the
    * manifest oracle counts over these, so the DAG run is verified by
    * the SAME SQL that already verifies each table individually.
    */
  private val oracleOf: Map[String, String] = Map(
    "silver_orders" -> Medallion.oracles("silver_orders"),
    "silver_lineitem" -> Medallion.oracles("silver_lineitem"),
    "silver_customers" -> Medallion.oracles("silver_customers"),
    "silver_payments" -> Medallion.oracles("silver_payments"),
    "silver_reviews" -> Medallion.oracles("silver_reviews"),
    "silver_orders_enriched" -> Medallion.oracles("silver_orders_enriched"),
    "gold_daily_orders" -> Gold.oracles("gold_daily_orders"),
    "gold_monthly_orders" -> Gold.oracles("gold_monthly_orders"),
    "scd1_current" -> Cdc.oracles("cdc_scd1_current"),
    "scd2_history" -> Cdc.oracles("cdc_scd2_history"))

  /** Gate entry: run the WHOLE medallion DAG landing every table to a
    * scratch lake, then read the LANDED parquet back and report the
    * run manifest (table, layer, row count) — the end-to-end
    * orchestration check (topo order, cross-table wiring, and the
    * physical landing all have to work for the counts to match). The
    * 8 counts that reach the driver are the manifest itself, not data.
    */
  def runManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lake = graft.sources.Scratch.dir("pipe_lake")
    val defs = medallion(sfDir)
    run(spark, defs, lakeDir = Some(lake))
    // manifest counts run concurrently — independent footer-metadata
    // count jobs, no reason to serialize the scheduler round-trips
    val pool = Executors.newFixedThreadPool(math.min(8, defs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val rows = try Await.result(Future.sequence(defs.map(d => Future {
        val n = spark.read.parquet(s"$lake/${d.layer}/${d.name}").count()
        (d.name, d.layer, n)
      })), Duration.Inf)
    finally pool.shutdown()
    rows.toDF("table_name", "layer", "n_rows")
  }

  val runManifestSql: String = {
    val branches = medallion("unused").map { d =>
      s"""SELECT '${d.name}' AS table_name, '${d.layer}' AS layer,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM (${oracleOf(d.name)})"""
    }.mkString("\n       UNION ALL\n       ")
    s"""SELECT * FROM (
       $branches)
       ORDER BY table_name"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_manifest" -> ((s, d) =>
      runManifest(s, d).orderBy(org.apache.spark.sql.functions.col("table_name"))))

  def oracles: Map[String, String] = Map(
    "pipeline_manifest" -> runManifestSql)
}

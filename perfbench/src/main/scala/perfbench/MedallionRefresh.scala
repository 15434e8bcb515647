package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import graft.functions.Masking
import graft.operators.Gold
import graft.plans.Pipeline

/** `medallion_refresh`: one write is a full refresh of the program's DAG
  * (five silver tables, orders_enriched, two gold KPIs, batch SCD1/SCD2,
  * all landed as parquet); one read is a dashboard set over the landed
  * tables. Operators, plans and functions do the work; the versioned
  * lake does none.
  */
final class MedallionRefresh(ctx: Ctx) extends Workload {
  import ctx.spark

  /** Inputs: the shipped sf0.01 testdata tables the DAG reads, kept in
    * the benchmark's directory (a full refresh at sf0.1 takes about 11 s
    * on 4 cores, too long for enough refreshes per run).
    */
  private val In = "perfbench/data/sf0.01"
  private val Inputs = Seq("region", "nation", "customer", "orders", "lineitem", "events")
  /** The seed picks the two regions the masked read's group may see. */
  private val regions: Set[String] = {
    val all = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val r = new java.util.SplittableRandom(ctx.seed)
    val a = r.nextInt(all.size)
    Set(all(a), all((a + 1 + r.nextInt(all.size - 1)) % all.size))
  }
  private val groups = Set("analysts") ++
    regions.map(r => "region-" + r.toLowerCase.replace(' ', '-'))
  private var inputRows: Map[String, Long] = Map.empty
  private var lake = ""
  private var inRows = 0L
  private var inBytes = 0L
  private var expected: Map[String, Map[String, Double]] = Map.empty
  private var expMa: Seq[(String, Double, Double)] = Nil
  private var expLtv: Map[String, Double] = Map.empty
  private var allowed: Set[Long] = Set.empty
  private var pii: Map[Long, Checks.RawPii] = Map.empty
  private var lastRead: (Array[org.apache.spark.sql.Row],
    Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) = null
  // per refresh: table -> build start (ms), for the critical path
  private val tableStarts = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val starts = TrieMap.empty[String, Long]
  private val landedFiles = mutable.ArrayBuffer.empty[Long]
  private var defs: Seq[Pipeline.TableDef] = Nil
  private val json = new com.fasterxml.jackson.databind.ObjectMapper

  /** One round: a refresh and two reads, about 9 s on 4 cores with their
    * checks. One round per 18 s of run length: at 15 s a run is one
    * round, which keeps a run of all three workloads within budget.
    */
  def round: Seq[String] = Seq("write:refresh", "read", "read")
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / 18.0).toInt)

  private val validOrders = """o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
      AND o_orderstatus IN ('O', 'F', 'P') AND o_orderdate IS NOT NULL"""
  private val validLines = """l_orderkey IS NOT NULL AND l_linenumber > 0
      AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL AND l_quantity > 0
      AND l_extendedprice >= 0 AND l_discount BETWEEN 0 AND 1 AND l_tax >= 0"""
  private val validPay = """event_id IS NOT NULL AND user_id IS NOT NULL
      AND value IS NOT NULL AND value >= 0
      AND event_type IN ('click', 'error', 'purchase', 'signup', 'view')"""
  private val stg = """SELECT event_id AS seq, event_type, user_id AS k, value
      FROM r_events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      AND event_type IS NOT NULL AND value IS NOT NULL"""
  private val so = s"SELECT o_orderkey AS k, o_orderdate FROM r_orders WHERE $validOrders"
  private val li = s"""SELECT l_orderkey AS k,
      l_extendedprice + l_extendedprice * l_tax AS tv FROM r_lineitem WHERE $validLines"""

  /** Per landed table: (aggregates over the raw inputs, in DuckDB's SQL,
    * written here apart from the program; the same aggregates over the
    * landed table, in Spark's).
    */
  private val fingerprints: Seq[(String, String, String)] = Seq(
    ("silver/silver_orders",
      s"""SELECT count(*) AS n_rows, count_if(o_orderstatus = 'F') AS n_fulfilled,
         sum(o_totalprice) AS sum_price,
         count_if(CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2) AS n_high
         FROM r_orders WHERE $validOrders""",
      """SELECT count(*) AS n_rows, count_if(order_status = 'fulfilled') AS n_fulfilled,
         sum(total_price) AS sum_price, count_if(is_high_priority) AS n_high FROM t"""),
    ("silver/silver_lineitem",
      s"""SELECT count(*) AS n_rows,
         sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
         sum(l_extendedprice + l_extendedprice * l_tax) AS sum_total
         FROM r_lineitem WHERE $validLines""",
      """SELECT count(*) AS n_rows, sum(charge) AS sum_charge,
         sum(total_item_value) AS sum_total FROM t"""),
    ("silver/silver_customers",
      """SELECT count(*) AS n_rows,
         count_if(r.r_name IN ('EUROPE', 'ASIA')) AS n_eu_asia,
         sum(c.c_acctbal) AS sum_acctbal, count_if(c.c_acctbal >= 5000) AS n_premium
         FROM r_customer c JOIN r_nation n ON c.c_nationkey = n.n_nationkey
         JOIN r_region r ON n.n_regionkey = r.r_regionkey
         WHERE c.c_custkey IS NOT NULL AND c.c_name IS NOT NULL
           AND length(trim(c.c_name)) > 0""",
      """SELECT count(*) AS n_rows,
         count_if(region_name IN ('EUROPE', 'ASIA')) AS n_eu_asia,
         sum(acctbal) AS sum_acctbal, count_if(acct_status = 'premium') AS n_premium
         FROM t"""),
    ("silver/silver_payments",
      s"""SELECT count(*) AS n_rows, sum(round(value, 2)) AS sum_value,
         count_if(event_type = 'purchase') AS n_revenue,
         (SELECT sum(c * (c + 1) // 2) FROM (SELECT count(*) AS c FROM r_events
           WHERE $validPay GROUP BY user_id)) AS n_seq_sum
         FROM r_events WHERE $validPay""",
      """SELECT count(*) AS n_rows, sum(payment_value) AS sum_value,
         count_if(payment_category = 'revenue') AS n_revenue,
         sum(payment_sequential) AS n_seq_sum FROM t"""),
    ("silver/silver_reviews",
      """SELECT count(*) AS n_rows, sum(event_id % 5 + 1) AS n_score,
         count_if(props IS NOT NULL AND length(trim(props)) > 0) AS n_comment
         FROM r_events WHERE event_id IS NOT NULL AND user_id IS NOT NULL""",
      """SELECT count(*) AS n_rows, sum(score) AS n_score,
         count_if(has_comment) AS n_comment FROM t"""),
    ("silver/silver_orders_enriched",
      s"""WITH so AS ($so), li AS ($li),
         pay AS (SELECT user_id AS k FROM r_events WHERE $validPay),
         rev AS (SELECT DISTINCT user_id AS k FROM r_events
           WHERE event_id IS NOT NULL AND user_id IS NOT NULL)
         SELECT (SELECT count(*) FROM so) AS n_rows,
           (SELECT count(*) FROM li JOIN so USING (k)) AS n_items,
           (SELECT sum(tv) FROM li JOIN so USING (k)) AS sum_items_total,
           (SELECT count(*) FROM pay JOIN so USING (k)) AS n_payments,
           (SELECT count(*) FROM rev JOIN so USING (k)) AS n_reviewed""",
      """SELECT count(*) AS n_rows, sum(item_count) AS n_items,
         sum(items_total_value) AS sum_items_total,
         sum(payment_count) AS n_payments,
         count_if(review_score IS NOT NULL) AS n_reviewed FROM t"""),
    ("gold/gold_daily_orders",
      s"""WITH so AS ($so), li AS ($li)
         SELECT (SELECT count(DISTINCT CAST(o_orderdate AS DATE)) FROM so) AS n_rows,
           (SELECT count(*) FROM so) AS n_orders,
           (SELECT sum(tv) FROM li JOIN so USING (k)) AS sum_revenue""",
      """SELECT count(*) AS n_rows, sum(total_orders) AS n_orders,
         sum(total_revenue) AS sum_revenue FROM t"""),
    ("gold/gold_monthly_orders",
      s"""SELECT count(DISTINCT date_trunc('month', o_orderdate)) AS n_rows,
         count(*) AS n_orders FROM r_orders WHERE $validOrders""",
      "SELECT count(*) AS n_rows, sum(total_orders) AS n_orders FROM t"),
    ("cdc/scd1_current",
      s"""WITH stg AS ($stg), last AS (SELECT k, max(seq) AS seq FROM stg GROUP BY k)
         SELECT count(*) AS n_rows, sum(s.seq) AS n_seq_sum, sum(s.value) AS sum_value
         FROM stg s JOIN last l ON s.k = l.k AND s.seq = l.seq
         WHERE s.event_type <> 'error'""",
      """SELECT count(*) AS n_rows, sum(last_sequence) AS n_seq_sum,
         sum(value) AS sum_value FROM t"""),
    ("cdc/scd2_history",
      s"""WITH stg AS ($stg), last AS (SELECT k, max(seq) AS seq FROM stg GROUP BY k)
         SELECT (SELECT count(*) FROM stg WHERE event_type <> 'error') AS n_rows,
           (SELECT sum(seq) FROM stg WHERE event_type <> 'error') AS n_start_sum,
           (SELECT count(*) FROM stg s JOIN last l ON s.k = l.k AND s.seq = l.seq
             WHERE s.event_type <> 'error') AS n_current""",
      """SELECT count(*) AS n_rows, sum(`__start_at`) AS n_start_sum,
         count_if(`__is_current`) AS n_current FROM t"""))

  def setup(): Unit = {
    lake = ctx.dir("medallion/lake")
    defs = Pipeline.medallion(In).map { d =>
      if (!ctx.tracer.enabled) d
      else d.copy(build = (s, deps) => {
        // every job this pool thread runs for the table carries its name
        s.sparkContext.setJobDescription(s"pb:${d.layer}:${d.name}")
        starts(d.name) = System.currentTimeMillis()
        ctx.tracer.span(s"plans.TableDef.build")(d.build(s, deps))
      })
    }
  }

  /** The checker's answers, from DuckDB over the raw inputs: an engine
    * apart from the program's, run once per run since the inputs are
    * fixed.
    */
  override def expect(): Unit = {
    Class.forName("org.duckdb.DuckDBDriver")
    val db = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = db.createStatement()
      Inputs.foreach(n =>
        st.execute(s"CREATE VIEW r_$n AS SELECT * FROM read_parquet('$In/$n.parquet')"))
      def rows(sql: String): Seq[IndexedSeq[AnyRef]] = {
        val rs = st.executeQuery(sql)
        val cols = rs.getMetaData.getColumnCount
        val out = mutable.ArrayBuffer.empty[IndexedSeq[AnyRef]]
        while (rs.next()) out += (1 to cols).map(rs.getObject)
        out.toSeq
      }
      def aggs(sql: String): Map[String, Double] = {
        val rs = st.executeQuery(sql)
        rs.next()
        val md = rs.getMetaData
        (1 to md.getColumnCount).map(i => md.getColumnLabel(i) -> num(rs.getObject(i))).toMap
      }
      inputRows = Inputs.map(n => n -> aggs(s"SELECT count(*) AS n FROM r_$n")("n").toLong).toMap
      inRows = inputRows.values.sum
      inBytes = Inputs.map(n => java.nio.file.Files.size(java.nio.file.Paths.get(s"$In/$n.parquet"))).sum
      expected = fingerprints.map { case (t, e, _) => t -> aggs(e) }.toMap
      expMa = movingAverage(rows(s"""WITH so AS ($so), li AS ($li),
          per AS (SELECT so.k, so.o_orderdate, coalesce(sum(li.tv), 0) AS rev
            FROM so LEFT JOIN li ON so.k = li.k GROUP BY so.k, so.o_orderdate)
          SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d, count(*) AS n,
            sum(rev) AS rev
          FROM per GROUP BY 1 ORDER BY 1""")
        .map(r => (r(0).toString, num(r(1)), num(r(2)))))
      expLtv = aggs(s"""WITH so AS (SELECT o_orderkey AS k, o_custkey
          FROM r_orders WHERE $validOrders), li AS ($li)
          SELECT (SELECT count(DISTINCT o_custkey) FROM so) AS n_rows,
            (SELECT count(*) FROM so) AS n_orders,
            (SELECT sum(tv) FROM li JOIN so USING (k)) AS sum_value""")
      val cust = rows("""SELECT c.c_custkey, trim(c.c_name), r.r_name
          FROM r_customer c JOIN r_nation n ON c.c_nationkey = n.n_nationkey
          JOIN r_region r ON n.n_regionkey = r.r_regionkey
          WHERE c.c_custkey IS NOT NULL AND c.c_name IS NOT NULL
            AND length(trim(c.c_name)) > 0""")
        .map(r => (num(r(0)).toLong, r(1).toString, r(2).toString))
      allowed = cust.filter(c => regions(c._3)).map(_._1).toSet
      pii = cust.map { case (id, name, _) =>
        val d4 = f"${id % 10000}%04d"
        id -> Checks.RawPii(name, s"c$id@example.com", s"+55 (11) 9$d4-$d4")
      }.toMap
    } finally db.close()
  }

  private def num(x: AnyRef): Double = x match {
    case null => 0.0
    case n: java.lang.Number => n.doubleValue()
    case o => o.toString.toDouble
  }

  def warmUp(): Unit = {
    untimed(Seq("write:refresh", "read"))
    tableStarts.clear(); landedFiles.clear()
  }

  private def movingAverage(days: Seq[(String, Double, Double)]) =
    days.indices.map { i =>
      val w = days.slice(math.max(0, i - 6), i + 1)
      (days(i)._1, w.map(_._2).sum / w.size, w.map(_._3).sum / w.size)
    }

  def write(sub: String): WriteInput = {
    starts.clear()
    val (_, reports) = ctx.tracer.span("plans.Pipeline.runWithReport") {
      Pipeline.runWithReport(spark, defs, lakeDir = Some(lake),
        policy = Pipeline.RunPolicy(parallelism = ctx.cores))
    }
    reports.find(_.status != "ok").foreach(r =>
      throw new IllegalStateException(s"table ${r.name}: ${r.status} ${r.error}"))
    WriteInput(inRows, inBytes)
  }

  def checkWrite(sub: String): Option[String] = {
    tableStarts += starts.toMap
    landedFiles += Util.countFiles(lake, _.toString.endsWith(".parquet"))._1
    // the ten aggregates as one query, one JSON row per table: one plan
    // and one job instead of ten
    val all = fingerprints.zipWithIndex.map { case ((t, _, a), i) =>
      spark.read.parquet(s"$lake/$t").createOrReplaceTempView(s"t$i")
      s"SELECT $i AS i, to_json(struct(*)) AS j FROM (${a.stripSuffix("FROM t")}FROM t$i)"
    }.mkString(" UNION ALL ")
    val got = spark.sql(all).collect().map(r => r.getInt(0) -> json.readTree(r.getString(1))).toMap
    fingerprints.zipWithIndex.iterator.map { case ((t, _, _), i) =>
      // to_json leaves out a null, which counts as 0 as in Util.aggs
      Checks.fingerprint(t, expected(t), expected(t).keys.map(k =>
        k -> Option(got(i).get(k)).map(_.asDouble).getOrElse(0.0)).toMap)
    }.collectFirst { case Some(e) => e }
  }

  def read(): Unit = {
    val enriched = spark.read.parquet(s"$lake/silver/silver_orders_enriched")
    val ma = ctx.tracer.span("operators.Gold.revenue7dMa") {
      Gold.revenue7dMa(enriched).collect() }
    val ltv = ctx.tracer.span("operators.Gold.customerLtv") {
      Gold.customerLtv(enriched).collect() }
    val masked = ctx.tracer.span("functions.Masking.maskedCustomers") {
      Masking.maskedCustomers(spark.read.parquet(s"$lake/silver/silver_customers"),
        groups).collect() }
    lastRead = (ma, ltv, masked)
  }

  def checkRead(): Option[String] = {
    val (ma, ltv, masked) = lastRead
    val got = ma.map(r => (r.getDate(r.fieldIndex("order_date")).toString,
      r.getDouble(r.fieldIndex("orders_7d_ma")),
      r.getDouble(r.fieldIndex("revenue_7d_ma")))).sortBy(_._1).toSeq
    val maErr =
      if (got.map(_._1) != expMa.map(_._1)) Some("revenue7dMa: days differ")
      else got.zip(expMa).collectFirst {
        case (g, e) if !Checks.near(g._2, e._2) || !Checks.near(g._3, e._3) =>
          s"revenue7dMa on ${g._1}: got $g, expected $e"
      }
    val ltvErr = Checks.fingerprint("customerLtv", expLtv, Map(
      "n_rows" -> ltv.length.toDouble,
      "n_orders" -> ltv.map(r => r.getLong(r.fieldIndex("lifetime_orders"))).sum.toDouble,
      "sum_value" -> ltv.map(r => r.getDouble(r.fieldIndex("lifetime_value"))).sum))
    val rows = masked.map(r => Checks.MaskedRow(r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3), r.getString(r.fieldIndex("region_name")))).toSeq
    maErr.orElse(ltvErr).orElse(Checks.masking(rows, allowed, regions, pii))
  }

  def tableDirs: Seq[String] = Seq(lake)

  def layerMetrics(ops: Seq[OpRec], sc: SparkCounters): Map[String, Double] = {
    val writes = ops.filter(_.kind == "write")
    val perRefresh = writes.zip(tableStarts).map { case (op, st) =>
      val js = sc.jobsIn(op.window).filter(_.desc.startsWith("pb:"))
      def layer(l: String) = Intervals.union(js.filter(_.desc.startsWith(s"pb:$l:"))
        .map(j => (j.startMs, j.endMs))).toDouble
      val end = js.groupBy(_.desc.split(":")(2)).map { case (t, xs) => t -> xs.map(_.endMs).max }
      val cp = mutable.HashMap.empty[String, Double]
      Pipeline.topoSort(defs).foreach { d =>
        val own = (end.getOrElse(d.name, 0L) - st.getOrElse(d.name, 0L)).toDouble
        cp(d.name) = math.max(0.0, own) + (d.deps.map(cp.getOrElse(_, 0.0)) :+ 0.0).max
      }
      val crit = cp.values.max
      (layer("silver"), layer("gold"), layer("cdc"), crit, op.ms - crit)
    }
    val dropped = {
      val silver = Seq("silver/silver_orders" -> "orders", "silver/silver_lineitem" -> "lineitem",
        "silver/silver_customers" -> "customer", "silver/silver_payments" -> "events",
        "silver/silver_reviews" -> "events")
      silver.map { case (t, r) => inputRows(r) - expected(t)("n_rows") }.sum
    }
    Map(
      "plans.silver_busy_ms" -> Util.median(perRefresh.map(_._1)),
      "plans.gold_busy_ms" -> Util.median(perRefresh.map(_._2)),
      "plans.cdc_busy_ms" -> Util.median(perRefresh.map(_._3)),
      "plans.critical_path_ms" -> Util.median(perRefresh.map(_._4)),
      "plans.dag_idle_ms" -> Util.median(perRefresh.map(_._5)),
      "plans.landed_files" -> Util.median(landedFiles.map(_.toDouble).toSeq),
      "operators.gold_view_ms" -> Util.perOpSpanMs(ctx.tracer,
        Set("operators.Gold.revenue7dMa", "operators.Gold.customerLtv")),
      "functions.masked_read_ms" -> Util.perOpSpanMs(ctx.tracer,
        Set("functions.Masking.maskedCustomers")),
      "operators.dq_dropped_rows" -> dropped)
  }
}

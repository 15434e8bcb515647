package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Caching, GraftSession}

/** The benchmark's JVM side: one workload, one process, one client,
  * closed loop. Prints the result as one JSON line, last on stdout.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  */
object Main {
  val Workloads = Seq("medallion_refresh", "lake_cdc", "stream_cdc")
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // n <= nproc, at most 4: one Spark core per benchmark core
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors())

  private def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "medallion_refresh" => new MedallionRefresh(ctx)
    case "lake_cdc" => new LakeCdc(ctx)
    case "stream_cdc" => new StreamCdc(ctx)
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("train")) train(args(1)) else run(args)

  /** Set up every workload once, untimed, in one JVM, so that a
    * class-data-sharing archive recorded at its exit holds the classes
    * their set-up loads, Spark's and both lake write paths among them.
    * Usage: Main train <work dir>
    */
  private def train(work: String): Unit = {
    val spark = GraftSession.local(cores)
    try Workloads.foreach { name =>
      val ctx = new Ctx(spark, 1L, s"$work/train/$name", new Tracer(false), cores, 1)
      val wl = workloadOf(name, ctx)
      try wl.setup() finally wl.teardown()
      Caching.releaseAll(spark, blocking = true)
    } finally spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, seed, s"$work/scratch", tracer, cores, seconds)
    val wl = workloadOf(workload, ctx)
    try {
      // set-up once: at 15-30 s a set-up is too long to repeat within
      // the run budget; its median over runs is what is compared
      Util.deleteTree(ctx.work)
      val t0 = System.nanoTime()
      wl.setup()
      val setupOnlyS = (System.nanoTime() - t0) / 1e9
      val e0 = System.nanoTime()
      wl.expect()
      val expectS = (System.nanoTime() - e0) / 1e9
      val w0 = System.nanoTime()
      wl.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + setupOnlyS + warmS
      val counters = new SparkCounters
      if (traced) spark.sparkContext.addSparkListener(counters)

      val schedule = (0 until wl.rounds(seconds)).flatMap(_ => wl.round)
      val ops = mutable.ArrayBuffer.empty[OpRec]
      var correct = true
      var seen = Util.files(wl.tableDirs)
      var checkNs = 0L
      val m0 = System.nanoTime()
      val errors = mutable.ArrayBuffer.empty[String]
      schedule.zipWithIndex.foreach { case (k, id) =>
        Caching.releaseAll(spark, blocking = true)
        val sub = k.stripPrefix("write:")
        val isWrite = k != "read"
        val gc0 = gcMs
        tracer.beginOp(id)
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res = try Right(if (isWrite) wl.write(sub) else { wl.read(); WriteInput(0, 0) })
          catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        val w1 = System.currentTimeMillis()
        tracer.endOp(s"op.$k")
        val gc = gcMs - gc0
        val (failed, in) = res match {
          case Left(e) =>
            errors += s"op $id $k failed: $e"
            System.err.println(s"[perfbench] op $id $k failed: $e")
            (true, WriteInput(0, 0))
          case Right(in) =>
            val c0 = System.nanoTime()
            val bad = try (if (isWrite) wl.checkWrite(sub) else wl.checkRead())
              catch { case NonFatal(e) => Some(s"check threw $e") }
            checkNs += System.nanoTime() - c0
            // a wrong result fails its operation: it is counted in
            // `failed` and left out of the medians, like an exception
            bad.foreach { e =>
              correct = false
              errors += s"op $id $k: $e"
              System.err.println(s"[perfbench] op $id $k WRONG: $e")
            }
            (bad.nonEmpty, in)
        }
        val (added, addedFiles) = if (!isWrite) (0L, 0L) else {
          val now = Util.files(wl.tableDirs)
          val fresh = now.keySet -- seen.keySet
          seen = now
          (fresh.toSeq.map(now).sum, fresh.size.toLong)
        }
        ops += OpRec(id, if (isWrite) "write" else "read", sub,
          OpWindow(id, k, w0, w1), ms, in.rows, in.bytes, added, addedFiles, gc, failed)
      }
      Caching.releaseAll(spark, blocking = true)
      val measuredS = (System.nanoTime() - m0) / 1e9

      val done = ops.filter(!_.failed).toSeq
      val writes = done.filter(_.kind == "write")
      val reads = done.filter(_.kind == "read")
      val stored = Util.files(wl.tableDirs).values.sum
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      def e2e(): Unit = {
        val inBytes = writes.map(_.inBytes).sum.toDouble
        metrics("setup_s") = (setupS, "s")
        metrics("write_p50_ms") = (Util.median(writes.map(_.ms)), "ms")
        metrics("read_p50_ms") = (Util.median(reads.map(_.ms)), "ms")
        metrics("rows_per_s") = (writes.map(_.rows).sum / (writes.map(_.ms).sum / 1000.0), "rows/s")
        metrics("write_amp") = (writes.map(_.bytesAdded).sum / inBytes, "ratio")
        metrics("stored_mb") = (stored / 1e6, "MB")
      }
      val layer: Map[String, Double] = if (!traced) Map.empty else {
        counters.drain()
        sparkMetrics(done, counters) ++ wl.layerMetrics(done, counters)
      }
      wl.teardown()
      // heap after a full collection, at run end: the lesser of two,
      // since Spark's context cleaner frees what a collection uncovers
      // asynchronously
      val heapMb = (1 to 2).map { _ =>
        System.gc(); Thread.sleep(100)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }.min
      if (!traced) { e2e(); metrics("heap_mb") = (heapMb, "MB") }
      else {
        Layers.All.foreach { case (n, u) => metrics(n) = (layer.getOrElse(n, 0.0), u) }
        metrics("trace.write_p50_ms") = (Util.median(writes.map(_.ms)), "ms")
        metrics("trace.read_p50_ms") = (Util.median(reads.map(_.ms)), "ms")
      }

      writeDetail(work, workload, seed, traced, setupOnlyS, sessionS, expectS, warmS,
        measuredS, checkNs / 1e9, ops.toSeq,
        errors.toSeq, tracer)
      val m = metrics.map { case (n, (v, u)) =>
        val x = if (v.isNaN || v.isInfinite) 0.0 else v
        s""""$n": {"value": $x, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": ${ops.size}, """ +
        s""""failed": ${ops.count(_.failed)}, "metrics": {$m}}""")
    } finally {
      wl.teardown()
      spark.stop()
    }
  }

  /** Spark counters per operation type, as medians over operations. */
  private def sparkMetrics(ops: Seq[OpRec], sc: SparkCounters): Map[String, Double] = {
    def per(kind: String) = ops.filter(_.kind == kind).map { o =>
      val js = sc.jobsIn(o.window)
      (js.size.toDouble, sc.agg(js), sc.driverMs(o.window), o)
    }
    val w = per("write"); val r = per("read")
    def med(xs: Seq[Double]) = Util.median(xs)
    Map(
      "spark.write_jobs" -> med(w.map(_._1)),
      "spark.write_tasks" -> med(w.map(_._2.tasks.toDouble)),
      "spark.write_driver_ms" -> med(w.map(_._3)),
      "spark.write_cpu_ms" -> med(w.map(_._2.cpuNs / 1e6)),
      "spark.write_shuffle_bytes" -> med(w.map(_._2.shuffleBytes.toDouble)),
      "spark.write_output_bytes" -> med(w.map(_._2.outputBytes.toDouble)),
      "spark.read_jobs" -> med(r.map(_._1)),
      "spark.read_tasks" -> med(r.map(_._2.tasks.toDouble)),
      "spark.read_driver_ms" -> med(r.map(_._3)),
      "spark.read_cpu_ms" -> med(r.map(_._2.cpuNs / 1e6)),
      "spark.read_input_bytes" -> med(r.map(_._2.inputBytes.toDouble)),
      "spark.gc_ms" -> med(ops.map(_.gcMs.toDouble)),
      "spark.spill_bytes" -> (w ++ r).map(_._2.spillBytes.toDouble).sum)
  }

  /** Per-run detail beside the one-line result: samples per operation
    * type, tails where a type has 40 or more samples, set-up repetitions,
    * errors, and in traced runs the span summary (self time) and spans.
    */
  private def writeDetail(work: String, workload: String, seed: Long,
      traced: Boolean, setupOnlyS: Double, sessionS: Double, expectS: Double, warmS: Double,
      measuredS: Double, checkS: Double, ops: Seq[OpRec],
      errors: Seq[String], tracer: Tracer): Unit = {
    val out = Paths.get(work, "out")
    Files.createDirectories(out)
    val types = ops.groupBy(o => s"${o.kind}:${o.sub}").toSeq.sortBy(_._1).map { case (t, os) =>
      val ms = os.filter(!_.failed).map(_.ms).sorted
      val tail = if (ms.size >= 40) {
        val p = ms((ms.size * 0.9).toInt min (ms.size - 1)); s""", "p90_ms": $p"""
      } else ""
      s""""$t": {"samples": ${ms.size}, "p50_ms": ${Util.median(ms)}$tail, """ +
        s""""ms": [${ms.mkString(", ")}]}"""
    }.mkString(",\n    ")
    val spans = tracer.summary.map { case (n, c, tot, self) =>
      s""""$n": {"calls": $c, "total_ms": $tot, "self_ms": $self}""" }.mkString(",\n    ")
    val esc = (s: String) => s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      s"""{"workload": "$workload", "seed": $seed, "traced": $traced,
         |  "session_s": $sessionS, "inputs_and_load_s": $setupOnlyS,
         |  "expect_s": $expectS, "warm_up_s": $warmS, "measured_s": $measuredS, "checks_s": $checkS,
         |  "op_types": {
         |    $types},
         |  "span_summary": {
         |    $spans},
         |  "errors": [${errors.map(e => "\"" + esc(e) + "\"").mkString(", ")}]}
         |""".stripMargin
    Files.writeString(out.resolve(s"detail-$workload-trace${if (traced) 1 else 0}.json"), json)
    if (traced) Files.writeString(out.resolve(s"spans-$workload.json"), tracer.spansJson)
  }
}

/** Per-layer metrics of a traced run, with units. A workload reports 0
  * for a layer it does not exercise.
  */
object Layers {
  val Spark: Seq[(String, String)] = Seq(
    "spark.write_jobs" -> "count", "spark.write_tasks" -> "count",
    "spark.write_driver_ms" -> "ms", "spark.write_cpu_ms" -> "ms",
    "spark.write_shuffle_bytes" -> "bytes", "spark.write_output_bytes" -> "bytes",
    "spark.read_jobs" -> "count", "spark.read_tasks" -> "count",
    "spark.read_driver_ms" -> "ms", "spark.read_cpu_ms" -> "ms",
    "spark.read_input_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "bytes")
  val Medallion: Seq[(String, String)] = Seq(
    "plans.silver_busy_ms" -> "ms", "plans.gold_busy_ms" -> "ms",
    "plans.cdc_busy_ms" -> "ms", "plans.critical_path_ms" -> "ms",
    "plans.dag_idle_ms" -> "ms", "plans.landed_files" -> "count",
    "operators.gold_view_ms" -> "ms", "functions.masked_read_ms" -> "ms")
  val Lake: Seq[(String, String)] = Seq(
    "lake.upsert_ms" -> "ms", "lake.dv_upsert_ms" -> "ms",
    "lake.maintenance_ms" -> "ms", "lake.write_growth" -> "ratio",
    "lake.cas_rounds" -> "count",
    "lake.files_added_per_write" -> "count", "lake.bytes_added_per_write" -> "bytes",
    "lake.log_files" -> "count", "lake.log_bytes" -> "bytes",
    "lake.point_lookup_ms" -> "ms", "lake.sql_agg_ms" -> "ms",
    "lake.time_travel_ms" -> "ms", "lake.live_files" -> "count",
    "lake.files_scanned_per_read" -> "count")
  val Streaming: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.pickup_ms" -> "ms",
    "streaming.scd1_add_batch_ms" -> "ms", "streaming.scd2_add_batch_ms" -> "ms",
    "streaming.scd2_files" -> "count", "streaming.history_rows" -> "count")
  val Common: Seq[(String, String)] = Seq(
    "operators.dq_dropped_rows" -> "count",
    "trace.write_p50_ms" -> "ms", "trace.read_p50_ms" -> "ms")

  /** Every workload reports the whole set BENCHMARK.json lists. */
  val All: Seq[(String, String)] = Spark ++ Medallion ++ Lake ++ Streaming ++ Common
}

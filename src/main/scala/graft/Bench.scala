package graft
import java.nio.file.{Files, Paths}

/** Benchmark main, built to be auditable round-over-round:
  *
  *  - queries run in **sorted name order** (a Scala Map's iteration
  *    order reshuffles whenever the registry grows, which previously
  *    made per-query numbers incomparable between rounds);
  *  - each query is timed `SPARK_GRAFT_BENCH_RUNS` times (default 2)
  *    and reports the **min** — the steadiest estimator under VM clock
  *    drift and JIT warm-up noise;
  *  - cache/checkpoint release between timed runs is **blocking**, so
  *    one query's asynchronous block-manager cleanup cannot bleed into
  *    the next query's measured region;
  *  - the run order is emitted in the JSON (`"order"`) so any residual
  *    ordering effect is visible to the reader.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Idle-protocol stamp: 1-min loadavg BEFORE any Spark work. The
    // end-of-run `load` sample reads the bench's own draining
    // 32-thread work (r16's otherwise-idle board run stamped 3.29 at
    // exit after a 0.07 launch), so only this one certifies launch
    // conditions.
    val launchLoad = try Files.readString(Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble catch { case _: Throwable => -1.0 }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = GraftSession.local(cpus)
    graft.sources.Scratch.sweep() // reclaim stale sink-demo dirs

    def release(): Unit = {
      spark.catalog.clearCache()
      Caching.releaseAll(spark, blocking = true)
    }

    // Warm the JVM/codegen paths once so timings reflect steady state —
    // against the benchmark's own data dir, and loudly if it fails (a
    // silently-skipped warm-up skews the first timed query). Two
    // warm-ups: scan/agg paths (q1) and the set-similarity paths (fnv +
    // long-array intersect codegen shared by the dedup family, which
    // otherwise pay JIT inside their timed run).
    Seq("q1_pricing_summary", "dedup_ngram_jaccard").foreach { w =>
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $w failed (timings may be skewed): $e") }
    }
    release()

    // Optional local-iteration filter (driver sets nothing → full run)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // benchQueries = queries minus in-gate exact-baseline honesty
    // assertions (Verify still runs them); key sets are spec-pinned equal
    val order = SparkEntry.benchQueries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = order.map { name =>
      val fn = SparkEntry.benchQueries(name)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // a failed run must NOT be reported as a (fast) success: -1 marks it
        val elapsed =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
        release() // outside the timed region; blocking, so fully settled
        elapsed
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ord = order.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Record machine load beside the timings: r5's committed idle run
    // and the driver's under-verify-load rerun differed 10-40% on
    // IO-heavy queries, and without a load field every round-over-round
    // read needs forensics. 1-minute loadavg, sampled at exit.
    val load = try Files.readString(Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
    // Testdata-layout stamp: the driver regenerates the testdata and
    // layout shifts (row-group collapse, file splits) move sub-second
    // pins with zero code change — carry the footer fingerprint so a
    // regeneration is visible in the artifact diff itself.
    val layout = Layout.json(spark, sfDir)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"order":$ord,"sf":"$sfDir","launch_load":$launchLoad,"load":$load,"layout":$layout}"""
    println(json)
    // Persist the artifact too: the driver's stdout tail-capture has
    // truncated the JSON two rounds running, so per-query history only
    // survives if the repo itself carries it. Committed each round;
    // the idle-box run additionally lands as BENCH_IDLE_r<N>.json (set
    // SPARK_GRAFT_BENCH_OUT), a name the driver never overwrites.
    // round-neutral default (the literal r10 name shipped stale for a
    // round); the idle-box protocol overrides via SPARK_GRAFT_BENCH_OUT
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try Files.write(Paths.get(outFile), (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
  }
}

package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Per-JOB timeline for one registered query — the measurement tool
  * behind the r16 optimization round (guide §1: measure first). For a
  * multi-commit gate (the lake/pipeline families) a stage-level view is
  * useless; what matters is how many Spark JOBS the gate launches, how
  * long each runs, and how much wall-clock falls in DRIVER GAPS between
  * jobs (manifest IO, commit renames, planning). Prints one line per
  * job (start offset, duration, description) plus a gap summary.
  *
  * Usage: runMain graft.ProfileJobs <query>[,query...] [sfDir] [runs]
  */
object ProfileJobs {

  final case class JobRec(id: Int, start: Long, var end: Long,
      desc: String)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    graft.sources.Scratch.sweep()

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val byId = mutable.HashMap.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          // prefer the first graft.* frame of any stage's callsite —
          // Spark SQL actions all surface as withThreadLocalCaptured
          // lambdas, which says nothing about WHICH operator ran
          val graftFrame = e.stageInfos.iterator
            .flatMap(_.details.linesIterator)
            .map(_.trim)
            .find(l => l.startsWith("graft.") &&
              !l.startsWith("graft.ProfileJobs"))
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(graftFrame.map(f =>
              f + " [" + e.stageInfos.map(_.numTasks).sum + " tasks]"))
            .orElse(e.stageInfos.lastOption.map(s =>
              s.name + " [" + e.stageInfos.map(_.numTasks).sum + " tasks]"))
            .getOrElse("")
          val r = JobRec(e.jobId, e.time, -1L, d)
          jobs += r; byId(e.jobId) = r
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          byId.get(e.jobId).foreach(_.end = e.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm codegen/scan paths once so the profile reflects steady state
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"warm-up failed: $e") }
    spark.catalog.clearCache()
    Caching.releaseAll(spark, blocking = true)

    names.foreach { name =>
      val fn = SparkEntry.benchQueries(name)
      (1 to runs).foreach { r =>
        jobs.synchronized { jobs.clear(); byId.clear() }
        val t0 = System.currentTimeMillis()
        fn(spark, sfDir).count()
        val t1 = System.currentTimeMillis()
        val snap = jobs.synchronized { jobs.toVector }
        println(f"%n=== $name run $r: total ${(t1 - t0) / 1e3}%.2fs, " +
          s"${snap.size} jobs ===")
        var cursor = t0
        var gapTotal = 0L
        snap.sortBy(_.start).foreach { j =>
          val gap = j.start - cursor
          if (gap > 30)
            println(f"      [driver gap ${gap / 1e3}%6.2fs]")
          gapTotal += math.max(0L, gap)
          val dur = (if (j.end > 0) j.end else t1) - j.start
          println(f"  job ${j.id}%4d +${(j.start - t0) / 1e3}%7.2fs " +
            f"${dur / 1e3}%6.2fs  ${j.desc.take(90)}")
          cursor = math.max(cursor, if (j.end > 0) j.end else t1)
        }
        val tail = t1 - cursor
        gapTotal += math.max(0L, tail)
        println(f"  driver gaps total ${gapTotal / 1e3}%.2fs of " +
          f"${(t1 - t0) / 1e3}%.2fs")
        spark.catalog.clearCache()
        Caching.releaseAll(spark, blocking = true)
      }
    }
    spark.stop()
  }
}

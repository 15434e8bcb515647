package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** What a workload sees of the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer, val cores: Int,
    val seconds: Int) {
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Timed operation result. */
final case class WriteInput(rows: Long, bytes: Long)

/** One record per timed operation. */
final case class OpRec(id: Int, kind: String, sub: String, window: OpWindow,
    ms: Double, rows: Long, inBytes: Long, bytesAdded: Long, filesAdded: Long,
    gcMs: Long,
    failed: Boolean)

/** A workload: a fixed round of writes and reads, repeated. Writes and
  * reads are timed by the harness; checks run after each, untimed.
  */
trait Workload {
  /** Inputs and initial load, from empty scratch directories. */
  def setup(): Unit
  /** The checker's expected answers, computed apart from the program.
    * Not part of set-up time: it is the benchmark's cost, not the
    * program's.
    */
  def expect(): Unit = ()
  /** Untimed operations after set-up, before the first timed one. */
  def warmUp(): Unit

  /** Run operations untimed, each checked; a wrong result stops the run. */
  protected def untimed(ops: Seq[String]): Unit = ops.foreach { k =>
    val err = if (k == "read") { read(); checkRead() }
      else { val s = k.stripPrefix("write:"); write(s); checkWrite(s) }
    err.foreach(e => throw new IllegalStateException(s"warm-up $k: $e"))
  }
  /** Stop what setup started (streaming queries). */
  def teardown(): Unit = ()
  /** Operation kinds of one round, in order: `read` or `write:<sub>`. */
  def round: Seq[String]
  /** Rounds per run for a run of `seconds`: fixed by the run length
    * alone, never by speed, so counts and sizes repeat.
    */
  def rounds(seconds: Int): Int
  def write(sub: String): WriteInput
  def checkWrite(sub: String): Option[String]
  def read(): Unit
  def checkRead(): Option[String]
  /** Directories that hold the workload's tables. */
  def tableDirs: Seq[String]
  /** Per-layer metrics of a traced run. */
  def layerMetrics(ops: Seq[OpRec], sc: SparkCounters): Map[String, Double]
}

object Util {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Regular files under `dirs`, keyed by inode identity, so hard links
    * count once: ((dev, ino, mtime), size).
    */
  def files(dirs: Seq[String]): Map[(Any, Any, Long), Long] = {
    val out = mutable.HashMap.empty[(Any, Any, Long), Long]
    dirs.map(Paths.get(_)).filter(Files.exists(_)).foreach { d =>
      val w = Files.walk(d)
      try w.iterator().asScala.foreach { p =>
        val a = try Some(Files.readAttributes(p, "unix:dev,ino,lastModifiedTime,size,isRegularFile"))
          catch { case _: java.io.IOException => None } // vanished mid-walk
        a.filter(_.get("isRegularFile").asInstanceOf[Boolean]).foreach { m =>
          out((m.get("dev"), m.get("ino"),
            m.get("lastModifiedTime").asInstanceOf[java.nio.file.attribute.FileTime]
              .to(java.util.concurrent.TimeUnit.NANOSECONDS))) =
            m.get("size").asInstanceOf[Long]
        }
      } finally w.close()
    }
    out.toMap
  }

  def countFiles(dir: String, pred: Path => Boolean): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L) else {
      val w = Files.walk(p)
      try {
        val fs = w.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f)).toList
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally w.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally w.close()
    }
  }

  def dbl(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.get(i) match {
      case n: java.lang.Number => n.doubleValue()
      case x => x.toString.toDouble
    }

  /** A one-row SQL result as name -> value. */
  def aggs(spark: SparkSession, sql: String): Map[String, Double] = {
    val df = spark.sql(sql)
    val r = df.collect().head
    df.columns.indices.map(i => df.columns(i) -> dbl(r, i)).toMap
  }

  def spanMs(t: Tracer, name: String): Seq[Double] =
    t.all.filter(_.name == name).map(_.ms)

  /** Per-op sum of span durations of `names`, median over ops. */
  def perOpSpanMs(t: Tracer, names: Set[String]): Double =
    median(t.all.filter(s => names(s.name)).groupBy(_.op).values
      .map(_.map(_.ms).sum).toSeq)
}

package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    graft.sources.Scratch.sweep() // reclaim stale sink-demo dirs
    // Optional local-iteration filter: GRAFT_VERIFY_ONLY=q1,q2 runs a
    // subset (driver sets nothing → full run).
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      dump(spark, name, fn(spark, sfDir), outDir)
      spark.catalog.clearCache() // per-query isolation
      Caching.releaseAll(spark) // incl. localCheckpoint block storage
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write one query's result to `outDir/name` as a single parquet file.
    *
    * A thrown query (while building or while writing `result`) must land
    * on the board as a RED row, never as absence (r11:
    * stream_dq_monitor threw, wrote no parquet, and silently VANISHED
    * from CORRECTNESS_r11.json). Two markers: a ZERO-row parquet whose
    * (_graft_error) schema can never match any oracle — zero rows also
    * fails the weaker rows-only check, so the marker can never
    * masquerade as a pass — and a plain-text stack under
    * `outDir/_errors/name.txt` for forensics.
    */
  def dump(spark: SparkSession, name: String, result: => DataFrame,
      outDir: String): Unit =
    try result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        import spark.implicits._
        Seq.empty[String]
          .toDF("_graft_error").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        Files.createDirectories(Paths.get(s"$outDir/_errors"))
        Files.writeString(Paths.get(s"$outDir/_errors/$name.txt"),
          sw.toString)
      } catch { case m: Throwable =>
        System.err.println(s"[verify] $name marker write failed: $m")
      }
    }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name subset (local
    // iteration aid; the driver always runs the full suite)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.expr.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // static conf; see Bench.scala — 291 plans vs the 100-entry
      // default codegen cache (results are unaffected either way)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST: if the process is killed mid-suite (driver
    // timeout), the compare still sees every finished query instead of
    // zeroing the whole round (CORRECTNESS_r07 was {} for exactly this
    // class of failure while the suite itself was 202/202 green)
    writeOracleJson(outDir, only)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a query must leave java.io.tmpdir as it found it, once its result
      // is written; JVM-lifetime caches are not leaks (TempDirs.entries)
      val before = graft.runtime.TempDirs.entries()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val leaked = graft.runtime.TempDirs.entries() -- before
      if (leaked.nonEmpty)
        System.err.println(
          s"[verify] tmp-leak $name: ${leaked.toSeq.sorted.mkString(" ")}")
    }
    spark.stop()
    // Explicit success: a lingering non-daemon thread or a native-lib
    // shutdown-hook crash must not turn a fully-written dump into a
    // nonzero exit the driver reads as total failure.
    sys.exit(0)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeOracleJson(outDir: String, only: Option[Set[String]]): Unit = {
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

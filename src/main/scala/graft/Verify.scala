package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // `--list [outFile]`: print the registered query names (the FULL
    // registry, one per line) without starting Spark — tools that
    // complement a skip list (tools/scalesweep.sh) resolve names from
    // this instead of oracle keys, so rows-only queries (registered
    // but oracle-less) can never be silently dropped from a sweep
    if (args.headOption.contains("--list")) {
      val names = SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n")
      args.lift(1) match {
        case Some(f) => Files.writeString(Paths.get(f), names)
        case None    => print(names)
      }
      return
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated query
    // names — the driver always runs the full set
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = GraftSession.get()
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Dump every query + the oracle json using the given session (does
    * NOT stop it — main owns the session lifecycle). Returns the
    * per-query failures (empty on a clean run) so callers — the
    * contract spec above all — can report the actual exception
    * instead of just a missing directory. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]] = None): Map[String, Throwable] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, Throwable]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = e
      }
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
    // the FULL registry (not only-filtered): check.py validates
    // --only/--skip names against this, so a stale dump dir from a
    // renamed query in a reused outdir can no longer satisfy the
    // typo guard, while rows-only registered queries stay filterable
    Files.writeString(Paths.get(s"$outDir/registered_queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    failures.toMap
  }
}

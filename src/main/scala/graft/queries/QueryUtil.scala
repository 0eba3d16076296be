package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the verified query set. Conventions that make
  * Spark results hash-identical to the DuckDB oracle:
  *   - money/quantity and other float-derived metrics quantized
  *     per-row via fp() to bigints (never float sums),
  *   - timestamps surfaced as epoch millis or DATE (never raw ns),
  *   - md5 as the only cross-engine hash,
  *   - every ranking has a deterministic tiebreak.
  */
object QueryUtil {
  type Q = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** floor(x*10^scale + 0.5) as long — engine-exact fixed point. */
  def fp(x: Column, scale: Int): Column = graft.text.TextAnalysis.fp(x, scale)

  // ---- oracle SQL (DuckDB text only: never derived from the Spark side)

  /** floor(x*10^s+0.5)::BIGINT — matches [[fp]]. */
  def sqlFp(e: String, scale: Int): String =
    s"CAST(floor(($e)*1e$scale+0.5) AS BIGINT)"

  /** Value 0..15 of the hex digit at 1-based position `pos` of `hex`. */
  def hexDigit(hex: String, pos: String): String =
    s"strpos('0123456789abcdef', substr($hex, $pos, 1)) - 1"

  /** First `nibbles` digits of the hex string `hex` as a BIGINT, folded
    * most significant first — matches conv(substring(hex, 1, n), 16, 10).
    * `i`/`a`/`v` name the lambda variables: `hex` is evaluated inside
    * the lambda, so a caller whose `hex` reads a column of one of
    * those names passes others. */
  def hexFold(hex: String, nibbles: Int, i: String = "i", a: String = "a", v: String = "v"): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, ${nibbles + 1}), " +
      s"$i -> CAST(${hexDigit(hex, s"CAST($i AS INT)")} AS BIGINT))), ($a, $v) -> $a*16 + $v)"

  /** [[hexFold]] over md5(`e`): the portable md5-prefix integer every
    * md5-derived sample, sketch and coordinate is built from. */
  def md5Fold(e: String, nibbles: Int, i: String = "i", a: String = "a", v: String = "v"): String =
    hexFold(s"md5($e)", nibbles, i, a, v)

  /** Epoch milliseconds from a (ntz) timestamp, UTC session. */
  def epochMs(ts: Column): Column = unix_millis(ts.cast("timestamp"))

  /** Fixed per-name scratch directory under java.io.tmpdir, emptied
    * and recreated on every call. Queries that materialize a file
    * layout in-flight (partitioned/sharded writes that a lazy read
    * then consumes) use this instead of a fresh createTempDirectory:
    * repeated Verify/Bench sweeps in one long-lived JVM would
    * otherwise accumulate one parquet dir per run on disk plus an
    * ever-growing JVM deleteOnExit list. Leftover state is bounded
    * at one dir per query name. Queries run sequentially in Verify/
    * Bench, so the fixed path is single-writer by construction.
    */
  def scratchDir(name: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_scratch", name)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** Epoch milliseconds from the events `ts` column under WHATEVER
    * physical type the driver materialized it as (the testdata
    * regenerates between rounds): TIMESTAMP / TIMESTAMP_NTZ (parquet
    * timestamp[ms|us]) → unix_millis under the UTC session; LONG
    * (nanos surfaced by spark.sql.legacy.parquet.nanosAsLong for
    * timestamp[ns] parquet) → true FLOOR division to ms — subtract
    * the non-negative pmod remainder first, because bare `DIV`
    * truncates toward zero and would diverge from DuckDB's
    * epoch_ms() for pre-1970 (negative) timestamps. */
  def tsMs(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"($tsCol - pmod($tsCol, 1000000)) DIV 1000000")
      case _ => epochMs(col(tsCol))
    }
}

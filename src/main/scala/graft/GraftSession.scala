package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory — the one config every main (Verify, Bench, the
  * changegen CLI, SqlRunner, ExplainAudit) runs under.
  *
  * Shuffle partition count should track cluster cores (AQE, on by
  * default in Spark 4, coalesces down and splits skewed joins at
  * runtime).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .withExtensions(graft.functions.GraftFunctions.register)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Local session on `SPARK_GRAFT_CPUS` cores (default: all of them),
    * with as many shuffle partitions. */
  def get(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the driver-generated star schema. One parquet file per
  * table; at cluster scale these would be partitioned/bucketed paths —
  * the reader API is identical. A `jdbc:` URL in place of the
  * directory reads the SAME tables off a live database (the
  * reference's actual input — PostGIS via OGR, changegen/db.py:28-101
  * and __main__.py:164-169), partition-ranged so each executor pulls
  * its own id slice.
  */
object Tables {
  /** Ranged-read partition keys for the star schema over JDBC. Tables
    * not listed here read unpartitioned (dimension-sized). */
  private val jdbcKeys = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (dir.startsWith("jdbc:")) jdbcTable(spark, dir, name)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Partition-ranged JDBC read: one MIN/MAX probe over a plain
    * connection sizes the id range, then `numPartitions` range slices
    * scan in parallel — never a single connection for a big table.
    * Identifier folding: the probe leaves the TABLE name unquoted
    * (both Derby and Postgres fold it to their stored case) and
    * QUOTES the key column (Spark's JDBC writer creates columns
    * quoted, so their case is preserved verbatim) — the combination
    * that resolves on both engines. */
  def jdbcTable(spark: SparkSession, url: String, table: String,
                numPartitions: Int = 8): DataFrame = {
    val props = new java.util.Properties
    jdbcKeys.get(table.toLowerCase) match {
      case Some(k) =>
        val conn = java.sql.DriverManager.getConnection(url)
        val bounds =
          try {
            val st = conn.createStatement()
            try {
              val rs = st.executeQuery(s"""SELECT MIN("$k"), MAX("$k") FROM $table""")
              try {
                rs.next()
                val lo = rs.getLong(1)
                if (rs.wasNull()) None else Some((lo, rs.getLong(2)))
              } finally rs.close()
            } finally st.close()
          } finally conn.close()
        bounds match {
          case Some((lo, hi)) =>
            spark.read.jdbc(url, table, k, lo, hi + 1, numPartitions, props)
          case None => spark.read.jdbc(url, table, props) // empty table
        }
      case None => spark.read.jdbc(url, table, props)
    }
  }
}

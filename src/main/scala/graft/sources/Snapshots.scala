package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot table IO — the Spark analog of the reference's two inputs
  * (PostGIS tables via OGR, changegen/db.py:28-101, and the .osm.pbf
  * extract) plus scale-ready write layouts.
  *
  * Reads stay declarative so Catalyst pushes filters and prunes
  * columns into the scan; the helpers only shape HOW data is laid
  * out, never materialize driver-side.
  */
object Snapshots {

  /** Columnar snapshot read with optional projection/predicate —
    * both reach the parquet scan (PushedFilters / ReadSchema).
    */
  def read(
      spark: SparkSession,
      path: String,
      columns: Seq[String] = Nil,
      predicate: Option[String] = None): DataFrame = {
    val df = spark.read.parquet(path)
    val filtered = predicate.map(df.filter).getOrElse(df)
    if (columns.isEmpty) filtered else filtered.select(columns.map(col): _*)
  }

  /** JDBC snapshot source (the PostGIS path at deployment): predicate
    * pushdown via `dbtable` subquery, read parallelized over
    * `numPartitions` ranges of `partitionColumn` — never a single
    * connection for a big table. Config-only here (no DB in the test
    * environment); the verified operators are input-agnostic.
    */
  def jdbcReader(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int): DataFrameReader =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)

  /** PostGIS geometry columns OFF the JDBC wire: a real deployment's
    * snapshot tables carry `wkb_geometry` (db.py:28-101 reads them
    * through OGR) and the JDBC driver delivers them as raw WKB bytes
    * or hex-EWKB text. This rewrites those columns IN PLACE to the
    * `array<struct<x,y>>` vertex layout every graft spatial operator
    * speaks (`rings = true` → the ring-indexed
    * `array<struct<ring,x,y>>` layout for holed-polygon flows, e.g.
    * `ChangegenPipeline.build(polyWkb=...)`) — the last inch between
    * a live PostGIS connection and the operators. Purely columnar
    * (codegen'd expressions, no UDF), so it composes with the
    * partitioned read: each JDBC range partition decodes its own rows,
    * nothing funnels through the driver. Malformed cells decode to
    * NULL (drop-row contract), one corrupt geometry never fails the
    * scan. */
  def decodeGeometry(df: DataFrame, geomCols: Seq[String], rings: Boolean = false): DataFrame = {
    val fn = if (rings) "graft_geom_rings" else "graft_geom_from_wkb"
    geomCols.foldLeft(df)((d, c) => d.withColumn(c, call_function(fn, col(c))))
  }

  /** The PostGIS ingestion adapter in one call — the reference's live
    * database input (changegen/db.py:28-101: OGR connection → layer
    * features with geometry + hstore tags) re-expressed as a Spark
    * source: `spark.read.jdbc` over `partitionColumn` ranges (each
    * executor pulls its own slice — never one connection for a big
    * table), geometry columns decoded IN the range partition that
    * read them ([[decodeGeometry]] → `array<struct<x,y>>`, or the
    * ring-indexed layout with `rings = true`), and hstore text
    * columns parsed to maps ([[graft.operators.TagOps.hstoreToMap]],
    * db.py:7-25 semantics). Everything downstream of the JDBC fetch
    * is codegen'd column math — no driver funnel, no UDF.
    *
    * The result is directly the frame `ChangegenPipeline.build`
    * consumes: pass `decodeGeom = false` to keep the wire-form WKB
    * for the `polyWkb` seam (its ring decode is internal), or the
    * default decoded layout for the point/line operators.
    *
    * Proven against embedded Derby (SourcesSpec: WKB + hstore
    * round-trip, exactly-once partition ranges) — against a real
    * PostGIS deployment only the URL and driver properties change.
    */
  def postgisTable(
      spark: SparkSession,
      url: String,
      table: String,
      geomCols: Seq[String] = Seq("wkb_geometry"),
      hstoreCols: Seq[String] = Seq("tags"),
      decodeGeom: Boolean = true,
      rings: Boolean = false,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0L,
      upperBound: Long = 0L,
      numPartitions: Int = 1,
      connProps: Map[String, String] = Map.empty): DataFrame = {
    val base = partitionColumn match {
      case Some(pc) => jdbcReader(spark, url, table, pc, lowerBound, upperBound, numPartitions)
      case None => spark.read.format("jdbc").option("url", url).option("dbtable", table)
    }
    val raw = connProps.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
    val geomDecoded = if (decodeGeom) decodeGeometry(raw, geomCols, rings) else raw
    hstoreCols.foldLeft(geomDecoded)((d, c) =>
      d.withColumn(c, graft.operators.TagOps.hstoreToMap(col(c))))
  }

  /** Write a snapshot bucketed on the join key: co-located,
    * shuffle-free equi-joins between tables bucketed the same way
    * (the layout for repeated diff/join workloads at 100 TB).
    * Bucketed tables require the table catalog (saveAsTable).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet").bucketBy(buckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }
}

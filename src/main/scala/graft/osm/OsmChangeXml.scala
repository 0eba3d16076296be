package graft.osm

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OsmChange (.osc) document sink — Spark re-expression of the
  * reference's streaming XML writer (changegen/changewriter.py:92-191:
  * OSMChangeWriter with <create>/<modify>/<delete> sections and a
  * gzip option).
  *
  * Element→XML conversion is a pure column expression (codegen'd,
  * distributed); only the final single-file assembly is a sequential
  * concatenation of the already-rendered part files — O(bytes) driver
  * IO with constant memory, the same shape as any single-file export
  * from a cluster (cf. Hadoop copyMerge).
  */
object OsmChangeXml {

  /** XML-escape an attribute value (quot/amp/lt/gt — what the
    * reference's lxml does for attributes). */
  def xmlEscape(c: Column): Column = {
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    val gt = regexp_replace(lt, ">", "&gt;")
    regexp_replace(gt, "\"", "&quot;")
  }

  /** `<tag k="…" v="…"/>` run from a map column, keys sorted. */
  def tagsXml(tags: Column): Column =
    concat_ws("", transform(
      array_sort(map_entries(tags)),
      e => concat(
        lit("<tag k=\""), xmlEscape(e.getField("key")),
        lit("\" v=\""), xmlEscape(e.getField("value")), lit("\"/>"))))

  /** Fixed 6-dp decimal string from micro-degrees (exact — no float
    * formatting, cf. changewriter.py's %.6f coordinates). */
  def microDegStr(u: Column): Column = concat(
    when(u < 0, lit("-")).otherwise(lit("")),
    (abs(u) / 1000000L).cast("long").cast("string"),
    lit("."),
    lpad((abs(u) % 1000000L).cast("string"), 6, "0"))

  /** `<node …>` element row. lat/lon as micro-degree longs. */
  def nodeXml(id: Column, version: Column, latU: Column, lonU: Column, tags: Column): Column =
    concat(
      lit("<node id=\""), id.cast("string"),
      lit("\" version=\""), version.cast("string"),
      lit("\" lat=\""), microDegStr(latU),
      lit("\" lon=\""), microDegStr(lonU), lit("\">"),
      tagsXml(tags), lit("</node>"))

  /** `<way …>` element row from an `array<long>` node-ref column. */
  def wayXml(id: Column, version: Column, nds: Column, tags: Column): Column =
    concat(
      lit("<way id=\""), id.cast("string"),
      lit("\" version=\""), version.cast("string"), lit("\">"),
      concat_ws("", transform(nds, n => concat(lit("<nd ref=\""), n.cast("string"), lit("\"/>")))),
      tagsXml(tags), lit("</way>"))

  /** `<relation …>` from an array<struct<ref,mtype,role>> member column. */
  def relationXml(id: Column, version: Column, members: Column, tags: Column): Column =
    concat(
      lit("<relation id=\""), id.cast("string"),
      lit("\" version=\""), version.cast("string"), lit("\">"),
      concat_ws("", transform(members, m => concat(
        lit("<member type=\""), m.getField("mtype"),
        lit("\" ref=\""), m.getField("ref").cast("string"),
        lit("\" role=\""), xmlEscape(m.getField("role")), lit("\"/>")))),
      tagsXml(tags), lit("</relation>"))

  /** Sharded export: one complete OsmChange document per shard,
    * written IN PARALLEL on the executors (no driver byte-stream
    * bottleneck; consumers like Osmosis apply the shards in any order
    * since each is a self-contained document).
    *
    * `df` must have (shard int, section string in create/modify/delete,
    * xml string). Produces `<outDir>/shard-<i>.osc[.gz]`.
    *
    * Mechanics: rows are sorted within partitions by (shard, section
    * rank, element-type rank) and written in ONE streaming pass —
    * constant executor memory. Files go to a temp name then move
    * atomically, so task retries / speculative attempts can't leave a
    * torn document. Stale `shard-*` files from prior runs are removed
    * first. `outDir` must be a filesystem visible to the executors
    * (local mode, NFS/FUSE mounts); for object stores render the xml
    * and use per-shard `df.write.text` with a committer instead.
    */
  def writeSharded(outDir: String, df: DataFrame, shards: Int, gzip: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    Files.createDirectories(Paths.get(outDir))
    val ext = if (gzip) ".osc.gz" else ".osc"
    // overwrite semantics: the OLD manifest dies FIRST (a re-run
    // killed mid-write must read as incomplete, never as the previous
    // export), then stale shards from previous runs
    graft.sources.ExportManifest.invalidate(df.sparkSession, outDir)
    val stale = Files.list(Paths.get(outDir))
    // `.shard-*-…*.tmp` covers temp files stranded by a killed prior
    // run's tasks (invisible to manifest-gated readers, but they'd
    // accumulate without bound under repeated crash/retry)
    try stale.iterator().asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("shard-") || (n.startsWith(".shard-") && n.endsWith(".tmp"))
      }.foreach(Files.deleteIfExists)
    finally stale.close()

    val sectionRank = when(col("section") === "create", 0)
      .when(col("section") === "modify", 1).otherwise(2)
    // OSM referential order within a section: nodes, then ways, then
    // relations (a relation may reference ways defined above it)
    val typeRank = when(col("xml").startsWith("<node"), 0)
      .when(col("xml").startsWith("<way"), 1).otherwise(2)
    df.select(col("shard"), col("section"), col("xml"), sectionRank.as("_sr"), typeRank.as("_tr"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "_sr", "_tr", "xml")
      .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
        var os: OutputStream = null
        var tmpPath: Path = null
        var finalPath: Path = null
        var curShard = Integer.MIN_VALUE
        var curSection: String = null
        def emit(s: String): Unit = os.write(s.getBytes(StandardCharsets.UTF_8))
        def closeSection(): Unit = if (curSection != null) { emit(s"</$curSection>\n"); curSection = null }
        def closeShard(): Unit = if (os != null) {
          closeSection()
          emit("</osmChange>\n")
          os.close()
          Files.move(tmpPath, finalPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          os = null
        }
        try {
          while (rows.hasNext) {
            val r = rows.next()
            val shard = r.getInt(0); val section = r.getString(1); val xml = r.getString(2)
            if (shard != curShard || os == null) {
              closeShard()
              curShard = shard
              finalPath = Paths.get(s"$outDir/shard-$shard$ext")
              tmpPath = Files.createTempFile(Paths.get(outDir), s".shard-$shard-", ".tmp")
              val raw = new BufferedOutputStream(new FileOutputStream(tmpPath.toFile), 1 << 20)
              os = if (gzip) new GZIPOutputStream(raw, 1 << 20) else raw
              emit("<?xml version='1.0' encoding='UTF-8'?>\n")
              emit("<osmChange version=\"0.6\" generator=\"graft\">\n")
            }
            if (section != curSection) { closeSection(); curSection = section; emit(s"<$section>\n") }
            emit(xml); emit("\n")
          }
          closeShard()
        } catch {
          case e: Throwable =>
            if (os != null) os.close()
            if (tmpPath != null) Files.deleteIfExists(tmpPath)
            throw e
        }
      }
    // the completeness manifest goes in LAST, once every shard is
    // renamed into place (the _append_pending discipline applied to
    // exports): a job killed mid-write leaves shard files but no
    // manifest, so consumers that gate on ExportManifest.verify can
    // never mistake the directory for a complete export. The stale-
    // shard cleanup above plus per-shard atomic renames make the
    // listing exactly this run's output.
    val listing = Files.list(Paths.get(outDir))
    val entries =
      try listing.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("shard-") &&
          p.getFileName.toString.endsWith(ext))
        .map(p => graft.sources.ExportManifest.Entry(
          p.getFileName.toString, Files.size(p)))
      finally listing.close()
    graft.sources.ExportManifest.write(df.sparkSession, outDir, entries,
      format = s"osmChange/0.6-sharded;gzip=$gzip")
  }

  /** Consumer-side gate for a [[writeSharded]] directory: verifies
    * the export manifest (absent → the job never finished; missing or
    * size-mismatched shard → torn) and returns the shard paths to
    * feed [[OsmChangeSource]]. */
  def verifiedShardPaths(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Seq[String] =
    graft.sources.ExportManifest.verify(spark, dir)
      .map(e => new java.io.File(dir, e.file).getAbsolutePath)

  /** Write a complete OsmChange document: each section DataFrame must
    * have a single string column of rendered element XML. Renders
    * distributed to text parts, then stream-concatenates into one
    * (optionally gzipped) file.
    */
  def write(
      out: String,
      creates: DataFrame,
      modifies: Option[DataFrame] = None,
      deletes: Option[DataFrame] = None,
      gzip: Boolean = false): Unit = {
    val tmp = Files.createTempDirectory("osc")
    def dump(df: DataFrame, name: String): Path = {
      val p = tmp.resolve(name)
      df.coalesce(1).write.mode("overwrite").text(p.toString)
      p
    }
    val sections = Seq(
      "create" -> Some(creates), "modify" -> modifies, "delete" -> deletes
    ).collect { case (name, Some(df)) => name -> dump(df, name) }

    import scala.jdk.CollectionConverters._
    val raw = new BufferedOutputStream(new FileOutputStream(out), 1 << 20)
    val os: OutputStream = if (gzip) new GZIPOutputStream(raw, 1 << 20) else raw
    try {
      def emit(s: String): Unit = os.write(s.getBytes(StandardCharsets.UTF_8))
      emit("<?xml version='1.0' encoding='UTF-8'?>\n")
      emit("<osmChange version=\"0.6\" generator=\"graft\">\n")
      sections.foreach { case (name, dir) =>
        emit(s"<$name>\n")
        // part files in name order = partition order
        val listing = Files.list(dir)
        val sorted =
          try listing.iterator().asScala.toSeq
            .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
          finally listing.close()
        sorted.foreach { p => Files.copy(p, os) }
        emit(s"</$name>\n")
      }
      emit("</osmChange>\n")
    } finally {
      os.close()
      // temp cleanup must also run on assembly failure
      try Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      catch { case _: Throwable => () }
    }
  }
}

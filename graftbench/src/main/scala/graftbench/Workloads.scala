package graftbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, File, FileInputStream, PrintStream}
import java.util.zip.GZIPInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ChangegenPipeline, SparkEntry}
import graft.osm.{OsmChangeXml, OsmPbf}

/** What one pass produced: exact counts that must repeat from pass to
  * pass, the output checks that failed, and how many operations
  * (calls and output checks) the pass attempted. */
final case class PassOut(counts: Map[String, Long], failures: Seq[String], ops: Int)

/** A benchmark workload. `pass` is the timed, user-facing call;
  * `check` reads its output back untimed; `traced` repeats the pass
  * as separate calls into each layer, each inside a tracer span. */
trait Workload {
  type Ran
  def pass(spark: SparkSession, out: String): Ran
  def check(spark: SparkSession, out: String, ran: Ran): PassOut
  def traced(spark: SparkSession, out: String, tr: Tracer): PassOut
}

object Workload {
  def apply(name: String, data: String, cores: Int): Workload = name match {
    case "cg_extract" => new Changegen(data, cores)
    case "ml_queries" => new MlQueries(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Row count of `df` through a noop write — the frame is computed
    * (and cached, when persisted) in full, never pruned to a count. */
  def materialize(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }
}

/** The changegen CLI, `ChangegenPipeline.run`, on one input directory
  * with the create-heavy flag set: a pbf extract, suffix-discovered WKB
  * tables, --existing, --deletions, --self and sharded gzip output. */
final class Changegen(data: String, cores: Int) extends Workload {
  type Ran = String

  private val pbf = s"$data/extract.osm.pbf"
  /** Size of the .osm.pbf extract each decode reads. */
  def osmBytes: Long = new File(pbf).length()
  private def out(dir: String) = s"$dir/out.osc"
  private def args(dir: String): Array[String] =
    Array(data, out(dir), "--suffix=_new", s"--osmsrc=$pbf", "--existing=roads_existing",
      "--deletions=roads_deleted", "--self", s"--shards=$cores", "--compress")

  /** Runs the CLI, returning its `[changegen] wrote …` summary line. */
  def pass(spark: SparkSession, dir: String): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      ChangegenPipeline.run(args(dir), spark)
    }
    buf.toString("UTF-8").linesIterator.find(_.startsWith("[changegen] wrote")).getOrElse("")
  }

  private val Summary = ("""nodes=(\d+) ways=(\d+) points=(\d+) self_junctions=(\d+) """ +
    """junctions=(\d+) modified=(\d+) deletes=(\d+)""").r.unanchored

  def check(spark: SparkSession, dir: String, summary: String): PassOut = {
    val files = OsmChangeXml.verifiedShardPaths(spark, out(dir))
    val sections = files.map(Osc.count).foldLeft(Map.empty[String, Long]) { (a, b) =>
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    }
    val osc = Seq("create", "modify", "delete").map(s => s"osc.$s" -> sections.getOrElse(s, 0L)).toMap
    val fails = Seq.newBuilder[String]
    val counts = summary match {
      case Summary(n, w, p, sj, j, m, d) =>
        val s = Map("nodes" -> n, "ways" -> w, "points" -> p, "self_junctions" -> sj,
          "junctions" -> j, "modified" -> m, "deletes" -> d).map { case (k, v) => s"summary.$k" -> v.toLong }
        // the summary names rows of the frames behind each section:
        // modify and delete are exact, creates also hold polygon rings
        if (osc("osc.modify") != s("summary.modified"))
          fails += s"modify section has ${osc("osc.modify")} elements, summary says ${s("summary.modified")}"
        if (osc("osc.delete") != s("summary.deletes"))
          fails += s"delete section has ${osc("osc.delete")} elements, summary says ${s("summary.deletes")}"
        if (osc("osc.create") < s("summary.ways") + s("summary.points"))
          fails += s"create section has ${osc("osc.create")} elements, fewer than the summary's ways+points"
        s
      case _ =>
        fails += "no [changegen] wrote summary line"
        Map.empty[String, Long]
    }
    if (osc.values.sum == 0) fails += "empty changefile"
    val bytes = files.map(f => new File(f).length()).sum
    PassOut(counts ++ osc + ("osc_bytes" -> bytes), fails.result(), 2)
  }

  /** The CLI's build inputs for this workload's flags, assembled the
    * way `run` assembles them (suffix discovery, per-table feature ids
    * and tags, --existing and --deletions tables). */
  private def buildFrames(spark: SparkSession): ChangegenPipeline.Frames = {
    val discovered = ChangegenPipeline.discoverTables(data, "_new").map { n =>
      val df = ChangegenPipeline.featureTable(spark, data, n)
      (n, df, ChangegenPipeline.tableGeomClass(df, n))
    }
    def featId(df: DataFrame, name: String): Column = {
      val c = col("osm_id")
      when(c.isNull || c.cast("long").isNull,
        raise_error(concat(lit(s"feature table $name: id column 'osm_id' has a null/non-numeric value: "),
          coalesce(c.cast("string"), lit("NULL"))))).otherwise(c.cast("long"))
    }
    def seam(cls: Int, groupCol: String): Option[DataFrame] =
      discovered.filter(_._3 == cls).zipWithIndex.map { case ((name, df, _), i) =>
        df.select((lit((i + 1).toLong << 40) + featId(df, name)).as(groupCol), col("wkb_geometry").as("wkb"))
      }.reduceOption(_ unionByName _)
    val points = discovered.filter(_._3 == 1).zipWithIndex.map { case ((name, df, _), i) =>
      val tagCols = df.columns.map(_.toLowerCase).filterNot(_ == "wkb_geometry").toSeq.sorted
      df.select((lit((i + 1).toLong << 40) + featId(df, name)).as("pgrp"),
        graft.operators.TagOps.tagsFromColumns(df, tagCols).as("ptags"), col("wkb_geometry").as("wkb"))
    }.reduceOption(_ unionByName _)
    val existing = ChangegenPipeline.featureTable(spark, data, "roads_existing")
      .select(col("osm_id").cast("long").as("eway"), col("wkb_geometry").as("wkb"))
    ChangegenPipeline.build(spark, data, osmSrc = Some(pbf),
      deletionTables = Seq(new File(data, "roads_deleted.parquet").getAbsolutePath),
      polyWkb = seam(3, "pgroup"), lineWkb = seam(2, "lgroup"),
      existingWkb = Some(existing), pointWkb = points, selfIntersect = true)
  }

  def traced(spark: SparkSession, dir: String, tr: Tracer): PassOut = {
    val m = Workload.materialize _
    val rows = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    tr.span("osm.read") { m(OsmPbf.nodes(spark, pbf).toDF()); m(OsmPbf.ways(spark, pbf).toDF()) }
    val f = tr.span("build")(buildFrames(spark))
    tr.span("ids") {
      rows("ids") = m(f.nodes) + m(f.polyNodes) + m(f.pointNodes)
    }
    tr.span("junctions") { rows("junctions") = m(f.junctionAt) + m(f.selfJunctions) }
    tr.span("split") { rows("split") = m(f.splitWays) }
    tr.span("polygons") { m(f.polyWays); m(f.polyRelations) }
    tr.span("splice") { rows("splice") = m(f.modified) }
    tr.span("diff") { rows("diff") = m(f.deleteSet) }
    tr.span("render") { Seq(f.nodeXml, f.wayXml, f.relXml, f.modifyXml, f.deleteXml).foreach(m) }
    tr.span("write") {
      def sec(df: DataFrame, s: String) = df.select(
        pmod(xxhash64(col("xml")), lit(cores)).cast("int").as("shard"), lit(s).as("section"), col("xml"))
      OsmChangeXml.writeSharded(out(dir),
        sec(f.nodeXml, "create").unionByName(sec(f.wayXml, "create"))
          .unionByName(sec(f.relXml, "create"))
          .unionByName(sec(f.modifyXml, "modify")).unionByName(sec(f.deleteXml, "delete")),
        cores, gzip = true)
    }
    val summary = tr.span("summary") {
      s"[changegen] wrote ${out(dir)}: nodes=${f.nodes.count()} ways=${f.splitWays.count()} " +
        s"points=${f.pointNodes.count()} self_junctions=${f.selfJunctions.count()} " +
        s"junctions=${f.junctionAt.count()} modified=${f.modified.count()} deletes=${f.deleteSet.count()}"
    }
    val out0 = check(spark, dir, summary)
    out0.copy(counts = out0.counts ++ rows.map { case (k, v) => s"$k.rows" -> v })
  }
}

/** Element counts per section of one OsmChange document (plain or
  * gzip), read with a streaming XML parser — which also proves the
  * document well-formed. */
object Osc {
  def count(path: String): Map[String, Long] = {
    val raw = new BufferedInputStream(new FileInputStream(path), 1 << 16)
    val in = if (path.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
    val r = XMLInputFactory.newInstance().createXMLStreamReader(in)
    val counts = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    try {
      var depth = 0
      var section = ""
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          if (depth == 2) section = r.getLocalName
          else if (depth == 3) counts(section) += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    } finally { r.close(); in.close() }
    counts.toMap
  }
}

/** Registered queries, each written to a `noop` sink. Every result
  * carries an order-insensitive hash (row count, sum and xor of a
  * per-row 64-bit hash), observed during the same write. */
final class MlQueries(data: String) extends Workload {
  type Ran = Map[String, Either[String, Seq[Long]]]

  private def run1(spark: SparkSession, df: DataFrame): Seq[Long] = {
    val obs = Observation()
    val h = ResultHash.exprs(df)
    df.observe(obs, h.head, h.tail: _*).write.format("noop").mode("overwrite").save()
    val r = obs.get
    Seq("n", "hsum", "hxor").map(k => Option(r(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L))
  }

  def pass(spark: SparkSession, dir: String): Ran =
    MlQueries.all.map { n =>
      n -> (try Right(run1(spark, SparkEntry.queries(n)(spark, data)))
            catch { case e: Exception => Left(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) })
    }.toMap

  def check(spark: SparkSession, dir: String, ran: Ran): PassOut = {
    val counts = ran.collect { case (n, Right(h)) =>
      Seq(s"rows.$n" -> h(0), s"hsum.$n" -> h(1), s"hxor.$n" -> h(2))
    }.flatten.toMap
    PassOut(counts, ran.values.collect { case Left(e) => e }.toSeq, ran.size)
  }

  def traced(spark: SparkSession, dir: String, tr: Tracer): PassOut = {
    val ran: Ran = MlQueries.all.map { n =>
      n -> (try {
        val df = tr.span(s"q.$n.construct")(SparkEntry.queries(n)(spark, data))
        Right(tr.span(s"q.$n.execute")(run1(spark, df)))
      } catch { case e: Exception => Left(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) })
    }.toMap
    check(spark, dir, ran)
  }
}

object MlQueries {
  /** The dedup and similarity rows; they run most of the pass's jobs. */
  val heavy = Seq("dd_prefix_join", "dd_containment", "dd_ngram_jaccard",
    "sim_ann_rerank", "sim_ann_ivfpq", "sim_knn_graph")
  /** Rows of 2 to 7 jobs each, where fixed per-query cost dominates. */
  val short = Seq("q1_agg", "q3_join_agg", "q7_semijoin", "q12_outer_join", "q15_topn_group",
    "txt_tokens", "txt_normalize", "txt_pii_mask", "txt_langid", "dd_exact", "dd_simhash",
    "sim_topk", "emb_quantize", "emb_norm_stats", "ev_window_agg", "smp_reservoir")
  val all: Seq[String] = heavy ++ short
}

/** Order-insensitive hash of a result: row count, and the sum (mod a
  * prime) and xor of a 64-bit hash of each row. Map-typed columns are
  * hashed through their JSON text, since Spark does not hash maps. */
object ResultHash {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def exprs(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("hsum"), bit_xor(h).as("hxor"))
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.osm.{OsmChangeXml, OsmModel, OsmXmlSource}

class OsmXmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("element XML escapes attributes and sorts tags") {
    val xml = Seq((1L, Map("b" -> "x<y", "a" -> "q\"z")))
      .toDF("id", "tags")
      .select(OsmChangeXml.nodeXml(col("id"), lit(2), lit(1500000L), lit(-2500000L), col("tags")))
      .as[String].head()
    assert(xml == """<node id="1" version="2" lat="1.500000" lon="-2.500000">""" +
      """<tag k="a" v="q&quot;z"/><tag k="b" v="x&lt;y"/></node>""")
  }

  test("way and relation XML render refs and members in order") {
    val way = Seq((5L, Seq(1L, 2L, 3L), Map.empty[String, String])).toDF("id", "nds", "tags")
      .select(OsmChangeXml.wayXml(col("id"), lit(1), col("nds"), col("tags"))).as[String].head()
    assert(way == """<way id="5" version="1"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>""")
    val rel = Seq((9L, Seq((4L, "way", "outer"), (6L, "way", "inner")), Map.empty[String, String]))
      .toDF("id", "members", "tags")
      .withColumn("members", expr("transform(members, m -> struct(m._1 AS ref, m._2 AS mtype, m._3 AS role))"))
      .select(OsmChangeXml.relationXml(col("id"), lit(1), col("members"), col("tags"))).as[String].head()
    assert(rel == """<relation id="9" version="1"><member type="way" ref="4" role="outer"/>""" +
      """<member type="way" ref="6" role="inner"/></relation>""")
  }

  test("writeSharded emits one complete document per shard in parallel") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_shards").toString
    val df = (1 to 40).map { i =>
      (i % 4, if (i % 3 == 0) "delete" else "create", s"""<node id="$i" version="1" lat="0.000000" lon="0.000000"/>""")
    }.toDF("shard", "section", "xml")
    OsmChangeXml.writeSharded(dir, df, shards = 4)
    val all0 = new java.io.File(dir).listFiles().map(_.getName).sorted
    // shards + the completeness manifest (written LAST) and nothing else
    assert(all0.contains(graft.sources.ExportManifest.Name), all0.mkString(","))
    val files = all0.filter(_.startsWith("shard-"))
    assert(files.length == 4 && files.forall(_.matches("shard-\\d\\.osc")))
    val all = files.flatMap { f =>
      val content = new String(JFiles.readAllBytes(Paths.get(s"$dir/$f")))
      assert(content.startsWith("<?xml") && content.endsWith("</osmChange>\n"))
      assert(content.contains("<create>"))
      "id=\"(\\d+)\"".r.findAllMatchIn(content).map(_.group(1).toInt).toSeq
    }
    assert(all.sorted.toSeq == (1 to 40), s"ids across shards: ${all.sorted.mkString(",")}")

    // referential order: nodes before ways before relations in a section
    val mixed = Seq(
      (0, "create", """<relation id="9" version="1"/>"""),
      (0, "create", """<way id="6" version="1"/>"""),
      (0, "create", """<node id="2" version="1" lat="0.000000" lon="0.000000"/>""")
    ).toDF("shard", "section", "xml")
    OsmChangeXml.writeSharded(dir, mixed, shards = 1)
    val doc = new String(JFiles.readAllBytes(Paths.get(s"$dir/shard-0.osc")))
    assert(doc.indexOf("<node") < doc.indexOf("<way") && doc.indexOf("<way") < doc.indexOf("<relation"), doc)
    // rerun with fewer shards removed the stale shard-1..3 files
    val after = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("shard-")).sorted
    assert(after.toSeq == Seq("shard-0.osc"), after.mkString(","))
  }

  test("OsmChangeSource parses actions and applyNodes closes the write->parse->apply loop") {
    import java.nio.file.{Files => JFiles}
    import graft.osm.OsmChangeSource
    val dir = JFiles.createTempDirectory("graft_apply").toString
    def nx(id: Long, v: Int, lat: Long, lon: Long, tags: Map[String, String]) =
      Seq((id, v, lat, lon, tags)).toDF("id", "v", "la", "lo", "tags")
        .select(OsmChangeXml.nodeXml(col("id"), col("v"), col("la"), col("lo"), col("tags")))
        .as[String].head()
    // base snapshot: nodes 1..3; change: create 4, modify 2, delete 3
    val changes = Seq(
      (0, "create", nx(4L, 1, 4500000L, 500000L, Map("amenity" -> "cafe"))),
      (0, "modify", nx(2L, 7, -1500000L, 2500000L, Map("name" -> "a&b"))),
      (0, "delete", """<node id="3" version="2" lat="0.000000" lon="0.000000"/>""")
    ).toDF("shard", "section", "xml")
    OsmChangeXml.writeSharded(dir, changes, shards = 1, gzip = true)

    val acts = OsmChangeSource.nodeActions(spark, s"$dir/shard-0.osc.gz")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(acts == Set(("create", 4L, 1), ("modify", 2L, 7), ("delete", 3L, 2)))

    val base = Seq(
      (1L, 1, 1.0, 1.0, Map("k" -> "v")),
      (2L, 6, 9.0, 9.0, Map("old" -> "y")),
      (3L, 1, 3.0, 3.0, Map.empty[String, String])
    ).toDF("id", "version", "lat", "lon", "tags")
    val applied = OsmChangeSource.applyNodes(
        base, OsmChangeSource.nodeActions(spark, s"$dir/shard-0.osc.gz"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getMap[String, String](4).toString)).sortBy(_._1)
    assert(applied.map(_._1).toSeq == Seq(1L, 2L, 4L), "delete removed 3, create added 4")
    val n2 = applied.find(_._1 == 2L).get
    assert(n2._2 == 7 && n2._3 == -1.5 && n2._4 == 2.5 && n2._5.contains("a&b"),
      s"modify must replace node 2 wholesale: $n2")
    // way actions parse with the same section attribution
    val wdir = JFiles.createTempDirectory("graft_apply_w").toString
    val wchanges = Seq(
      (0, "create", Seq((7L, 2, Seq(1L, 2L, 3L), Map("highway" -> "path")))
        .toDF("id", "v", "nds", "tags")
        .select(OsmChangeXml.wayXml(col("id"), col("v"), col("nds"), col("tags")))
        .as[String].head()),
      (0, "delete", """<way id="8" version="1"/>""")
    ).toDF("shard", "section", "xml")
    OsmChangeXml.writeSharded(wdir, wchanges, shards = 1)
    val wacts = OsmChangeSource.wayActions(spark, s"$wdir/shard-0.osc")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](3).toList)).toSet
    assert(wacts == Set(("create", 7L, List(1L, 2L, 3L)), ("delete", 8L, Nil)))

    // delete precedence: a shard pair creating AND deleting the same id drops it
    val conflict = OsmChangeSource.nodeActions(spark, s"$dir/shard-0.osc.gz")
      .unionByName(Seq(("create", 2L, 9, 0.0, 0.0, Map.empty[String, String]))
        .toDF("action", "id", "version", "lat", "lon", "tags"))
      .unionByName(Seq(("delete", 4L, 3, 0.0, 0.0, Map.empty[String, String]))
        .toDF("action", "id", "version", "lat", "lon", "tags"))
    val applied2 = OsmChangeSource.applyNodes(base, conflict)
      .select("id").as[Long].collect().sorted
    assert(applied2.toSeq == Seq(1L, 2L), "delete wins over the re-create of 4")
  }

  test("OsmXmlSource round-trips OsmChangeXml output to identical datasets") {
    val nodesIn = Seq(
      OsmModel.Node(1L, 2, 1.5, -2.5, Map("name" -> """q"z <&>""", "amenity" -> "pub")),
      OsmModel.Node(42L, 1, -89.999999, 179.999999, Map.empty))
    val waysIn = Seq(
      OsmModel.Way(5L, 3, Seq(1L, 42L, 1L), Map("highway" -> "path")),
      OsmModel.Way(6L, 1, Seq(42L), Map.empty))
    val relsIn = Seq(
      OsmModel.Relation(9L, 1,
        Seq(OsmModel.Member(5L, "way", "outer"), OsmModel.Member(6L, "way", "inner"),
          OsmModel.Member(1L, "node", "")),
        Map("type" -> "multipolygon")))
    def ud(d: Double): Long = math.round(d * 1e6)
    val nodeXml = nodesIn.toDS().select(OsmChangeXml.nodeXml(col("id"), col("version"),
      element_at(typedLit(nodesIn.map(n => n.id -> ud(n.lat)).toMap), col("id")),
      element_at(typedLit(nodesIn.map(n => n.id -> ud(n.lon)).toMap), col("id")), col("tags")).as("xml"))
    val wayXml = waysIn.toDS().select(OsmChangeXml.wayXml(col("id"), col("version"), col("nds"), col("tags")).as("xml"))
    val relXml = relsIn.toDS().select(OsmChangeXml.relationXml(col("id"), col("version"), col("members"), col("tags")).as("xml"))
    val out = Files.createTempFile("graft_roundtrip", ".osm").toString
    OsmChangeXml.write(out, nodeXml.union(wayXml).union(relXml))

    val nodesOut = OsmXmlSource.nodes(spark, out).collect().sortBy(_.id).toSeq
    assert(nodesOut == nodesIn.sortBy(_.id))
    val waysOut = OsmXmlSource.ways(spark, out).collect().sortBy(_.id).toSeq
    assert(waysOut == waysIn.sortBy(_.id))
    val relsOut = OsmXmlSource.relations(spark, out).collect().toSeq
    assert(relsOut == relsIn)
    Files.deleteIfExists(Paths.get(out))
  }

  test("OsmXmlSource parses multi-line and self-closing elements from a real-format .osm") {
    // hand-written osmium-style file: pretty-printed, self-closing
    // tagless nodes, multi-line tagged elements
    val xml =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6" generator="test">
        |  <node id="100" version="1" lat="51.500000" lon="-0.120000"/>
        |  <node id="101" version="2" lat="51.500100" lon="-0.120100">
        |    <tag k="name" v="Caf&amp;eacute; &quot;X&quot;"/>
        |  </node>
        |  <node id="102" version="1" lat="51.500200" lon="-0.120200"/>
        |  <way id="200" version="1">
        |    <nd ref="100"/>
        |    <nd ref="101"/>
        |    <nd ref="102"/>
        |    <tag k="highway" v="residential"/>
        |  </way>
        |  <relation id="300" version="1">
        |    <member type="way" ref="200" role="outer"/>
        |    <member type="node" ref="100" role=""/>
        |    <tag k="type" v="multipolygon"/>
        |  </relation>
        |</osm>
        |""".stripMargin
    val p = Files.createTempFile("graft_osm", ".osm")
    Files.writeString(p, xml)
    val nodes = OsmXmlSource.nodes(spark, p.toString).collect().sortBy(_.id)
    assert(nodes.map(_.id).toSeq == Seq(100L, 101L, 102L))
    assert(nodes(1).tags == Map("name" -> """Caf&eacute; "X""""))
    assert(nodes(0).tags.isEmpty && nodes(0).lat == 51.5 && nodes(0).lon == -0.12)
    val wnm = OsmXmlSource.wayNodeMap(spark, p.toString)
      .select("way", "pos", "node").as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(wnm == Seq((200L, 0, 100L), (200L, 1, 101L), (200L, 2, 102L)))
    val rel = OsmXmlSource.relations(spark, p.toString).collect().head
    assert(rel.id == 300L && rel.members == Seq(
      OsmModel.Member(200L, "way", "outer"), OsmModel.Member(100L, "node", "")))
    val mx = OsmXmlSource.maxIds(spark, p.toString)
      .select("elem_type", "max_id").as[(String, Long)].collect().toMap
    assert(mx == Map("node" -> 102L, "way" -> 200L, "relation" -> 300L))
    Files.deleteIfExists(p)
  }

  test("write() assembles a gzipped OsmChange document") {
    val creates = Seq((1L, Map("k" -> "v"))).toDF("id", "tags")
      .select(OsmChangeXml.nodeXml(col("id"), lit(1), lit(1000000L), lit(2000000L), col("tags")).as("xml"))
    val deletes = Seq(7L).toDF("id").select(concat(lit("<node id=\""), col("id"), lit("\"/>")).as("xml"))
    val out = Files.createTempFile("graft", ".osc.gz").toString
    OsmChangeXml.write(out, creates, deletes = Some(deletes), gzip = true)
    val content = new String(new GZIPInputStream(Files.newInputStream(Paths.get(out))).readAllBytes())
    assert(content.startsWith("<?xml version='1.0' encoding='UTF-8'?>"))
    assert(content.contains("<osmChange version=\"0.6\" generator=\"graft\">"))
    assert(content.contains("<create>\n") && content.contains("</create>"))
    assert(content.contains("""<node id="1" version="1" lat="1.000000" lon="2.000000"><tag k="k" v="v"/></node>"""))
    assert(content.contains("<delete>\n") && content.contains("""<node id="7"/>"""))
    assert(content.endsWith("</osmChange>\n"))
    Files.deleteIfExists(Paths.get(out))
  }
  test("torn .osc shard export is detected by the consumer gate; torn LSH build refuses to serve") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // --- sharded OsmChange export: manifest written last, verify gates
    val dir = java.nio.file.Files.createTempDirectory("osc_torn").toString
    val df = spark.range(0, 20)
      .select((col("id") % 4).cast("int").as("shard"), lit("create").as("section"),
        concat(lit("<node id=\""), col("id"), lit("\" version=\"1\" lat=\"0.000000\" lon=\"0.000000\"/>")).as("xml"))
    OsmChangeXml.writeSharded(dir, df, shards = 4)
    val paths = OsmChangeXml.verifiedShardPaths(spark, dir)
    assert(paths.length == 4, paths.toString)
    // delete one shard mid-"commit": the consumer gate names the hole
    assert(new java.io.File(paths(2)).delete())
    val ex = intercept[IllegalStateException] { OsmChangeXml.verifiedShardPaths(spark, dir) }
    assert(ex.getMessage.contains(new java.io.File(paths(2)).getName), ex.getMessage)
    // a killed job that never wrote the manifest is equally refused
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, graft.sources.ExportManifest.Name))
    val exNone = intercept[IllegalStateException] { OsmChangeXml.verifiedShardPaths(spark, dir) }
    assert(exNone.getMessage.contains(graft.sources.ExportManifest.Name), exNone.getMessage)

    // --- LSH index: a crashed BUILD (marker stranded between layer
    // overwrites) is unhealable and must refuse to serve, loudly
    val idx = java.nio.file.Files.createTempDirectory("lsh_torn").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different words here now")).toDF("doc_id", "text")
    graft.dedup.LshIndex.build(docs, "doc_id", "text", idx)
    // healthy index serves
    assert(graft.dedup.LshIndex.candidates(spark, idx, docs, "doc_id", "text").count() >= 0)
    // strand the build marker (what a kill between the banded/sigs/
    // config overwrites leaves behind)
    val bm = new java.io.File(idx, "_build_pending")
    assert(bm.createNewFile())
    val exIdx = intercept[IllegalStateException] {
      graft.dedup.LshIndex.candidates(spark, idx, docs, "doc_id", "text").count()
    }
    assert(exIdx.getMessage.contains("_build_pending"), exIdx.getMessage)
    // a completed rebuild heals: marker drops last, index serves again
    graft.dedup.LshIndex.build(docs, "doc_id", "text", idx)
    assert(!bm.exists())
    assert(graft.dedup.LshIndex.candidates(spark, idx, docs, "doc_id", "text").count() >= 0)
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.osm.{OsmChangeXml, OsmXmlSource}

/** End-to-end loop: the full changefile pipeline writes an OsmChange
  * document, and the distributed XML source reads it back — element
  * counts must reconcile exactly with the pipeline's own frames.
  */
class PipelineE2eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pipeline .osc output re-reads to the exact element counts of its frames") {
    val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 7, idOffset = Some(1000000L))
    val out = Files.createTempFile("graft_e2e", ".osc").toString
    OsmChangeXml.write(out, f.nodeXml.unionByName(f.wayXml).unionByName(f.relXml),
      Some(f.modifyXml), Some(f.deleteXml))

    val nNodes = f.nodes.count() + f.polyNodes.count()
    val nWays = f.splitWays.count() + f.polyWays.count()
    val nRels = f.polyRelations.count()
    val nModified = f.modified.count()
    val deletesByType = f.deleteSet.groupBy("elem_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the reader sees nodes in <create> and <delete>, ways in
    // <create>, <modify> and <delete>, relations in <create>
    val readNodes = OsmXmlSource.nodes(spark, out).count()
    val readWays = OsmXmlSource.ways(spark, out).count()
    val readRels = OsmXmlSource.relations(spark, out).count()
    assert(readNodes == nNodes + deletesByType.getOrElse("node", 0L),
      s"nodes: read $readNodes, frames $nNodes + ${deletesByType.getOrElse("node", 0L)}")
    assert(readWays == nWays + nModified + deletesByType.getOrElse("way", 0L),
      s"ways: read $readWays, frames $nWays + $nModified + ${deletesByType.getOrElse("way", 0L)}")
    assert(readRels == nRels && nRels > 0, s"relations: read $readRels, frames $nRels")

    // created ways must reference only created node ids (referential
    // integrity of the generated document)
    val createdNodeIds = OsmXmlSource.nodes(spark, out).toDF()
      .filter(org.apache.spark.sql.functions.col("id") >= 1000000L)
      .select("id").collect().map(_.getLong(0)).toSet
    val refdByCreatedWays = OsmXmlSource.ways(spark, out).toDF()
      .filter(org.apache.spark.sql.functions.col("id") >= 1000000L)
      .select(org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.col("nds")).as("n"))
      .collect().map(_.getLong(0)).toSet
    assert(refdByCreatedWays.nonEmpty && refdByCreatedWays.subsetOf(createdNodeIds),
      s"${(refdByCreatedWays -- createdNodeIds).size} dangling node refs in created ways")

    Files.deleteIfExists(Paths.get(out))
  }

  test("negIds mode keeps polygon relations referentially intact (refs point at emitted way ids)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 7, negIds = true)
    val wayIds = f.polyWays.select("way_id").as[Long].collect().toSet
    val memberRefs = f.polyRelations
      .select(explode(col("members")).as("m")).select("m.ref").as[Long].collect().toSet
    assert(memberRefs.nonEmpty, "holed polygons must produce relations")
    assert(memberRefs.subsetOf(wayIds),
      s"dangling member refs: ${(memberRefs -- wayIds).take(5)}")
    // the whole negIds namespace is negative and collision-free
    val relIds = f.relXml.as[String].collect()
      .map(x => """<relation id="(-?\d+)"""".r.findFirstMatchIn(x).get.group(1).toLong).toSet
    val nodeIds = f.nodes.select("node_id").as[Long].collect().toSet
    val polyNodeIds = f.polyNodes.select("node_id").as[Long].collect().toSet
    val lineWayIds = f.splitWays.select("way_id").as[Long].collect().toSet
    val all = Seq(nodeIds, polyNodeIds, lineWayIds, wayIds, relIds)
    assert(all.forall(_.forall(_ < 0)), "every generated id must be negative in negIds mode")
    assert(all.map(_.size).sum == all.flatten.toSet.size, "id namespaces must not collide")
  }

  test("deletion tables discovered by suffix feed <delete>; forced id collision stops the run") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sfdel").toString
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      Files.copy(Paths.get(s"${TestSpark.Sf}/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    }
    // deletion table names EXISTING ways (synthetic existing ways are
    // lineitem order keys) that the snapshot diff does NOT already
    // remove (diff removes %13==5)
    val doomed = spark.read.parquet(s"$tmp/lineitem.parquet")
      .select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") % 13 === 1)
      .orderBy("l_orderkey").limit(5).as[Long].collect().toSeq
    assert(doomed.nonEmpty)
    doomed.toDF("osm_id").write.parquet(s"$tmp/custom_deletions.parquet")

    val found = ChangegenPipeline.discoverTables(tmp, "_deletions")
    assert(found.map(new java.io.File(_).getName) == Seq("custom_deletions.parquet"))
    assert(ChangegenPipeline.discoverTables(tmp, "_nope").isEmpty)

    val f = ChangegenPipeline.build(spark, tmp, maxNodes = 7,
      idOffset = Some(1000000L), deletionTables = found)
    val deletedWays = f.deleteSet.filter(col("elem_type") === "way")
      .select(col("elem_id").cast("long")).as[Long].collect().toSet
    assert(doomed.toSet.subsetOf(deletedWays),
      s"discovered deletions missing from deleteSet: ${doomed.toSet -- deletedWays}")

    // explicit offset below the existing max id: fatal under noCollisions
    val ex = intercept[IllegalStateException] {
      ChangegenPipeline.build(spark, tmp, maxNodes = 7,
        idOffset = Some(10L), noCollisions = true)
    }
    assert(ex.getMessage.contains("collisions"))
  }

  test("modify_only mode emits version-2 way refreshes with unchanged geometry, no creates") {
    val f = ChangegenPipeline.buildModifyOnly(spark, TestSpark.Sf)
    assert(f.nodes.count() == 0 && f.splitWays.count() == 0 && f.deleteSet.count() == 0)
    val nWays = f.modified.count()
    assert(nWays > 0)
    import spark.implicits._
    val xml = f.modifyXml.as[String].collect()
    assert(xml.length == nWays)
    assert(xml.forall(x => x.startsWith("<way ") && x.contains("version=\"2\"")))
    assert(xml.forall(_.contains("<tag k=\"surface\" v=\"asphalt\"/>")))
    // geometry untouched: node refs match the existing way-node map
    val one = f.modified.select("eway", "nds", "new_nds").head()
    assert(one.getSeq[Long](1) == one.getSeq[Long](2))
  }

  test("pipeline consumes a real .osm.pbf extract for existing ways (reference osmsrc path)") {
    import graft.osm.{OsmModel, OsmPbf}
    // existing extract: nodes placed EXACTLY on the new-feature lattice
    // ((k*13%1000)/10, (k*29%1000)/10) so junctions provably fire, plus
    // one far-away way that must stay unmodified
    def px(k: Long) = (k * 13 % 1000) / 10.0
    def py(k: Long) = (k * 29 % 1000) / 10.0
    val near = (1L to 5L).map(k => OsmModel.Node(500 + k, 1, py(k), px(k), Map.empty)) // lat=y, lon=x
    val far = Seq(OsmModel.Node(600L, 1, -80.0, -170.0, Map.empty), OsmModel.Node(601L, 1, -80.1, -170.1, Map.empty))
    val pbfWays = Seq(
      OsmModel.Way(9001L, 1, near.map(_.id), Map("highway" -> "primary")),
      OsmModel.Way(9002L, 1, far.map(_.id), Map.empty))
    val pbf = Files.createTempFile("graft_src", ".osm.pbf").toString
    OsmPbf.write(pbf, near ++ far, pbfWays, Nil)

    val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 500,
      idOffset = Some(1000000L), osmSrc = Some(pbf))
    import org.apache.spark.sql.functions.col
    // junctions must exist (new supplier vertices share the lattice)
    assert(f.junctionAt.count() > 0, "no junctions found against the pbf extract")
    // the near way gets junction nodes spliced in; the far way does not
    val modifiedWays = f.modified.select("eway").collect().map(_.getLong(0)).toSet
    assert(modifiedWays == Set(9001L), s"modified: $modifiedWays")
    // spliced list preserves original node order with junctions inserted after their match
    val newNds = f.modified.filter(col("eway") === 9001L)
      .select("new_nds").collect().head.getSeq[Long](0)
    assert(newNds.filter(_ < 1000000L) == near.map(_.id), s"original order broken: $newNds")
    assert(newNds.exists(_ >= 1000000L), s"no junction id spliced: $newNds")
    // max-id collision check read from the pbf: new node ids start above 1e6 anyway
    assert(f.nodes.select(org.apache.spark.sql.functions.min("node_id")).head().getLong(0) >= 1000000L)
    Files.deleteIfExists(Paths.get(pbf))
  }

  test("WKB polygon source in negIds mode: relation refs point at emitted (negative) way ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.WkbGeomExpr
    val outer = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole = Array((2.0, 2.0), (4.0, 2.0), (2.0, 4.0), (2.0, 2.0))
    val src = Seq((7L, WkbGeomExpr.encodePolygon(Array(outer, hole), srid = 4326)))
      .toDF("pgroup", "wkb")
    val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 7,
      negIds = true, polyWkb = Some(src))
    val wayIds = f.polyWays.select("way_id").collect().map(_.getLong(0)).toSet
    val nodeIds = f.polyNodes.select("node_id").collect().map(_.getLong(0)).toSet
    val refs = f.polyRelations.select(explode(col("members")).as("m"))
      .select("m.ref").collect().map(_.getLong(0)).toSet
    // the round-2 bug class: refs from a positive base while way ids
    // negate leaves <relation> members dangling — all three id spaces
    // must negate TOGETHER through the same transform
    assert(wayIds.forall(_ < 0) && nodeIds.forall(_ < 0), s"ids not negative: $wayIds $nodeIds")
    assert(refs.nonEmpty && refs.subsetOf(wayIds), s"dangling refs: ${refs -- wayIds}")
    // way node refs resolve too
    f.polyWays.select("closed_nds").collect().map(_.getSeq[Long](0))
      .foreach(nds => assert(nds.forall(nodeIds.contains), nds.toString))
  }

  test("live JDBC snapshot → WKB rings → changefile relations (the full PostGIS loop)") {
    import org.apache.spark.sql.functions.col
    import graft.functions.WkbGeomExpr
    import graft.sources.Snapshots
    // a Derby "PostGIS" snapshot: id + hex-EWKB geometry column, read
    // through the partitioned JDBC contract and fed STRAIGHT into the
    // pipeline's polyWkb seam (graft_geom_rings takes the hex text
    // form directly — no intermediate decode pass needed)
    val outer = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole = Array((2.0, 2.0), (4.0, 2.0), (2.0, 4.0), (2.0, 2.0))
    val solid = Array((20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0), (20.0, 20.0))
    val url = "jdbc:derby:memory:graftpg;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE polysnap (id BIGINT PRIMARY KEY, wkb_geometry VARCHAR(800))")
      val ins = conn.prepareStatement("INSERT INTO polysnap VALUES (?, ?)")
      def hex(rings: Array[Array[(Double, Double)]]) =
        WkbGeomExpr.encodePolygon(rings, srid = 4326).map("%02x".format(_)).mkString
      ins.setLong(1, 1L); ins.setString(2, hex(Array(outer, hole))); ins.addBatch()
      ins.setLong(1, 2L); ins.setString(2, hex(Array(solid))); ins.addBatch()
      ins.executeBatch()

      // through the one-call adapter, geometry kept in wire form
      // (decodeGeom=false) because build's polyWkb seam ring-decodes
      // internally; no hstore columns on this table
      val snap = Snapshots.postgisTable(spark, url, "polysnap",
          hstoreCols = Nil, decodeGeom = false,
          partitionColumn = Some("id"), lowerBound = 0L, upperBound = 3L,
          numPartitions = 2)
        .select(col("id").as("pgroup"), col("wkb_geometry").as("wkb"))
      val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 7,
        idOffset = Some(1000000L), polyWkb = Some(snap))
      val roles = f.polyRelations
        .select(col("pgroup"), org.apache.spark.sql.functions.explode(col("members")).as("m"))
        .select("pgroup", "m.role").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(roles.sorted == Seq((1L, "inner"), (1L, "outer")),
        s"expected one outer+inner relation for the holed feature only: $roles")
      assert(f.polyWays.count() == 3 && f.polyNodes.count() == 11) // 4+3 + 4 open vertices
    } finally {
      try conn.createStatement().execute("DROP TABLE polysnap") finally conn.close()
    }
  }

  test("polySrcEpsg: a UTM-stored polygon layer reprojects at the decode seam and equals its 4326 twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.WkbGeomExpr
    // the same feature stored twice: once in WGS84 (as imposm3 would
    // hand it over) and once in EPSG:32633 (a layer kept in its UTM
    // zone — reference generator.py:69-78 builds its transformer from
    // the DECLARED epsg, so this layer must not need new code). The
    // two builds must agree to the microdegree the node XML carries.
    val a = 6378137.0; val e2 = 0.00669437999014; val k0 = 0.9996
    val ep2 = e2 / (1 - e2)
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val lon = math.toRadians(lonDeg); val lat = math.toRadians(latDeg)
      val lon0 = math.toRadians(15.0) // zone 33
      val n = a / math.sqrt(1 - e2 * math.sin(lat) * math.sin(lat))
      val t = math.tan(lat) * math.tan(lat)
      val c = ep2 * math.cos(lat) * math.cos(lat)
      val bigA = (lon - lon0) * math.cos(lat)
      val m = a * ((1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * math.pow(e2, 3) / 256) * lat
        - (3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * math.pow(e2, 3) / 1024) * math.sin(2 * lat)
        + (15 * e2 * e2 / 256 + 45 * math.pow(e2, 3) / 1024) * math.sin(4 * lat)
        - (35 * math.pow(e2, 3) / 3072) * math.sin(6 * lat))
      (k0 * n * (bigA + (1 - t + c) * math.pow(bigA, 3) / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * math.pow(bigA, 5) / 120) + 500000.0,
       k0 * (m + n * math.tan(lat) * (bigA * bigA / 2
        + (5 - t + 9 * c + 4 * c * c) * math.pow(bigA, 4) / 24
        + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * math.pow(bigA, 6) / 720)))
    }
    val outer = Array((14.0, 45.0), (16.0, 45.0), (16.0, 47.0), (14.0, 47.0), (14.0, 45.0))
    val hole = Array((14.5, 45.5), (15.5, 45.5), (14.5, 46.5), (14.5, 45.5))
    def ring(r: Array[(Double, Double)], proj: Boolean) =
      if (proj) r.map { case (lo, la) => fwd(lo, la) } else r
    def srcOf(proj: Boolean) = Seq(
      (1L, WkbGeomExpr.encodePolygon(Array(ring(outer, proj), ring(hole, proj)),
        srid = if (proj) 32633 else 4326))).toDF("pgroup", "wkb")
    def nodesOf(proj: Boolean) = ChangegenPipeline.build(spark, TestSpark.Sf,
        maxNodes = 7, idOffset = Some(1000000L), polyWkb = Some(srcOf(proj)),
        polySrcEpsg = if (proj) 32633 else 4326)
      .polyNodes.select(col("node_id"),
        graft.text.TextAnalysis.fp(col("x"), 6).as("lon_u"),
        graft.text.TextAnalysis.fp(col("y"), 6).as("lat_u"))
      .as[(Long, Long, Long)].collect().toSet
    val viaUtm = nodesOf(proj = true)
    val via4326 = nodesOf(proj = false)
    assert(viaUtm.nonEmpty && viaUtm == via4326,
      s"utm=${viaUtm.toSeq.sorted} vs 4326=${via4326.toSeq.sorted}")
  }

  test("WKB polygon source: a holed PostGIS geometry produces inner-role relation members end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.WkbGeomExpr
    // feature 1: square exterior with TWO triangular holes (closed
    // rings, EWKB + SRID — the PostGIS wire shape); feature 2: plain
    // square, no holes → closed way only, no relation
    // (reference generator.py:683 branch)
    val outer1 = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole1 = Array((2.0, 2.0), (4.0, 2.0), (2.0, 4.0), (2.0, 2.0))
    val hole2 = Array((6.0, 6.0), (8.0, 6.0), (6.0, 8.0), (6.0, 6.0))
    val outer2 = Array((20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0), (20.0, 20.0))
    val src = Seq(
      (1L, WkbGeomExpr.encodePolygon(Array(outer1, hole1, hole2), srid = 4326)),
      (2L, WkbGeomExpr.encodePolygon(Array(outer2))))
      .toDF("pgroup", "wkb")
    val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 7,
      idOffset = Some(1000000L), polyWkb = Some(src))

    // nodes: one per DISTINCT ring vertex — the closing duplicate of
    // each of the 4 rings is dropped (4 + 3 + 3 + 4)
    assert(f.polyNodes.count() == 14, s"polyNodes: ${f.polyNodes.count()}")
    // each hole vertex survives decode exactly (the information the
    // exterior-only decode lost)
    val holeXy = f.polyNodes.filter(col("pgroup") === 1L && col("ring_idx") === 1)
      .select("x", "y").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(holeXy == hole1.dropRight(1).toSet, s"hole1 vertices: $holeXy")

    // ways: one per ring, each re-closed by repeating the FIRST NODE ID
    val ways = f.polyWays.select("pgroup", "ring_idx", "way_id", "closed_nds").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getSeq[Long](3)))).toMap
    assert(ways.keySet == Set((1L, 0), (1L, 1), (1L, 2), (2L, 0)), ways.keySet.toString)
    ways.values.foreach { case (_, nds) =>
      assert(nds.head == nds.last && nds.distinct.length == nds.length - 1, nds.toString)
    }
    assert(ways((1L, 0))._2.length == 5 && ways((1L, 1))._2.length == 4)

    // relations: ONLY the holed feature, outer member first then one
    // inner member PER hole, refs pointing at the actual ring way ids
    val rels = f.polyRelations.collect()
    assert(rels.map(_.getLong(0)).toSeq == Seq(1L), rels.mkString(","))
    val members = f.polyRelations.select(org.apache.spark.sql.functions.explode(col("members")).as("m"))
      .select("m.ref", "m.mtype", "m.role").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(members.toSeq == Seq(
      (ways((1L, 0))._1, "way", "outer"),
      (ways((1L, 1))._1, "way", "inner"),
      (ways((1L, 2))._1, "way", "inner")), members.mkString(","))

    // way node refs resolve against emitted poly nodes (referential
    // integrity of the generated document)
    val nodeIds = f.polyNodes.select("node_id").collect().map(_.getLong(0)).toSet
    ways.values.foreach { case (_, nds) => assert(nds.forall(nodeIds.contains), nds.toString) }

    // e2e: the document writes and re-reads with the relation intact
    val out = Files.createTempFile("graft_wkb_poly", ".osc").toString
    OsmChangeXml.write(out, f.nodeXml.unionByName(f.wayXml).unionByName(f.relXml),
      Some(f.modifyXml), Some(f.deleteXml))
    val rd = OsmXmlSource.relations(spark, out).toDF()
    val gotMembers = rd.filter(org.apache.spark.sql.functions.size(col("members")) === 3)
      .select(org.apache.spark.sql.functions.explode(col("members")).as("m"))
      .select("m.role").collect().map(_.getString(0)).toSeq
    assert(gotMembers == Seq("outer", "inner", "inner"), gotMembers.toString)
    Files.deleteIfExists(Paths.get(out))
  }
  test("CLI database mode: a jdbc-URL argv run produces the parquet-mode run's changefile (embedded Derby)") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_clijdbc").toString
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      Files.copy(Paths.get(s"${TestSpark.Sf}/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    }
    // a suffix-discovered deletion table naming existing ways the
    // snapshot diff does NOT already remove (diff removes %13==5)
    val doomed = spark.read.parquet(s"$tmp/lineitem.parquet")
      .select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") % 13 === 1)
      .orderBy("l_orderkey").limit(5)
      .select(col("l_orderkey").as("osm_id"))
    doomed.write.parquet(s"$tmp/custom_deletions.parquet")

    // the SAME snapshot as a live database
    val url = "jdbc:derby:memory:graft_cli;create=true"
    val props = new java.util.Properties
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      spark.read.parquet(s"$tmp/$t.parquet").write.mode("overwrite").jdbc(url, t, props)
    }
    doomed.write.mode("overwrite").jdbc(url, "custom_deletions", props)

    // metadata discovery finds the deletion table, nothing else —
    // SCHEMA-QUALIFIED (Derby's default schema is APP), so the
    // read-back targets the discovered table rather than resolving
    // the bare name through search_path on a multi-schema database
    assert(ChangegenPipeline.discoverTables(url, "_deletions")
      == Seq("app.custom_deletions"))

    // the FULL CLI path (run() is main() minus session lifecycle),
    // identical argv except the first argument: directory vs jdbc URL
    val outP = s"$tmp/parquet_mode.osc"
    val outJ = s"$tmp/jdbc_mode.osc"
    val flags = Array("--max-nodes-per-way=7", "--id-offset=1000000", "--neg-ids=false",
      "--shards=0", "--deletion-suffix=_deletions")
    ChangegenPipeline.run(Array(tmp, outP) ++ flags, spark)
    ChangegenPipeline.run(Array(url, outJ) ++ flags, spark)

    // same changefile CONTENT: within-section row order is partition
    // order (layout-dependent by design — 8 JDBC ranges vs one parquet
    // file), so each section compares as a sorted element multiset
    def sections(path: String): Map[String, Seq[String]] = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      val open = "<(create|modify|delete)>".r
      var cur: Option[String] = None
      val acc = scala.collection.mutable.Map[String, Vector[String]]().withDefaultValue(Vector())
      lines.foreach {
        case l if open.matches(l.trim) => cur = Some(l.trim.stripPrefix("<").stripSuffix(">"))
        case l if cur.exists(c => l.trim == s"</$c>") => cur = None
        case l => cur.foreach(c => acc(c) = acc(c) :+ l.trim)
      }
      acc.toMap.view.mapValues(_.sorted.toSeq).toMap
    }
    val sp = sections(outP)
    val sj = sections(outJ)
    assert(sp.keySet == Set("create", "modify", "delete"), sp.keySet.toString)
    sp.keySet.foreach { s =>
      assert(sp(s).nonEmpty, s"empty section $s")
      assert(sj(s) == sp(s),
        s"section $s diverges: jdbc=${sj(s).size} rows, parquet=${sp(s).size} rows; " +
          s"first diff: ${sj(s).zip(sp(s)).find(p => p._1 != p._2)}")
    }
    // the discovered deletion table's ways are in BOTH runs' <delete>
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    val delWays = sp("delete").flatMap("<way id=\"(\\d+)\"".r.findFirstMatchIn(_)).map(_.group(1).toLong).toSet
    assert(doomedIds.subsetOf(delWays), s"missing: ${doomedIds -- delWays}")
  }
  test("MULTI* WKB routes through the pipeline: MultiLineString parts become split ways, MultiPolygon parts relation members") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr

    // MultiPolygon: part 0 = holed square (closed 5-pt exterior +
    // closed 4-pt hole), part 1 = plain closed triangle — the input
    // shape the reference crashes on (generator.py:603-606)
    val outer = Array((50.0, 50.0), (60.0, 50.0), (60.0, 60.0), (50.0, 60.0), (50.0, 50.0))
    val hole = Array((52.0, 52.0), (54.0, 52.0), (52.0, 54.0), (52.0, 52.0))
    val tri = Array((70.0, 50.0), (74.0, 50.0), (70.0, 54.0), (70.0, 50.0))
    val mp = WkbGeomExpr.encodeMulti(6, Array(Array(outer, hole), Array(tri)), srid = 4326)
    val poly = Seq((1L, mp)).toDF("pgroup", "wkb")

    // MultiLineString: 2 parts x 9 vertices; maxNodes=7 (segmentLen 6)
    // forces each part to split into ceil(9/6) = 2 chunked ways
    def line(x0: Double) = Array.tabulate(9)(i => (x0 + i, 80.0 + i))
    val ml = WkbGeomExpr.encodeMulti(5, Array(Array(line(0.0)), Array(line(20.0))))
    val lines = Seq((7L, ml)).toDF("lgroup", "wkb")

    val f = ChangegenPipeline.build(spark, TestSpark.Sf, maxNodes = 7,
      idOffset = Some(1000000L), polyWkb = Some(poly), lineWkb = Some(lines))

    // every MLS vertex becomes a node; each part is its own feature
    // and splits at the cap: 2 parts x 2 chunks = 4 ways
    assert(f.nodes.count() == 18)
    val chunks = f.splitWays.select(col("way").cast("long"), col("chunk_idx").cast("long"),
        col("chunk_nds")).as[(Long, Long, Seq[Long])].collect()
    assert(chunks.length == 4, chunks.mkString(","))
    val byFeat = chunks.groupBy(_._1)
    assert(byFeat.keySet.size == 2)
    byFeat.values.foreach { cs =>
      assert(cs.map(_._2).sorted.toSeq == Seq(0L, 1L))
      cs.foreach { case (_, _, nds) => assert(nds.length <= 7, nds.toString) }
      // consecutive chunks share their joiner node (way continuity)
      val sorted = cs.sortBy(_._2)
      assert(sorted(0)._3.last == sorted(1)._3.head)
      // chunks re-concatenate to the part's 9 nodes, no loss
      assert((sorted(0)._3 ++ sorted(1)._3.drop(1)).length == 9)
    }

    // polygon parts: rings drop their closing duplicate before node
    // assignment (4 + 3 + 3 = 10 nodes), every ring becomes a closed
    // way, and the MULTI-part feature assembles ONE relation whose
    // members are (part, ring)-ordered: outer, inner, outer
    assert(f.polyNodes.count() == 10)
    val pws = f.polyWays.select(col("way_id").cast("long"), col("closed_nds"))
      .as[(Long, Seq[Long])].collect()
    assert(pws.length == 3, pws.mkString(","))
    pws.foreach { case (_, nds) => assert(nds.head == nds.last, nds.toString) }
    val rels = f.polyRelations.select(col("members")).collect()
    assert(rels.length == 1)
    val members = rels(0).getSeq[org.apache.spark.sql.Row](0)
      .map(m => (m.getAs[Long]("ref"), m.getAs[String]("role")))
    assert(members.map(_._2) == Seq("outer", "inner", "outer"), members.toString)
    // member refs point at emitted way ids (referential integrity)
    assert(members.map(_._1).toSet.subsetOf(pws.map(_._1).toSet))
  }
  test("CLI --poly-table/--line-table: WKB feature tables in the database flow to the .osc (MULTI* included)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    val tmp = Files.createTempDirectory("graft_cligeom").toString
    val url = "jdbc:derby:memory:graft_cli_geom;create=true"
    val props = new java.util.Properties
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").write.mode("overwrite").jdbc(url, t, props)
    }
    // real-geometry feature tables, hex-EWKB like a PostGIS text wire:
    // one MultiPolygon feature (part 0 holed + part 1 plain) and one
    // MultiLineString feature (2 parts x 9 vertices; maxNodes=7 splits
    // each part into 2 chunked ways)
    val outer = Array((50.0, 50.0), (60.0, 50.0), (60.0, 60.0), (50.0, 60.0), (50.0, 50.0))
    val hole = Array((52.0, 52.0), (54.0, 52.0), (52.0, 54.0), (52.0, 52.0))
    val tri = Array((70.0, 50.0), (74.0, 50.0), (70.0, 54.0), (70.0, 50.0))
    val mpHex = WkbGeomExpr.encodeMulti(6, Array(Array(outer, hole), Array(tri)), srid = 4326)
      .map("%02x".format(_)).mkString
    def line(x0: Double) = Array.tabulate(9)(i => (x0 + i, 80.0 + i))
    val mlHex = WkbGeomExpr.encodeMulti(5, Array(Array(line(0.0)), Array(line(20.0))))
      .map("%02x".format(_)).mkString
    Seq((1L, mpHex)).toDF("id", "wkb_geometry").write.mode("overwrite").jdbc(url, "poly_feats", props)
    Seq((7L, mlHex)).toDF("id", "wkb_geometry").write.mode("overwrite").jdbc(url, "line_feats", props)

    val out = s"$tmp/geom_mode.osc"
    ChangegenPipeline.run(Array(url, out, "--max-nodes-per-way=7", "--id-offset=1000000",
      "--poly-table=poly_feats", "--line-table=line_feats"), spark)
    val doc = new String(java.nio.file.Files.readAllBytes(Paths.get(out)), "UTF-8")
    // the MultiPolygon assembles ONE relation, members (part, ring)-
    // ordered outer/inner/outer, refs resolving to emitted ways
    val rel = "<relation[^>]*>(.*?)</relation>".r.findFirstMatchIn(
      doc.replace("\n", " ")).map(_.group(1)).getOrElse(fail(s"no relation in $out"))
    val roles = "role=\"(\\w+)\"".r.findAllMatchIn(rel).map(_.group(1)).toSeq
    assert(roles == Seq("outer", "inner", "outer"), roles.toString)
    val refs = "ref=\"(\\d+)\"".r.findAllMatchIn(rel).map(_.group(1)).toSet
    val wayIds = "<way id=\"(\\d+)\"".r.findAllMatchIn(doc).map(_.group(1)).toSet
    assert(refs.subsetOf(wayIds), s"relation refs $refs not all emitted as ways")
    // each MultiLineString part split into 2 chunks: the create section
    // carries 4 linear ways (tag highway=path) + 3 polygon ways (area=yes)
    assert(doc.sliding("highway".length).count(_ == "highway") == 4, "4 split line ways")
    assert("<way id=\"\\d+\" version=\"1\">".r.findAllIn(doc).size >= 7)
  }

  test("CLI --modify-meta/--hstore-tags: suffix tables become v2 modifies with column+hstore tags (reference __main__.py:104-117,152-163)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    val tmp = Files.createTempDirectory("graft_cli_mm").toString
    val url = "jdbc:derby:memory:graft_cli_mm;create=true"
    val props = new java.util.Properties
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").write.mode("overwrite").jdbc(url, t, props)
    }
    // two existing way ids (synthetic existing side: lineitem
    // l_orderkey → ordered l_partkey node lists)
    val li = spark.read.parquet(s"${TestSpark.Sf}/lineitem.parquet")
    val wayIds = li.groupBy("l_orderkey").count().filter(col("count") >= 2)
      .orderBy("l_orderkey").limit(2).collect().map(_.getLong(0))
    def expectedNds(w: Long): Seq[Long] = li.filter(col("l_orderkey") === w)
      .orderBy("l_linenumber").select("l_partkey").collect().map(_.getLong(0)).toSeq
    // line feature table: osm_id + tag columns + hstore column whose
    // `surface` key must LOSE to the table column, `sac_scale` must
    // come through (the reference's column-precedence merge)
    val lineHex = WkbGeomExpr.encode(2, Array((1.0, 2.0), (3.0, 4.0)))
      .map("%02x".format(_)).mkString
    wayIds.zipWithIndex.map { case (w, i) =>
      (w, s"Trail $i", "gravel",
        "\"surface\"=>\"SHOULD_LOSE\", \"sac_scale\"=>\"hiking\"", lineHex)
    }.toSeq.toDF("osm_id", "name", "surface", "tags", "wkb_geometry")
      .write.mode("overwrite").jdbc(url, "trails_new", props)
    // point feature table: becomes a v2 <node> at its own coordinates
    val ptHex = WkbGeomExpr.encode(1, Array((7.25, 40.5))).map("%02x".format(_)).mkString
    Seq((777L, "shelter", "\"ele\"=>\"2042\"", ptHex))
      .toDF("osm_id", "amenity", "tags", "wkb_geometry")
      .write.mode("overwrite").jdbc(url, "pois_new", props)

    val out = s"$tmp/modify_meta.osc"
    ChangegenPipeline.run(Array(url, out, "--suffix=_new", "--modify-meta", "--hstore-tags=tags"), spark)
    val doc = new String(java.nio.file.Files.readAllBytes(Paths.get(out)), "UTF-8")

    // no creates, no deletes — only v2 modifies
    assert(!doc.contains("version=\"1\""), "modify-meta must not create elements")
    val modWays = "<way id=\"(\\d+)\" version=\"2\">".r.findAllMatchIn(doc).map(_.group(1).toLong).toSet
    assert(modWays == wayIds.toSet, s"modified ways: $modWays")
    // geometry untouched: node refs = the existing way's ordered list
    val w0 = wayIds.head
    val wayXml = s"""<way id="$w0" version="2">(.*?)</way>""".r
      .findFirstMatchIn(doc.replace("\n", " ")).map(_.group(1)).getOrElse(fail("way missing"))
    val nds = "<nd ref=\"(\\d+)\"/>".r.findAllMatchIn(wayXml).map(_.group(1).toLong).toSeq
    assert(nds == expectedNds(w0), s"nds diverge: $nds vs ${expectedNds(w0)}")
    // tags: columns present, column wins over hstore, hstore-only key
    // present, osm_id and the hstore column itself never emitted
    assert(wayXml.contains("<tag k=\"name\" v=\"Trail 0\"/>"))
    assert(wayXml.contains("<tag k=\"surface\" v=\"gravel\"/>") && !wayXml.contains("SHOULD_LOSE"))
    assert(wayXml.contains("<tag k=\"sac_scale\" v=\"hiking\"/>"))
    assert(!wayXml.contains("k=\"osm_id\"") && !wayXml.contains("k=\"tags\""))
    // the point feature: v2 node at its own coordinates with merged tags
    val nodeXml = "<node id=\"777\" version=\"2\"[^/]*>.*?</node>|<node id=\"777\" version=\"2\"[^>]*/>".r
      .findFirstIn(doc.replace("\n", " ")).getOrElse(fail("no v2 node 777"))
    assert(nodeXml.contains("lat=\"40.500000\"") && nodeXml.contains("lon=\"7.250000\""), nodeXml)
    assert(nodeXml.contains("k=\"amenity\"") && nodeXml.contains("k=\"ele\""), nodeXml)
    // the reference's incompatibility rule surfaces as a loud error
    val ex = intercept[IllegalArgumentException] {
      ChangegenPipeline.run(Array(url, out, "--suffix=_new", "--modify-meta", "--existing=trails_new"), spark)
    }
    assert(ex.getMessage.contains("--modify-meta cannot be used with --existing"))
  }

  test("CLI --suffix discovery + --existing: creates from discovered tables, junctions only against named geometries (reference __main__.py:73-103)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    import graft.osm.{OsmModel, OsmPbf}
    val tmp = Files.createTempDirectory("graft_cli_sfx").toString
    val url = "jdbc:derby:memory:graft_cli_sfx;create=true"
    val props = new java.util.Properties
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").write.mode("overwrite").jdbc(url, t, props)
    }
    // extract: way 9001 (named in --existing) and way 9002 (NOT named)
    val n1 = Seq((501L, 5.0, 5.0), (502L, 5.0, 6.0), (503L, 5.0, 7.0))
    val n2 = Seq((601L, 50.0, 50.0), (602L, 50.0, 51.0))
    val pbfNodes = (n1 ++ n2).map { case (id, x, y) => OsmModel.Node(id, 1, y, x, Map.empty) }
    val pbf = Files.createTempFile("graft_sfx", ".osm.pbf").toString
    OsmPbf.write(pbf, pbfNodes, Seq(
      OsmModel.Way(9001L, 1, n1.map(_._1), Map.empty),
      OsmModel.Way(9002L, 1, n2.map(_._1), Map.empty)), Nil)
    // --existing table: way 9001's geometry only
    Seq((9001L, WkbGeomExpr.encode(2, n1.map(p => (p._2, p._3)).toArray).map("%02x".format(_)).mkString))
      .toDF("osm_id", "wkb_geometry").write.mode("overwrite").jdbc(url, "trails_existing", props)
    // discovered feature tables: a LineString table whose features run
    // within 0.5 of BOTH extract ways' vertices (only 9001 may
    // junction — 9002 is not in --existing), and a Polygon table
    val roadHexA = WkbGeomExpr.encode(2, Array((5.2, 5.0), (5.2, 6.0))).map("%02x".format(_)).mkString
    val roadHexB = WkbGeomExpr.encode(2, Array((50.2, 50.0), (50.2, 51.0))).map("%02x".format(_)).mkString
    Seq((1L, roadHexA), (2L, roadHexB)).toDF("id", "wkb_geometry")
      .write.mode("overwrite").jdbc(url, "roads_new", props)
    val lakeHex = WkbGeomExpr.encodePolygon(
      Array(Array((80.0, 10.0), (82.0, 10.0), (80.0, 12.0), (80.0, 10.0)))).map("%02x".format(_)).mkString
    Seq((1L, lakeHex)).toDF("id", "wkb_geometry")
      .write.mode("overwrite").jdbc(url, "lakes_new", props)

    val out = s"$tmp/suffix_mode.osc"
    ChangegenPipeline.run(Array(url, out, "--suffix=_new", s"--osmsrc=$pbf",
      "--existing=trails_existing", "--id-offset=1000000"), spark)
    val doc = new String(java.nio.file.Files.readAllBytes(Paths.get(out)), "UTF-8")

    // creates from BOTH discovered tables, with no per-table flags:
    // 2 line ways (highway=path) + 1 polygon way (area=yes)
    assert(doc.sliding("highway".length).count(_ == "highway") == 2, "2 discovered line ways")
    assert(doc.contains("area"), "discovered polygon way missing")
    // junction restriction: way 9001 modified with a spliced junction
    // node; way 9002 untouched even though a new feature runs beside it
    val modWays = "<way id=\"(\\d+)\" version=\"2\">".r.findAllMatchIn(doc).map(_.group(1).toLong).toSet
    assert(modWays == Set(9001L), s"modified ways: $modWays (9002 must not junction)")
    val mod = s"""<way id="9001" version="2">(.*?)</way>""".r
      .findFirstMatchIn(doc.replace("\n", " ")).map(_.group(1)).getOrElse(fail("no modify"))
    val nds = "<nd ref=\"(\\d+)\"/>".r.findAllMatchIn(mod).map(_.group(1).toLong).toSeq
    assert(nds.filter(_ < 1000000L) == n1.map(_._1), s"original order broken: $nds")
    assert(nds.exists(_ >= 1000000L), s"no junction spliced: $nds")
    Files.deleteIfExists(Paths.get(pbf))
  }

  test("CLI point-feature creates: a discovered POI table becomes v1 <create> nodes with table tags (reference generator.py:622-631)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    val tmp = Files.createTempDirectory("graft_cli_poi").toString
    val url = "jdbc:derby:memory:graft_cli_poi;create=true"
    val props = new java.util.Properties
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").write.mode("overwrite").jdbc(url, t, props)
    }
    def ptHex(x: Double, y: Double) =
      WkbGeomExpr.encode(1, Array((x, y))).map("%02x".format(_)).mkString
    Seq((11L, "cafe", ptHex(7.25, 40.5)), (12L, "bench", ptHex(-3.125, 60.0)))
      .toDF("osm_id", "kind", "wkb_geometry")
      .write.mode("overwrite").jdbc(url, "poi_new", props)

    val out = s"$tmp/poi.osc"
    // the exact argv path a reference user runs: suffix discovery
    // routes the point-class table to the v1-node create seam
    ChangegenPipeline.run(Array(url, out, "--suffix=_new", "--id-offset=1000000"), spark)
    val doc = new String(java.nio.file.Files.readAllBytes(Paths.get(out)), "UTF-8")
    val create = doc.split("</create>")(0)
    val pois = """<node id="(\d+)" version="1" lat="([-\d.]+)" lon="([-\d.]+)"><tag.*?</node>"""
      .r.findAllMatchIn(create.replace("\n", " ")).toSeq
      .filter(_.matched.contains("\"kind\""))
    assert(pois.size == 2, s"expected 2 POI create nodes, got ${pois.size}")
    val byKind = pois.map(m => (
      """<tag k="kind" v="(\w+)"/>""".r.findFirstMatchIn(m.matched).get.group(1),
      (m.group(2), m.group(3), m.matched))).toMap
    assert(byKind("cafe")._1 == "40.500000" && byKind("cafe")._2 == "7.250000")
    assert(byKind("bench")._1 == "60.000000" && byKind("bench")._2 == "-3.125000")
    // create-mode tags keep osm_id (only the modify branch filters it)
    assert(byKind("cafe")._3.contains("""<tag k="osm_id" v="11"/>"""))
    // section gate: the create path emits points as NODES only — no
    // way references a point node's id
    val pointIds = pois.map(m => m.group(1).toLong).toSet
    val wayRefs = "<nd ref=\"(\\d+)\"/>".r.findAllMatchIn(doc).map(_.group(1).toLong).toSet
    assert(pointIds.intersect(wayRefs).isEmpty, "point create nodes must not join ways")
  }

  test("CLI --self: two crossing NEW lines share ONE junction node id in the .osc (reference __main__.py:131-140, db.py:134)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    val tmp = Files.createTempDirectory("graft_cli_self").toString
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      Files.copy(Paths.get(s"${TestSpark.Sf}/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    }
    // two lines crossing at exactly (65, 85) — placed far from the
    // synthetic existing nodes (coords ≤ 100 grid) so the only
    // junction machinery exercised deterministically is --self's
    def hex(pts: Array[(Double, Double)]) =
      WkbGeomExpr.encode(2, pts).map("%02x".format(_)).mkString
    Seq((1L, hex(Array((60.0, 85.0), (70.0, 85.0)))),
        (2L, hex(Array((65.0, 80.0), (65.0, 90.0)))))
      .toDF("osm_id", "wkb_geometry")
      .write.parquet(s"$tmp/trails_new.parquet")

    val out = s"$tmp/self.osc"
    ChangegenPipeline.run(Array(tmp, out, "--suffix=_new", "--self=true",
      "--id-offset=1000000"), spark)
    val doc = new String(java.nio.file.Files.readAllBytes(Paths.get(out)), "UTF-8")
    // exactly one junction node at the crossing
    val jn = """<node id="(\d+)" version="1" lat="85\.000000" lon="65\.000000"""".r
      .findAllMatchIn(doc).map(_.group(1).toLong).toSeq
    assert(jn.size == 1, s"expected ONE junction node at (65,85): $jn")
    // BOTH new ways reference it, inserted between their own vertices
    val newWays = """<way id="(\d+)" version="1">((?:<nd[^>]*/>)+)""".r
      .findAllMatchIn(doc.replace("\n", "")).toSeq
      .map(m => (m.group(1).toLong, "<nd ref=\"(\\d+)\"/>".r.findAllMatchIn(m.group(2)).map(_.group(1).toLong).toSeq))
      .filter { case (_, nds) => nds.contains(jn.head) }
    assert(newWays.size == 2, s"junction must be shared by BOTH crossing ways: $newWays")
    newWays.foreach { case (w, nds) =>
      assert(nds.size == 3 && nds(1) == jn.head,
        s"way $w: junction must sit between the original vertices: $nds")
    }
    // counts gate through the frames the CLI writes from
    val f = ChangegenPipeline.build(spark, tmp, idOffset = Some(1000000L),
      lineWkb = Some(spark.read.parquet(s"$tmp/trails_new.parquet")
        .select((col("osm_id") + (1L << 40)).as("lgroup"), col("wkb_geometry").as("wkb"))),
      selfIntersect = true)
    assert(f.selfJunctions.count() == 1)
    assert(f.nodes.count() == 4) // the four original vertices
  }

  test("--self T-junction: a vertex-coincident junction REUSES the node id; the other way inserts it (generator.py:429-448)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    // line 1: (60,85)-(70,85); line 2 STARTS exactly ON it at (65,85)
    // and runs away — a T. The junction coincides with line 2's first
    // vertex (reuse, no new node for it) and sits in line 1's
    // interior (insert).
    def hex(pts: Array[(Double, Double)]) =
      WkbGeomExpr.encode(2, pts).map("%02x".format(_)).mkString
    val feats = Seq(
      (1L, hex(Array((60.0, 85.0), (70.0, 85.0)))),
      (2L, hex(Array((65.0, 85.0), (65.0, 95.0)))))
      .toDF("osm_id", "wkb_geometry")
    val f = ChangegenPipeline.build(spark, TestSpark.Sf, idOffset = Some(1000000L),
      lineWkb = Some(feats.select(col("osm_id").as("lgroup"), col("wkb_geometry").as("wkb"))),
      selfIntersect = true)
    assert(f.selfJunctions.count() == 1)
    val j = f.selfJunctions.select("node_id").as[Long].head()
    val ways = f.splitWays.select(col("way"), col("chunk_nds"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(ways.size == 2, ways.toString)
    val stem = ways.minBy(_._2.size) // line 2: first vertex reused → 2 nds
    val bar = ways.maxBy(_._2.size)  // line 1: junction inserted → 3 nds
    assert(bar._2.size == 3 && bar._2(1) == j,
      s"junction must INSERT into the crossed line's interior: $ways j=$j")
    assert(stem._2.size == 2 && stem._2.head == j,
      s"junction must REPLACE the coincident vertex (reuse, not insert): $ways j=$j")
    // the replaced vertex is not emitted: 4 original verts - 1 reused
    // + 1 junction = 4 line nodes in the changefile
    assert(f.nodeXml.count() - f.polyNodes.count() == 4,
      s"emitted line nodes: ${f.nodeXml.count() - f.polyNodes.count()}")
  }

  test("CLI --deletions repeats like the reference's -d; --debug narrates stages; an unknown name or repeated scalar flag fails loudly (__main__.py:72,84-93)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_cli_ndel").toString
    val url = "jdbc:derby:memory:graft_cli_ndel;create=true"
    val props = new java.util.Properties
    Seq("supplier", "lineitem", "orders", "part").foreach { t =>
      spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").write.mode("overwrite").jdbc(url, t, props)
    }
    // ways the snapshot diff does NOT already remove, in a table whose
    // name shares no suffix convention with anything
    val doomed = spark.read.jdbc(url, "lineitem", props)
      .select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") % 13 === 2)
      .orderBy("l_orderkey").limit(3)
      .select(col("l_orderkey").as("osm_id"))
    doomed.write.mode("overwrite").jdbc(url, "legacy_removed", props)
    // a SECOND named table, passed as a second --deletions occurrence
    // (the reference's -d is repeatable) — the union must reach <delete>
    val doomed2 = spark.read.jdbc(url, "lineitem", props)
      .select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") % 13 === 3)
      .orderBy("l_orderkey").limit(2)
      .select(col("l_orderkey").as("osm_id"))
    doomed2.write.mode("overwrite").jdbc(url, "legacy_removed2", props)

    val out = s"$tmp/named_del.osc"
    val bout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bout, true, "UTF-8")) {
      ChangegenPipeline.run(Array(url, out, "--deletions=legacy_removed",
        "--deletions=legacy_removed2", "--id-offset=1000000", "--debug"), spark)
    }
    val doc = new String(java.nio.file.Files.readAllBytes(Paths.get(out)), "UTF-8")
    val delWays = """<way id="(\d+)" version="1"/>""".r
      .findAllMatchIn(doc.split("<delete>")(1)).map(_.group(1).toLong).toSet
    val doomedIds = (doomed.collect() ++ doomed2.collect()).map(_.getLong(0)).toSet
    assert(doomedIds.subsetOf(delWays), s"missing named deletions: ${doomedIds -- delWays}")
    // --debug stage narration reached the console
    val log = bout.toString("UTF-8")
    assert(log.contains("[changegen:debug] stage 1 (new features)"), log.take(1500))
    assert(log.contains("[changegen:debug] stage 5 (write): done"), log.take(1500))
    // unknown table name: loud failure before any work
    val e = intercept[IllegalArgumentException] {
      ChangegenPipeline.run(Array(url, out, "--deletions=no_such_table"), spark)
    }
    assert(e.getMessage.contains("no_such_table"))
    // a repeated NON-list flag is an error, not a silent last-wins
    val dup = intercept[IllegalArgumentException] {
      ChangegenPipeline.run(Array(url, out, "--id-offset=1000000",
        "--id-offset=2000000"), spark)
    }
    assert(dup.getMessage.contains("--id-offset"), dup.getMessage)
    // options are flags only: a third positional argument is an error
    val extra = intercept[IllegalArgumentException] {
      ChangegenPipeline.run(Array(url, out, "7"), spark)
    }
    assert(extra.getMessage.contains("unexpected positional argument(s): 7"), extra.getMessage)
  }

  test("modify-meta with an osm_id missing from the extract fails loudly (reference KeyError, generator.py:634-650)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.WkbGeomExpr
    val lineHex = WkbGeomExpr.encode(2, Array((1.0, 1.0), (2.0, 2.0))).map("%02x".format(_)).mkString
    // 999999999 is no synthetic way (l_orderkey) — the reference
    // crashes with KeyError; an inner join would silently drop it
    val feats = Seq((999999999L, "x", lineHex)).toDF("osm_id", "kind", "wkb_geometry")
    val e = intercept[IllegalArgumentException] {
      ChangegenPipeline.buildModifyOnly(spark, TestSpark.Sf,
        features = Seq(("ghost_new", feats, 2))).modifyXml.count()
    }
    assert(e.getMessage.contains("999999999"), e.getMessage)
  }

  test("the table classifier reads the codec's WKB header and names an unreadable one") {
    import graft.functions.WkbGeomExpr
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val line = Array((1.0, 2.0), (3.0, 4.0))
    val ring = Array((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0))
    assert(ChangegenPipeline.wkbClass(WkbGeomExpr.encode(1, line.take(1))) == 1)
    assert(ChangegenPipeline.wkbClass(hex(WkbGeomExpr.encode(2, line, srid = 4326))) == 2)
    assert(ChangegenPipeline.wkbClass(WkbGeomExpr.encodePolygon(Array(ring), bigEndian = true)) == 3)
    assert(ChangegenPipeline.wkbClass(hex(WkbGeomExpr.encodeMulti(5, Array(Array(line))))) == 2)
    assert(ChangegenPipeline.wkbClass(WkbGeomExpr.encodeMulti(6, Array(Array(ring)), srid = 3857)) == 3)
    // ISO Z polygon (1003) is a polygon
    assert(ChangegenPipeline.wkbClass("01eb030000") == 3)
    // a non-hex header, and ISO dimension code 4 (type 4001), are not
    // geometries: both fail naming the header instead of a parse error
    // or a point class
    val nonHex = "zz01000000" + hex(WkbGeomExpr.encode(1, line.take(1))).drop(10)
    val iso4 = "01a10f0000" + hex(WkbGeomExpr.encode(1, line.take(1))).drop(10)
    Seq(nonHex -> "zz0100000000000000", iso4 -> "01a10f000000000000").foreach { case (v, head) =>
      val e = intercept[IllegalArgumentException](ChangegenPipeline.wkbClass(v))
      assert(e.getMessage.contains(s"unreadable WKB header '$head'"), e.getMessage)
    }
    val bytes = intercept[IllegalArgumentException](ChangegenPipeline.wkbClass(Array[Byte](2, 1, 0, 0, 0)))
    assert(bytes.getMessage.contains("unreadable WKB header '0201000000'"), bytes.getMessage)
  }
}

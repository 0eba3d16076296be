package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{DWithinJoin, Geo}

class GeoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def line(pts: (Double, Double)*) =
    array(pts.map { case (x, y) => struct(lit(x).as("x"), lit(y).as("y")) }: _*)

  test("closestOnSegment clamps to endpoints") {
    val df = Seq(1).toDF("i").select(
      Geo.closestOnSegment(lit(0.0), lit(0.0), lit(10.0), lit(0.0), lit(-5.0), lit(3.0)).as("cp"))
    val r = df.select("cp.t", "cp.x", "cp.y").as[(Double, Double, Double)].head()
    assert(r == ((0.0, 0.0, 0.0)))
  }

  test("closestOnLine picks the right segment") {
    val df = Seq(1).toDF("i").select(
      Geo.closestOnLine(line((0, 0), (10, 0), (10, 10)), lit(9.0), lit(4.0)).as("cp"))
    val r = df.select("cp.seg", "cp.x", "cp.y").as[(Int, Double, Double)].head()
    assert(r._1 == 1 && r._2 == 10.0 && r._3 == 4.0)
  }

  test("native closestOnLine is bit-identical to the HOF form on real data") {
    val sp = spark.read.parquet(s"${TestSpark.Sf}/supplier.parquet")
      .select((col("s_nationkey") % 5).as("nk"), col("s_suppkey").as("k"),
        ((col("s_suppkey") * 13 % 1000) / 10.0).as("x"), ((col("s_suppkey") * 29 % 1000) / 10.0).as("y"))
    val lines = sp.groupBy("nk")
      .agg(array_sort(collect_list(struct(col("k"), col("x"), col("y")))).as("kxy"))
      .withColumn("line", transform(col("kxy"), e => struct(e.getField("x").as("x"), e.getField("y").as("y"))))
      .filter(size(col("line")) >= 2)
    val pts = spark.read.parquet(s"${TestSpark.Sf}/customer.parquet")
      .select(col("c_custkey"), (col("c_nationkey") % 5).as("nk"),
        ((col("c_custkey") * 13 % 1000) / 10.0).as("px"), ((col("c_custkey") * 29 % 1000) / 10.0).as("py"))
    val joined = pts.join(broadcast(lines), "nk")
    val nativeIdx = joined.select(col("c_custkey"), Geo.insertionIndex(col("line"), col("px"), col("py")).as("ix"))
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    val hofIdx = joined.select(col("c_custkey"), Geo.insertionIndexHof(col("line"), col("px"), col("py")).as("ix"))
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(nativeIdx == hofIdx && nativeIdx.nonEmpty)
    val native = joined.select(col("c_custkey"), Geo.closestOnLine(col("line"), col("px"), col("py")).as("cp"))
      .select(col("c_custkey"), col("cp.d2"), col("cp.seg"), col("cp.t"), col("cp.x"), col("cp.y"))
      .as[(Long, Double, Int, Double, Double, Double)].collect().sortBy(_._1).toSeq
    val hof = joined.select(col("c_custkey"), Geo.closestOnLineHof(col("line"), col("px"), col("py")).as("cp"))
      .select(col("c_custkey"), col("cp.d2"), col("cp.seg"), col("cp.t"), col("cp.x"), col("cp.y"))
      .as[(Long, Double, Int, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(native == hof && native.nonEmpty)
  }

  test("insertionIndex places point between vertices") {
    val df = Seq(1).toDF("i")
    // point projects onto the middle of segment 0 → insert at index 1
    val idx = df.select(Geo.insertionIndex(line((0, 0), (10, 0), (20, 0)), lit(5.0), lit(1.0))).as[Int].head()
    assert(idx == 1)
    // beyond the end → len-1
    val idxEnd = df.select(Geo.insertionIndex(line((0, 0), (10, 0)), lit(99.0), lit(0.0))).as[Int].head()
    assert(idxEnd == 1)
  }

  test("insertionIndex on an exact vertex hit inserts AFTER the vertex, native and HOF alike") {
    // The projection lands exactly ON vertex 1: its location fraction
    // equals the vertex's own fraction, and the closest-segment argmin
    // ties between seg 0 (t=1) and seg 1 (t=0). The fp9-quantized
    // comparison makes the tie deterministic across engines — "not
    // less" → insertion goes after the coincident vertex (index 2),
    // never 1-vs-2 depending on ulp rounding or which segment won.
    val df = Seq(1).toDF("i")
    val l = line((0, 0), (10, 0), (20, 0))
    val native = df.select(Geo.insertionIndex(l, lit(10.0), lit(0.0))).as[Int].head()
    val hof = df.select(Geo.insertionIndexHof(l, lit(10.0), lit(0.0))).as[Int].head()
    assert(native == 2 && hof == 2)
    // irrational segment lengths (fractions not exactly representable)
    // still agree between the two forms on a vertex hit
    val l2 = line((0, 0), (1, 1), (3, 2), (4, 0))
    val n2 = df.select(Geo.insertionIndex(l2, lit(1.0), lit(1.0))).as[Int].head()
    val h2 = df.select(Geo.insertionIndexHof(l2, lit(1.0), lit(1.0))).as[Int].head()
    assert(n2 == h2 && n2 == 2)
  }

  test("insertionIndex and closestOnLine null out on all-NaN coordinates (no crash)") {
    val df = Seq(1).toDF("i")
    val nanLine = line((Double.NaN, Double.NaN), (Double.NaN, Double.NaN))
    // every segment d2 is NaN → no best segment; must return null, not throw
    val idx = df.select(Geo.insertionIndex(nanLine, lit(1.0), lit(1.0)).as("ix"))
      .select(col("ix").isNull).as[Boolean].head()
    assert(idx)
    val hofIdx = df.select(Geo.insertionIndexHof(nanLine, lit(1.0), lit(1.0)).as("ix"))
    // HOF twin: just must not throw (array_position miss → null or 0-based fallback)
    hofIdx.collect()
  }

  /** Rows of `df` (sorted by its leading int column, as strings) and its
    * generated whole-stage code, with whole-stage codegen and the
    * expression factory both on (`CODEGEN_ONLY`) or both off
    * (`NO_CODEGEN`). */
  private def rowsAndCode(codegen: Boolean)(df: => org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val conf = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val d = df
      (d.collect().sortBy(_.getInt(0)).map(_.toString).toSeq,
        org.apache.spark.sql.execution.debug.codegenStringSeq(d.queryExecution.executedPlan).map(_._2))
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("closest-point and insertion-index kernels agree in interpreted and generated code on edge inputs") {
    val nan = Double.NaN
    def pts(p: (Double, Double)*): Option[Seq[Option[(Double, Double)]]] = Some(p.map(Some(_)))
    val cases: Seq[(Int, Option[Seq[Option[(Double, Double)]]], Option[Double], Double)] = Seq(
      (1, Some(Nil), Some(1.0), 1.0),                                  // n = 0
      (2, pts((1, 1)), Some(1.0), 1.0),                                // n = 1
      (3, None, Some(1.0), 1.0),                                       // null line
      (4, Some(Seq(Some((0.0, 0.0)), None, Some((2.0, 0.0)))), Some(1.0), 1.0), // null vertex
      (5, pts((nan, nan), (nan, nan)), Some(1.0), 1.0),                // all NaN
      (6, pts((0, 0), (10, 0), (nan, 5)), Some(4.0), 1.0),             // one NaN vertex
      (7, pts((0, 0), (10, 0)), Some(nan), 1.0),                       // NaN point
      (8, pts((1, 1), (1, 1), (5, 1)), Some(3.0), 2.0),                // zero-length segment
      (9, pts((2, 2), (2, 2)), Some(0.0), 0.0),                        // zero-length line
      (10, pts((0, 0), (10, 0), (20, 0)), Some(10.0), 0.0),            // projection on a vertex
      (11, pts((0, 0), (1, 1), (3, 2), (4, 0)), Some(1.0), 1.0),       // on a vertex, irrational lengths
      (12, pts((0, 0), (10, 0), (10, 10)), Some(9.0), 4.0),            // plain case
      (13, pts((0, 0), (10, 0)), None, 1.0))                           // null point
    // parquet-backed, NOT a local relation: ConvertToLocalRelation
    // would evaluate a local frame's projection in the optimizer, and
    // no generated code would run
    val dir = java.nio.file.Files.createTempDirectory("graft_kernels").toString
    cases.toDF("id", "pts", "px", "py")
      .select(col("id"), col("px"), col("py"),
        transform(col("pts"), p => when(p.isNotNull, struct(p("_1").as("x"), p("_2").as("y")))).as("line"))
      .write.mode("overwrite").parquet(dir)
    def run(codegen: Boolean) = rowsAndCode(codegen) {
      spark.read.parquet(dir).select(col("id"),
        Geo.closestOnLine(col("line"), col("px"), col("py")).as("cp"),
        Geo.insertionIndex(col("line"), col("px"), col("py")).as("ix"))
    }
    val (interpreted, noCode) = run(codegen = false)
    val (generated, code) = run(codegen = true)
    assert(noCode.isEmpty, "interpreted mode still generated a whole-stage subtree")
    assert(code.exists(c => c.contains("ClosestPointExpr.compute") && c.contains("InsertionIndexExpr.compute")),
      "generated code does not call the kernels")
    assert(interpreted == generated)
    assert(interpreted.length == cases.length)
    // the edge results themselves
    val byId = interpreted.map(r => r.stripPrefix("[").takeWhile(_ != ',').toInt -> r).toMap
    (1 to 4).foreach(i => assert(byId(i) == s"[$i,null,null]", byId(i)))
    assert(byId(5) == "[5,[1.7976931348623157E308,-1,0.0,0.0,0.0],null]", byId(5))
    assert(byId(10).endsWith(",2]") && byId(11).endsWith(",2]"), (byId(10), byId(11)))
    assert(byId(12) == "[12,[1.0,1,0.4,10.0,4.0],2]", byId(12))
    assert(byId(13) == "[13,null,null]", byId(13))
  }

  test("graft_dot nulls the fold when an element is null (HOF parity)") {
    val df = Seq(1).toDF("i").select(
      array(lit(1.0f), lit(null).cast("float"), lit(3.0f)).as("a"),
      array(lit(1.0f), lit(2.0f), lit(3.0f)).as("b"))
    val native = df.select(call_function("graft_dot", col("a"), col("b")).isNull).as[Boolean].head()
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).isNull).as[Boolean].head()
    assert(native && hof)
  }

  test("graft_line_dist2: crossing=0, touching=0, parallel gap, endpoint case") {
    val df = Seq(1).toDF("i")
    def d2(a: Column, b: Column) = sqrt(call_function("graft_line_dist2", a, b))
    val out = df.select(
      d2(line((0, 0), (10, 0)), line((5, -5), (5, 5))).as("crossing"),
      d2(line((0, 0), (10, 0)), line((5, 0), (5, 5))).as("touching"),
      d2(line((0, 0), (10, 0)), line((0, 3), (10, 3))).as("parallel"),
      d2(line((0, 0), (10, 0)), line((13, 4), (20, 4))).as("corner"),
      d2(line((0, 0), (10, 0), (10, 10)), line((12, 9), (20, 9))).as("multiseg"))
      .as[(Double, Double, Double, Double, Double)].head()
    assert(out._1 == 0.0 && out._2 == 0.0 && out._3 == 3.0)
    assert(out._4 == 5.0) // endpoint (10,0) to endpoint (13,4): 3-4-5
    assert(out._5 == 2.0) // nearest via the vertical segment
    // degenerate: single-vertex line → null
    val nul = df.select(call_function("graft_line_dist2",
      line((0, 0)), line((1, 1), (2, 2))).isNull).as[Boolean].head()
    assert(nul)
  }

  test("graft_line_closest: crossing point, projection point, left-endpoint, symmetry with line_dist2") {
    val df = Seq(1).toDF("i")
    def cp(a: Column, b: Column) =
      call_function("graft_line_closest", a, b)
    val out = df.select(
      // proper crossing → the crossing point itself (on both lines)
      cp(line((0, 0), (10, 0)), line((5, -5), (5, 5))).as("crossing"),
      // parallel gap → right endpoint projects onto the left line
      cp(line((0, 0), (10, 0)), line((3, 3), (7, 3))).as("proj"),
      // corner case → the left ENDPOINT is the closest realized point
      cp(line((0, 0), (10, 0)), line((13, 4), (20, 4))).as("corner"),
      // multi-segment: nearest via the vertical segment
      cp(line((0, 0), (10, 0), (10, 10)), line((12, 9), (20, 9))).as("multiseg"))
      .selectExpr("crossing.x", "crossing.y", "proj.y", "corner.x", "corner.y",
        "multiseg.x", "multiseg.y")
      .as[(Double, Double, Double, Double, Double, Double, Double)].head()
    assert(out._1 == 5.0 && out._2 == 0.0, s"crossing: $out")
    assert(out._3 == 0.0, s"projection must land ON the left line: $out")
    assert(out._4 == 10.0 && out._5 == 0.0, s"corner: $out")
    assert(out._6 == 10.0 && out._7 == 9.0, s"multiseg: $out")
    // the realized point's distance to the right line equals
    // graft_line_dist2's minimum — the two walks agree on the argmin
    val agree = df.select(
      cp(line((0, 0), (10, 0), (10, 10)), line((12, 9), (20, 9))).as("p"),
      sqrt(call_function("graft_line_dist2",
        line((0, 0), (10, 0), (10, 10)), line((12, 9), (20, 9)))).as("d"))
      .selectExpr("abs(sqrt((p.x-12)*(p.x-12) + (p.y-9)*(p.y-9)) - d) < 1e-12")
      .as[Boolean].head()
    assert(agree)
    // ordered-pair symmetry for a crossing: closest-on-A-to-B and
    // closest-on-B-to-A are the SAME coordinate (what makes both
    // sides of a --self pair dedup onto one junction node)
    val sym = df.select(
      cp(line((0, 0), (10, 0)), line((5, -5), (5, 5))).as("ab"),
      cp(line((5, -5), (5, 5)), line((0, 0), (10, 0))).as("ba"))
      .selectExpr("ab.x = ba.x AND ab.y = ba.y").as[Boolean].head()
    assert(sym)
    // degenerate → null
    val nul = df.select(call_function("graft_line_closest",
      line((0, 0)), line((1, 1), (2, 2))).isNull).as[Boolean].head()
    assert(nul)
  }

  test("DWithinJoin.lineLine equals brute force and reports each pair once") {
    // small blobby lines scattered over a 40x40 box
    def mkLines(n: Int, seed: Int) = (1 to n).map { g =>
      val bx = (g * 131 * seed % 35).toDouble
      val by = (g * 173 * seed % 35).toDouble
      (g.toLong, (0 until 4).map(v => (bx + v, by + (v * seed % 3))).map { case (x, y) => (x, y) })
    }.toDF("id", "pts")
      .withColumn("line", expr("transform(pts, p -> struct(p._1 AS x, p._2 AS y))"))
      .select("id", "line")
    val a = mkLines(8, 3).withColumnRenamed("id", "lid")
    val b = mkLines(9, 7).withColumnRenamed("id", "rid")
    val grid = DWithinJoin.lineLine(a, "lid", "line", b, "rid", "line", 2.5)
      .select("lid", "rid").as[(Long, Long)].collect()
    val brute = a.crossJoin(b)
      .withColumn("d", sqrt(call_function("graft_line_dist2", a("line"), b("line"))))
      .filter(col("d") <= 2.5)
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(grid.length == grid.toSet.size, "grid join emitted a duplicate pair")
    assert(grid.toSet == brute.toSet && brute.nonEmpty)
  }

  test("mercator reprojection matches known anchors") {
    val df = Seq(1).toDF("i").select(
      Geo.mercToLon(lit(0.0)).as("lon0"),
      Geo.mercToLat(lit(0.0)).as("lat0"),
      Geo.mercToLon(lit(111319.49079327357)).as("lon1"))
    val (lon0, lat0, lon1) = df.as[(Double, Double, Double)].head()
    assert(math.abs(lon0) < 1e-12 && math.abs(lat0) < 1e-12)
    assert(math.abs(lon1 - 1.0) < 1e-9)
  }

  test("reproject inverts forward UTM across zones/hemispheres; dispatcher covers 4326/3857; unknown EPSG fails loudly") {
    // independent FORWARD transverse Mercator (Snyder pp. 61) in plain
    // Scala: project a lon/lat grid to UTM, run it back through the
    // column-math inverse, require agreement within 1e-6 deg (~0.1 m)
    val a = 6378137.0; val e2 = 0.00669437999014; val k0 = 0.9996
    val ep2 = e2 / (1 - e2)
    def fwd(lonDeg: Double, latDeg: Double, zone: Int): (Double, Double) = {
      val lon = math.toRadians(lonDeg); val lat = math.toRadians(latDeg)
      val lon0 = math.toRadians((zone - 1) * 6 - 180 + 3)
      val n = a / math.sqrt(1 - e2 * math.sin(lat) * math.sin(lat))
      val t = math.tan(lat) * math.tan(lat)
      val c = ep2 * math.cos(lat) * math.cos(lat)
      val bigA = (lon - lon0) * math.cos(lat)
      val m = a * ((1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * math.pow(e2, 3) / 256) * lat
        - (3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * math.pow(e2, 3) / 1024) * math.sin(2 * lat)
        + (15 * e2 * e2 / 256 + 45 * math.pow(e2, 3) / 1024) * math.sin(4 * lat)
        - (35 * math.pow(e2, 3) / 3072) * math.sin(6 * lat))
      val x = k0 * n * (bigA + (1 - t + c) * math.pow(bigA, 3) / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * math.pow(bigA, 5) / 120) + 500000.0
      val y = k0 * (m + n * math.tan(lat) * (bigA * bigA / 2
        + (5 - t + 9 * c + 4 * c * c) * math.pow(bigA, 4) / 24
        + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * math.pow(bigA, 6) / 720))
      (x, y)
    }
    for ((zone, epsg, southern) <- Seq((33, 32633, false), (17, 32717, true))) {
      val lon0Deg = (zone - 1) * 6 - 180 + 3
      val pts = for {
        dLon <- Seq(-2.5, -1.0, 0.0, 1.3, 2.5)
        lat <- if (southern) Seq(-60.0, -33.7, -8.0, -0.5) else Seq(0.5, 12.0, 45.0, 71.0)
      } yield (lon0Deg + dLon, lat)
      val src = pts.map { case (lo, la) =>
        val (x, y) = fwd(lo, la, zone)
        (lo, la, x, if (southern) y + 10000000.0 else y) // false northing
      }.toDF("lon_t", "lat_t", "e", "n")
      val back = src.select(col("lon_t"), col("lat_t"),
          Geo.reproject(col("e"), col("n"), epsg).as("p"))
        .select(col("lon_t"), col("lat_t"),
          col("p.lon").as("lon_r"), col("p.lat").as("lat_r"))
        .as[(Double, Double, Double, Double)].collect()
      back.foreach { case (lonT, latT, lonR, latR) =>
        assert(math.abs(lonR - lonT) < 1e-6 && math.abs(latR - latT) < 1e-6,
          s"EPSG:$epsg round-trip drift at ($lonT,$latT): got ($lonR,$latR)")
      }
    }
    // 4326 passthrough and 3857 arm agree with the direct functions
    val d = Seq((12.5, -33.25, 1391305.3, -3928487.8)).toDF("lon", "lat", "mx", "my")
    val row = d.select(
        Geo.reproject(col("lon"), col("lat"), 4326).as("p0"),
        Geo.reproject(col("mx"), col("my"), 3857).as("p1"),
        Geo.mercToLon(col("mx")).as("refLon"), Geo.mercToLat(col("my")).as("refLat"))
      .select(col("p0.lon"), col("p0.lat"), col("p1.lon"), col("p1.lat"),
        col("refLon"), col("refLat"))
      .as[(Double, Double, Double, Double, Double, Double)].head()
    assert(row._1 == 12.5 && row._2 == -33.25)
    assert(row._3 == row._5 && row._4 == row._6)
    intercept[IllegalArgumentException](Geo.reproject(col("lon"), col("lat"), 27700))
  }

  test("DWithinJoin.pointPoint equals brute force") {
    val left = (1 to 60).map(i => (i.toLong, (i * 13 % 50).toDouble, (i * 29 % 50).toDouble)).toDF("lid", "lx", "ly")
    val right = (1 to 40).map(i => (i.toLong, (i * 7 % 50).toDouble, (i * 17 % 50).toDouble)).toDF("rid", "rx", "ry")
    val grid = DWithinJoin.pointPoint(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 3.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = left.crossJoin(right)
      .filter(Geo.dist(col("lx"), col("ly"), col("rx"), col("ry")) <= 3.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(grid == brute && grid.nonEmpty)
  }

  test("adaptive salting: dense-cell subdivision is exactly-once and equals brute force (skew, boundary straddle, negatives)") {
    // one cell crammed with 500 points around (-7.3, 4.1) — forces the
    // occupancy-derived f up to the cap; a second cluster STRADDLING a
    // cell boundary at x=2/y=0; plus a uniform scatter. Radius 2 makes
    // pairs cross coarse and fine cell edges in both signs.
    val pts = (1 to 500).map(i => (i.toLong, -7.3 + (i % 23) * 0.01, 4.1 + (i % 19) * 0.01)) ++
      (501 to 700).map(i => (i.toLong, 1.95 + (i % 11) * 0.01, -0.02 + (i % 7) * 0.01)) ++
      (701 to 800).map(i => (i.toLong, (i * 13 % 97).toDouble / 2 - 20, (i * 29 % 89).toDouble / 2 - 15))
    val left = pts.toDF("lid", "lx", "ly")
    val right = pts.map { case (i, x, y) => (i + 1000, x + 0.005, y - 0.003) }.toDF("rid", "rx", "ry")
    val brute = left.crossJoin(right)
      .filter(Geo.dist(col("lx"), col("ly"), col("rx"), col("ry")) <= 2.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // low target forces real subdivision (500 in one cell, target 8)
    val salted = DWithinJoin.pointPoint(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 2.0,
        occupancyTarget = 8)
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(salted.length == salted.toSet.size, "a pair met in more than one fine cell")
    assert(salted.toSet == brute)
    // a non-positive target has no meaning: refused, by name
    val bad = intercept[IllegalArgumentException] {
      DWithinJoin.pointPoint(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 2.0, occupancyTarget = 0)
    }
    assert(bad.getMessage.contains("occupancyTarget"), bad.getMessage)
  }

  test("excludeEqual drops duplicate-geometry pairs but keeps co-located distinct geometries") {
    // rid 1 duplicates lid 1's coords exactly; rid 2 is 0.5 away
    val left = Seq((1L, 10.0, 10.0)).toDF("lid", "lx", "ly")
    val right = Seq((1L, 10.0, 10.0), (2L, 10.5, 10.0)).toDF("rid", "rx", "ry")
    val withEq = DWithinJoin.pointPoint(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 3.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val noEq = DWithinJoin.pointPoint(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 3.0,
        excludeEqual = true)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(withEq == Set((1L, 1L), (1L, 2L)))
    assert(noEq == Set((1L, 2L)))
    // lineLine: an exact vertex-array copy is excluded, a shifted line is not
    val mk = (id: Long, x0: Double) => (id, Seq((x0, 0.0), (x0 + 1, 0.0), (x0 + 2, 1.0)))
    val la = Seq(mk(1L, 5.0)).toDF("lid", "pts")
      .withColumn("line", expr("transform(pts, p -> struct(p._1 AS x, p._2 AS y))")).select("lid", "line")
    val rb = Seq(mk(7L, 5.0), mk(8L, 5.3)).toDF("rid", "pts")
      .withColumn("line", expr("transform(pts, p -> struct(p._1 AS x, p._2 AS y))")).select("rid", "line")
    val lineNoEq = DWithinJoin.lineLine(la, "lid", "line", rb, "rid", "line", 2.0, excludeEqual = true)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(lineNoEq == Set((1L, 8L)))
  }

  test("DWithinJoin plans a shuffle join, not a cartesian product") {
    val left = (1 to 10).map(i => (i.toLong, i.toDouble, i.toDouble)).toDF("lid", "lx", "ly")
    val right = (1 to 10).map(i => (i.toLong, i.toDouble, i.toDouble)).toDF("rid", "rx", "ry")
    val plan = DWithinJoin.pointPoint(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 1.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("WKB decode: roundtrip both byte orders, SRID/Z/M envelopes, polygon exterior, malformed → null") {
    import graft.functions.WkbGeomExpr
    def dec(rows: Seq[Array[Byte]]): Seq[Option[Seq[(Double, Double)]]] =
      rows.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "wkb")
        .orderBy("i")
        .select(call_function("graft_geom_from_wkb", col("wkb")).as("g"))
        .as[Option[Seq[(Double, Double)]]].collect().toSeq
    val pts = Array((1.5, -2.25), (100.0, 200.0), (-0.5, 7.0))
    // roundtrip vs the existing array-geometry layout: decode(encode)
    // must equal the source vertex list exactly
    val got = dec(Seq(
      WkbGeomExpr.encode(2, pts),                        // LE LineString
      WkbGeomExpr.encode(2, pts, bigEndian = true),      // BE LineString
      WkbGeomExpr.encode(2, pts, srid = 3857),           // EWKB SRID header
      WkbGeomExpr.encode(1, pts.take(1)),                // Point
      WkbGeomExpr.encode(3, pts, srid = 4326)))          // Polygon (one ring)
    assert(got.forall(_.isDefined))
    assert(got(0).get == pts.toSeq && got(1).get == pts.toSeq && got(2).get == pts.toSeq)
    assert(got(3).get == pts.take(1).toSeq && got(4).get == pts.toSeq)
    // hand-built EWKB Point with Z+M flags (little-endian): the extra
    // ordinates are discarded, x/y decode; ISO code 3001 (Point ZM) too
    def le(d: Double) = {
      val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putDouble(d); b.array()
    }
    def leI(v: Long) = {
      val b = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(v.toInt); b.array()
    }
    val ewkbZm = Array[Byte](1) ++ leI(0x80000000L | 0x40000000L | 1L) ++
      le(3.0) ++ le(4.0) ++ le(9.0) ++ le(11.0)
    val isoZm = Array[Byte](1) ++ leI(3001L) ++ le(5.0) ++ le(6.0) ++ le(0.0) ++ le(0.0)
    val gotDims = dec(Seq(ewkbZm, isoZm))
    assert(gotDims(0).get == Seq((3.0, 4.0)) && gotDims(1).get == Seq((5.0, 6.0)))
    // malformed inputs decode to NULL, never throw: empty, bad byte
    // order mark, unknown type, truncated coordinate buffer
    val bad = dec(Seq(
      Array[Byte](),
      Array[Byte](9, 1, 0, 0, 0),
      Array[Byte](1) ++ leI(99L) ++ le(1.0) ++ le(2.0),
      WkbGeomExpr.encode(2, pts).dropRight(5)))
    assert(bad.forall(_.isEmpty), bad.toString)
    // hex path (PostGIS text wire form): roundtrip + malformed contract
    val hexRows = Seq(
      WkbGeomExpr.encode(1, Array((42.5, -7.0)), srid = 4326).map("%02x".format(_)).mkString,
      "ZZ01", "0101")
    val gotHex = hexRows.zipWithIndex.map { case (h, i) => (i, h) }.toDF("i", "hex")
      .orderBy("i")
      .select(call_function("graft_geom_from_wkb", col("hex")).as("g"))
      .as[Option[Seq[(Double, Double)]]].collect().toSeq
    assert(gotHex(0).get == Seq((42.5, -7.0)))
    assert(gotHex(1).isEmpty && gotHex(2).isEmpty)
  }

  test("WKB ring decode: every polygon ring preserved in order, superset of exterior decode, malformed → null") {
    import graft.functions.WkbGeomExpr
    def dec(rows: Seq[Array[Byte]]): Seq[Option[Seq[(Int, Double, Double)]]] =
      rows.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "wkb")
        .orderBy("i")
        .select(call_function("graft_geom_rings", col("wkb")).as("g"))
        .as[Option[Seq[(Int, Double, Double)]]].collect().toSeq
    val outer = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole1 = Array((2.0, 2.0), (4.0, 2.0), (2.0, 4.0), (2.0, 2.0))
    val hole2 = Array((6.0, 6.0), (8.0, 6.0), (6.0, 8.0), (6.0, 6.0))
    def flat(rings: Array[Array[(Double, Double)]]): Seq[(Int, Double, Double)] =
      rings.zipWithIndex.flatMap { case (r, i) => r.map { case (x, y) => (i, x, y) } }.toSeq
    val holed = Array(outer, hole1, hole2)
    val pts = Array((1.5, -2.25), (100.0, 200.0), (-0.5, 7.0))
    val got = dec(Seq(
      WkbGeomExpr.encodePolygon(holed, srid = 4326),       // LE EWKB, 2 holes
      WkbGeomExpr.encodePolygon(holed, bigEndian = true),  // BE ISO
      WkbGeomExpr.encodePolygon(Array(outer)),             // no holes
      WkbGeomExpr.encode(2, pts),                          // LineString → ring 0
      WkbGeomExpr.encode(1, pts.take(1))))                 // Point → ring 0
    assert(got(0).get == flat(holed) && got(1).get == flat(holed))
    assert(got(2).get == flat(Array(outer)))
    assert(got(3).get == pts.map { case (x, y) => (0, x, y) }.toSeq)
    assert(got(4).get == Seq((0, 1.5, -2.25)))
    // hex path (PostGIS text wire form) carries the holes too
    val hex = WkbGeomExpr.encodePolygon(holed, srid = 3857).map("%02x".format(_)).mkString
    val gotHex = Seq((0, hex)).toDF("i", "hex")
      .select(call_function("graft_geom_rings", col("hex")).as("g"))
      .as[Option[Seq[(Int, Double, Double)]]].head()
    assert(gotHex.get == flat(holed))
    // superset contract: ring-0 rows of a one-ring polygon reproduce
    // the exterior-only decode exactly
    val ext = Seq((0, WkbGeomExpr.encodePolygon(holed)))
      .toDF("i", "wkb")
      .select(call_function("graft_geom_from_wkb", col("wkb")).as("g"))
      .as[Seq[(Double, Double)]].head()
    assert(got(0).get.filter(_._1 == 0).map(v => (v._2, v._3)) == ext)
    // malformed → null, never throw: zero rings, truncation inside
    // the second ring's vertex run, truncated ring header, and a
    // hostile LineString whose 4-byte count (0x7FFFFFFF) vastly
    // exceeds the buffer — must reject BEFORE allocating, not OOM
    val full = WkbGeomExpr.encodePolygon(holed)
    val zeroRings = {
      val b = WkbGeomExpr.encodePolygon(Array(outer)).clone()
      b(5) = 0; b(6) = 0; b(7) = 0; b(8) = 0 // ring count → 0
      b
    }
    val hugeCount = Array[Byte](1, 2, 0, 0, 0, -1, -1, -1, 0x7f) // LE LineString, n=2^31-1
    val bad = dec(Seq(zeroRings, full.dropRight(9),
      full.take(9 + 4 + outer.length * 16 + 2), hugeCount))
    assert(bad.forall(_.isEmpty), bad.toString)
  }
  test("WKB parts decode: MULTI* preserved part-indexed, superset of rings decode, malformed → null") {
    import graft.functions.WkbGeomExpr
    def dec(rows: Seq[Array[Byte]]): Seq[Option[Seq[(Int, Int, Double, Double)]]] =
      rows.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "wkb")
        .orderBy("i")
        .select(call_function("graft_geom_parts", col("wkb")).as("g"))
        .as[Option[Seq[(Int, Int, Double, Double)]]].collect().toSeq
    val outer = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole = Array((2.0, 2.0), (4.0, 2.0), (2.0, 4.0), (2.0, 2.0))
    val tri = Array((20.0, 0.0), (24.0, 0.0), (20.0, 4.0), (20.0, 0.0))
    val lineA = Array((1.0, 2.0), (3.0, 4.0), (5.0, 6.0))
    val lineB = Array((7.0, 8.0), (9.0, 10.0))
    val mpoly = Array(Array(outer, hole), Array(tri))
    val mline = Array(Array(lineA), Array(lineB))
    def flat(parts: Array[Array[Array[(Double, Double)]]]): Seq[(Int, Int, Double, Double)] =
      parts.zipWithIndex.flatMap { case (p, pi) =>
        p.zipWithIndex.flatMap { case (r, ri) => r.map { case (x, y) => (pi, ri, x, y) } } }.toSeq
    val got = dec(Seq(
      WkbGeomExpr.encodeMulti(6, mpoly, srid = 4326),        // LE EWKB MultiPolygon
      WkbGeomExpr.encodeMulti(6, mpoly, bigEndian = true),   // BE ISO MultiPolygon
      WkbGeomExpr.encodeMulti(5, mline),                     // MultiLineString
      WkbGeomExpr.encodeMulti(4, Array(Array(Array((1.5, -2.5))), Array(Array((3.0, 4.0))))), // MultiPoint
      WkbGeomExpr.encodePolygon(Array(outer, hole)),         // simple → part 0
      WkbGeomExpr.encode(2, lineA)))                         // LineString → part 0 ring 0
    assert(got(0).get == flat(mpoly) && got(1).get == flat(mpoly))
    assert(got(2).get == flat(mline))
    assert(got(3).get == Seq((0, 0, 1.5, -2.5), (1, 0, 3.0, 4.0)))
    // superset contract: a simple geometry decodes as part 0 with
    // exactly the rings decode's layout
    val rings = Seq((0, WkbGeomExpr.encodePolygon(Array(outer, hole))))
      .toDF("i", "wkb")
      .select(call_function("graft_geom_rings", col("wkb")).as("g"))
      .as[Seq[(Int, Double, Double)]].head()
    assert(got(4).get.map(v => (v._2, v._3, v._4)) == rings)
    assert(got(5).get == lineA.map { case (x, y) => (0, 0, x, y) }.toSeq)
    // malformed → null, never throw: truncation inside part 1, a
    // container whose member type mismatches (MultiPolygon wrapping a
    // LineString), a GeometryCollection (out of scope), and a hostile
    // part count far past the buffer (rejects before any allocation)
    val full = WkbGeomExpr.encodeMulti(6, mpoly)
    val mismatch = {
      val b = WkbGeomExpr.encodeMulti(5, mline).clone()
      b(1) = 6 // container says MultiPolygon, members are LineStrings
      b
    }
    val collection = Array[Byte](1, 7, 0, 0, 0, 1, 0, 0, 0)
    val hugeParts = Array[Byte](1, 6, 0, 0, 0, -1, -1, -1, 0x7f)
    val bad = dec(Seq(full.dropRight(17), mismatch, collection, hugeParts))
    assert(bad.forall(_.isEmpty), bad.toString)
  }

  test("WKB decoders share one edge contract in interpreted and generated code") {
    import graft.functions.WkbGeomExpr
    def leI(v: Long) =
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val outer = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole = Array((2.0, 2.0), (4.0, 2.0), (2.0, 4.0), (2.0, 2.0))
    val holed = WkbGeomExpr.encodePolygon(Array(outer, hole)) // 9-byte header, then ring 0's count
    val line = WkbGeomExpr.encode(2, Array((1.0, 2.0), (3.0, 4.0), (5.0, 6.0)))
    val hostile = leI(0x7fffffffL)
    def bin(b: Array[Byte]): Either[Array[Byte], String] = Left(b)
    def text(s: String): Either[Array[Byte], String] = Right(s)
    // (input, vertex count from graft_geom_from_wkb / graft_geom_rings /
    // graft_geom_parts; -1 = NULL)
    val cases: Seq[(String, Either[Array[Byte], String], (Int, Int, Int))] = Seq(
      ("empty", bin(Array()), (-1, -1, -1)),
      ("bad byte-order mark", bin(9.toByte +: line.drop(1)), (-1, -1, -1)),
      ("unknown type", bin(Array[Byte](1) ++ leI(99) ++ line.drop(5)), (-1, -1, -1)),
      ("ISO dimension code 4", bin(Array[Byte](1) ++ leI(4001) ++ line.drop(9)), (-1, -1, -1)),
      ("SRID flag without the SRID", bin(Array[Byte](1) ++ leI(0x20000002L)), (-1, -1, -1)),
      ("truncated vertex run", bin(line.take(9 + 2 * 16 + 8)), (-1, -1, -1)),
      ("zero rings", bin(Array[Byte](1) ++ leI(3) ++ leI(0)), (-1, -1, -1)),
      ("hostile vertex count", bin(Array[Byte](1) ++ leI(2) ++ hostile), (-1, -1, -1)),
      ("hostile ring count", bin(Array[Byte](1) ++ leI(3) ++ hostile ++ holed.drop(9)), (5, -1, -1)),
      ("hostile exterior count", bin(Array[Byte](1) ++ leI(3) ++ leI(1) ++ hostile), (-1, -1, -1)),
      ("hostile part count", bin(Array[Byte](1) ++ leI(6) ++ hostile ++ holed), (-1, -1, -1)),
      ("holed polygon, hole truncated", bin(holed.dropRight(8)), (5, -1, -1)),
      ("trailing bytes", bin(holed ++ Array.fill[Byte](7)(-1)), (5, 9, 9)),
      ("empty MultiPolygon", bin(Array[Byte](1) ++ leI(6) ++ leI(0)), (-1, -1, 0)),
      ("MultiPoint", bin(WkbGeomExpr.encodeMulti(4, Array(Array(outer.take(1)), Array(hole.take(1))))), (-1, -1, 2)),
      ("MultiLineString", bin(WkbGeomExpr.encodeMulti(5, Array(Array(outer), Array(hole)))), (-1, -1, 9)),
      ("MultiPolygon", bin(WkbGeomExpr.encodeMulti(6, Array(Array(outer, hole), Array(outer)))), (-1, -1, 14)),
      ("GeometryCollection", bin(Array[Byte](1) ++ leI(7) ++ leI(0)), (-1, -1, -1)),
      ("hex EWKB point", text(hex(WkbGeomExpr.encode(1, Array((42.5, -7.0)), srid = 4326))), (1, 1, 1)),
      ("empty text", text(""), (-1, -1, -1)),
      ("odd-length hex", text(hex(line).dropRight(1)), (-1, -1, -1)),
      ("non-hex text", text("zz" + hex(line).drop(2)), (-1, -1, -1)))
    // parquet-backed so that generated code runs (see the kernels spec)
    val dir = java.nio.file.Files.createTempDirectory("graft_wkb_contract").toString
    cases.zipWithIndex.map { case ((_, in, _), i) => (i, in.left.toOption, in.toOption) }
      .toDF("i", "bin", "hex").write.mode("overwrite").parquet(dir)
    def decoded(f: String) = coalesce(call_function(f, col("bin")), call_function(f, col("hex")))
    def count(f: String) = when(decoded(f).isNull, -1).otherwise(size(decoded(f)))
    def run(codegen: Boolean) = rowsAndCode(codegen) {
      spark.read.parquet(dir).select(col("i"), count("graft_geom_from_wkb"),
        count("graft_geom_rings"), count("graft_geom_parts"), decoded("graft_geom_from_wkb"))
    }
    val (interpreted, _) = run(codegen = false)
    val (generated, code) = run(codegen = true)
    assert(code.exists(_.contains("WkbGeomExpr.decode")), "generated code does not call the decoder")
    assert(interpreted == generated)
    val exterior = outer.map { case (x, y) => s"[$x,$y]" }.mkString("ArraySeq(", ", ", ")")
    cases.zip(interpreted).zipWithIndex.foreach { case (((name, _, (g, r, p)), row), i) =>
      assert(row.startsWith(s"[$i,$g,$r,$p,"), s"$name: $row")
      if (g == 5) assert(row.endsWith(s",$exterior]"), s"$name keeps the exterior: $row")
    }
  }
}

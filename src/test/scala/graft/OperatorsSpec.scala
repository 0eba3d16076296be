package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("SnapshotDiff classifies create/delete/modify") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val neu = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("id", "v")
    assert(SnapshotDiff.creates(old, neu, Seq("id")).select("id").as[Long].collect().toSet == Set(4L))
    assert(SnapshotDiff.deletes(old, neu, Seq("id")).select("id").as[Long].collect().toSet == Set(1L))
    assert(SnapshotDiff.modifies(old, neu, Seq("id"), Seq("v")).select("id").as[Long].collect().toSet == Set(3L))
  }

  test("SequentialIds assigns dense ids in both directions") {
    val df = Seq(30L, 10L, 20L).toDF("k")
    val up = SequentialIds.assign(df, "k", "id", 100L).select("k", "id").as[(Long, Long)].collect().toMap
    assert(up == Map(10L -> 100L, 20L -> 101L, 30L -> 102L))
    val down = SequentialIds.assign(df, "k", "id", -5L, negative = true).select("k", "id").as[(Long, Long)].collect().toMap
    assert(down == Map(10L -> -5L, 20L -> -6L, 30L -> -7L))
  }

  test("SequentialIds keeps a caller column named like its helper column") {
    val df = Seq((30L, "c"), (10L, "a"), (20L, "b")).toDF("k", "_mono")
    val out = SequentialIds.assign(df, "k", "id", 100L)
    assert(out.columns.toSeq == Seq("k", "_mono", "id"))
    val got = out.select("k", "_mono", "id").as[(Long, String, Long)].collect().toSet
    assert(got == Set((10L, "a", 100L), (20L, "b", 101L), (30L, "c", 102L)))
  }

  test("SequentialIds ranks an input spread over partitions, some empty") {
    // 8 input partitions; ids 10..29 filtered out leave some empty, and
    // the keys are scrambled against partition order
    val df = spark.range(0, 40, 1, 8).filter(col("id") < 10 || col("id") >= 30)
      .select(((col("id") * 7919) % 1000).as("k"))
    val sizes = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length >= 4 && sizes.contains(0))
    val keys = df.as[Long].collect().sorted
    val up = SequentialIds.assign(df, "k", "id", 100L).select("k", "id").as[(Long, Long)].collect().toMap
    assert(up == keys.zipWithIndex.map { case (k, r) => k -> (100L + r) }.toMap)
    val down = SequentialIds.assign(df, "k", "id", -5L, negative = true)
      .select("k", "id").as[(Long, Long)].collect().toMap
    assert(down == keys.zipWithIndex.map { case (k, r) => k -> (-5L - r) }.toMap)
  }

  test("TagOps hstore parse + column precedence merge") {
    val df = Seq(("""  "a"=>"1", "b"=>"2"  """, "colA")).toDF("hs", "a")
    val out = df.select(
      TagOps.mergeTags(map(lit("a"), col("a")), TagOps.hstoreToMap(col("hs"))).as("tags"))
      .as[Map[String, String]].head()
    assert(out == Map("a" -> "colA", "b" -> "2"))
  }

  test("TagOps empty hstore → empty map") {
    val out = Seq("   ").toDF("hs").select(TagOps.hstoreToMap(col("hs"))).as[Map[String, String]].head()
    assert(out.isEmpty)
  }

  test("TagOps hstore: quoted values with commas, arrows, escapes; duplicate keys last-win") {
    /* Scala reference parser: quoted pairs with backslash escapes,
     * dict()-style last-wins — the semantics db.py:7-25 intends. */
    def ref(s: String): Map[String, String] = {
      val rx = """"((?:[^"\\]|\\.)*)"\s*=>\s*"((?:[^"\\]|\\.)*)"""".r
      rx.findAllMatchIn(s).map { m =>
        def un(x: String) = x.replaceAll("""\\(.)""", "$1")
        un(m.group(1)) -> un(m.group(2))
      }.toMap // Scala Map keeps the last binding per key
    }
    val cases = Seq(
      """"note"=>"a, b", "x"=>"y"""",                  // comma inside value
      """"eq"=>"k=>v", "x"=>"y"""",                    // arrow inside value
      """"q"=>"say \"hi\"", "p"=>"back\\slash"""",     // escaped quote + backslash
      """"dup"=>"first", "dup"=>"second"""",           // duplicate key
      """"spaced"  =>  "v" , "t"=>"u"""",              // whitespace tolerance
      """"empty"=>"", ""=>"emptykey"""",               // empty key and value
      """"a"=>"1"""",                                  // single pair
      ""                                               // empty input
    )
    val got = cases.toDF("hs").select(TagOps.hstoreToMap(col("hs")).as("m"))
      .as[Map[String, String]].collect()
    cases.zip(got).foreach { case (in, out) =>
      assert(out == ref(in), s"mismatch for input <$in>")
    }
    assert(got(0) == Map("note" -> "a, b", "x" -> "y"))
    assert(got(2) == Map("q" -> """say "hi"""", "p" -> """back\slash"""))
    assert(got(3) == Map("dup" -> "second"))
  }

  test("WayOps.splitWay chunks share joiner nodes") {
    val df = Seq((1L, (1L to 7L))).toDF("way", "nds")
    val chunks = WayOps.splitWay(df, "nds", nodeLimit = 4, segmentLen = 3)
      .select("chunk_idx", "chunk_nds").as[(Int, Seq[Long])].collect().sortBy(_._1)
    assert(chunks.map(_._2).toSeq == Seq(Seq(1L, 2L, 3L), Seq(3L, 4L, 5L, 6L), Seq(6L, 7L)))
  }

  test("WayOps.splitWay closes small rings") {
    val df = Seq((1L, Seq(10L, 11L, 12L))).toDF("way", "nds")
    val out = WayOps.splitWay(df, "nds", closed = true).select("chunk_nds").as[Seq[Long]].head()
    assert(out == Seq(10L, 11L, 12L, 10L))
  }

  test("WayOps.expandDeletes dedups shared nodes") {
    val df = Seq((1L, Seq(5L, 6L)), (2L, Seq(6L, 7L))).toDF("way", "nds")
    val out = WayOps.expandDeletes(df, "way", "nds")
      .as[(String, Long)].collect().toSet
    assert(out == Set(("way", 1L), ("way", 2L), ("node", 5L), ("node", 6L), ("node", 7L)))
  }

  test("WayOps.wayNodeMap restores seq order") {
    val edges = Seq((1L, 2, 20L), (1L, 1, 10L), (1L, 3, 30L)).toDF("way", "seq", "node")
    val out = WayOps.wayNodeMap(edges, "way", "seq", "node").select("nds").as[Seq[Long]].head()
    assert(out == Seq(10L, 20L, 30L))
  }

  test("AsofJoin picks the latest at-or-before row; strict excludes equal time") {
    val l = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 100L), (4L, 30L, 500L))
      .toDF("oid", "k", "t")
    val r = Seq((10L, 100L, 7L), (10L, 100L, 9L), (10L, 200L, 11L), (20L, 150L, 13L))
      .toDF("k", "rt", "eid")
    def run(strict: Boolean) =
      AsofJoin.asofBackward(l, "k", "t", r, "k", "rt", Seq("eid"), strict = strict)
        .select("oid", "asof_time", "asof_eid")
        .as[(Long, Option[Long], Option[Long])].collect().map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    val incl = run(strict = false)
    // equal-time match included; ties at the same time go to max payload
    assert(incl(1L) == ((Some(100L), Some(9L))))
    assert(incl(2L) == ((Some(200L), Some(11L))))
    // no event at-or-before t=100 for key 20; key 30 has no events
    assert(incl(3L) == ((None, None)))
    assert(incl(4L) == ((None, None)))
    val strict = run(strict = true)
    assert(strict(1L) == ((None, None)), "strict must not see the equal-time row")
    assert(strict(2L) == ((Some(200L), Some(11L))))
  }

  test("AsofJoin.asofForward picks the earliest at-or-after row; strict excludes equal time") {
    val l = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 200L), (4L, 30L, 500L))
      .toDF("oid", "k", "t")
    val r = Seq((10L, 100L, 7L), (10L, 100L, 9L), (10L, 200L, 11L), (20L, 150L, 13L))
      .toDF("k", "rt", "eid")
    def run(strict: Boolean) =
      AsofJoin.asofForward(l, "k", "t", r, "k", "rt", Seq("eid"), strict = strict)
        .select("oid", "asof_time", "asof_eid")
        .as[(Long, Option[Long], Option[Long])].collect().map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    val incl = run(strict = false)
    // equal-time match included; ties at the same time go to max payload
    assert(incl(1L) == ((Some(100L), Some(9L))))
    assert(incl(2L) == ((None, None)), "no event at-or-after t=250 for key 10")
    assert(incl(3L) == ((None, None)), "key 20's only event is before t=200")
    assert(incl(4L) == ((None, None)), "key 30 has no events")
    val strict = run(strict = true)
    assert(strict(1L) == ((Some(200L), Some(11L))), "strict must skip the equal-time rows")
    // forward equals brute per-row min-qualifying pick on random series
    val rnd = new scala.util.Random(42)
    val ls = (1 to 200).map(i => (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(50).toLong))
    val rs = (1 to 300).map(i => (rnd.nextInt(4).toLong, rnd.nextInt(50).toLong, i.toLong))
    val got = AsofJoin.asofForward(
      ls.toDF("oid", "k", "t"), "k", "t",
      rs.toDF("k", "rt", "eid"), "k", "rt", Seq("eid"))
      .select("oid", "asof_time", "asof_eid")
      .as[(Long, Option[Long], Option[Long])].collect().map { case (o, a, b) => o -> ((a, b)) }.toMap
    ls.foreach { case (oid, k, t) =>
      val cand = rs.filter(x => x._1 == k && x._2 >= t)
      val want = if (cand.isEmpty) ((None, None)) else {
        val mt = cand.map(_._2).min
        ((Some(mt), Some(cand.filter(_._2 == mt).map(_._3).max)))
      }
      assert(got(oid) == want, s"oid=$oid k=$k t=$t")
    }
  }

  test("Watermark.lateness equals a brute arrival-ordered running-max recount") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(1000).toLong))
    val got = Watermark.lateness(rows.toDF("arr", "t"), "arr", "t", delayMs = 100L)
      .select("arr", "hwm", "is_late")
      .as[(Long, Option[Long], Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    var hwm = Option.empty[Long]
    rows.sortBy(_._1).foreach { case (arr, t) =>
      val late = hwm.exists(_ - 100L > t)
      assert(got(arr) == ((hwm, late)), s"arr=$arr t=$t")
      hwm = Some(hwm.fold(t)(math.max(_, t)))
    }
  }

  test("AsofJoin payload is atomic: all fields come from the same matched row") {
    // the later row carries a NULL field — per-column last(ignoreNulls)
    // would resurrect the older row's value; the struct must not
    val l = Seq((1L, 10L, 300L)).toDF("oid", "k", "t")
    val r = Seq((10L, 100L, Some(5L), Some("old")), (10L, 200L, Some(6L), None))
      .toDF("k", "rt", "eid", "tag")
    val got = AsofJoin.asofBackward(l, "k", "t", r, "k", "rt", Seq("eid", "tag"))
      .select("asof_time", "asof_eid", "asof_tag")
      .as[(Option[Long], Option[Long], Option[String])].head()
    assert(got == ((Some(200L), Some(6L), None)))
  }

  test("RangeJoin meets each qualifying pair exactly once, inclusive bounds") {
    val pts = Seq((1L, 0.0), (2L, 5.0), (3L, 9.99), (4L, 10.0), (5L, 25.0)).toDF("pid", "p")
    // interval spanning many buckets (W=3) plus a one-bucket interval
    val iv = Seq((100L, 0.0, 10.0), (200L, 24.0, 26.0)).toDF("iid", "lo", "hi")
    val got = RangeJoin.intervalJoin(pts, "p", iv, "lo", "hi", bucketWidth = 3.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq
    // no duplicates even though interval 100 replicates over 4 buckets
    assert(got.size == got.toSet.size)
    assert(got.toSet == Set((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 200L)))
  }

  test("RangeJoin rejects inputs carrying any reserved staging column") {
    val pts = Seq((1L, 0.0)).toDF("pid", "p")
    val iv = Seq((100L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    // _b clashes on either side; _lo_b/_hi_b clash on the interval side
    // (withColumn would silently replace-then-drop the user's column)
    for (bad <- Seq("_b", "_lo_b", "_hi_b")) {
      val e1 = intercept[IllegalArgumentException] {
        RangeJoin.intervalJoin(pts, "p", iv.withColumn(bad, lit(1L)), "lo", "hi", 3.0)
      }
      assert(e1.getMessage.contains(bad))
    }
    val e2 = intercept[IllegalArgumentException] {
      RangeJoin.intervalJoin(pts.withColumn("_b", lit(1L)), "p", iv, "lo", "hi", 3.0)
    }
    assert(e2.getMessage.contains("_b"))
    // a points-side _lo_b is NOT reserved (never staged there)
    assert(RangeJoin.intervalJoin(pts.withColumn("_lo_b", lit(1L)), "p", iv, "lo", "hi", 3.0)
      .count() == 1L)
  }

  test("dailyVolumeOutliers: planted spike flags, steady and constant series don't") {
    // key a: 9 days of 10 + one day of 100. N=10, S=190, Q=10900;
    // spike dev = 100·10−190 = 810, 810² = 656100 > 4·(10·10900−190²)
    // = 291600 → flags; steady dev = −90, 8100 ≯ 291600 → clean.
    // key b: constant volume → σ = 0 and the rule is STRICT > → no
    // flags (an all-equal series is never anomalous).
    val perDay = ((0 until 9).map(d => ("a", d.toLong, 10L)) :+ ("a", 9L, 100L)) ++
      (0 until 6).map(d => ("b", d.toLong, 7L))
    val got = EventStats.dailyVolumeOutliers(
        perDay.toDF("k", "day", "n"), "k", "day", "n")
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got.size == 16 && got.values.forall(v => v == 0L || v == 1L))
    assert(got(("a", 9L)) == 1L, "planted spike must flag")
    assert(got.filter(_._2 == 1L).keySet == Set(("a", 9L)), got.filter(_._2 == 1L).toString)
  }

  test("graft_gram_agg equals a brute BigInt moment fold, spills past long range, handles empty/null/short rows") {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    val dims = 3
    // values chosen so the (2,2) product 3e18·... no — per-product must
    // fit a long (ANSI multiply contract); OVERFLOW exercised on the
    // ACCUMULATION instead: 3e9² = 9e18 < 2⁶³−1 ≈ 9.22e18 per product,
    // and two of them (1.8e19) overflow a long cell → BigInteger spill
    val rows: Seq[Seq[java.lang.Long]] = Seq(
      Seq(1L, 2L, 3000000000L).map(java.lang.Long.valueOf),
      Seq(4L, -5L, 3000000000L).map(java.lang.Long.valueOf),
      Seq(7L, 8L).map(java.lang.Long.valueOf), // short row: only its own cells
      null // null vector: skipped, not counted
    )
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType), nullable = true))))
    val g = df.agg(call_function("graft_gram_agg", col("qv"), lit(dims)).as("g"))
      .select(col("g.n"), col("g.m"), col("g.s")).head()
    // brute fold in BigInt
    val data = rows.filter(_ != null).map(_.map(l => BigInt(l.longValue())))
    val n = data.length.toLong
    val m = Array.fill(dims)(BigInt(0))
    val tri = Array.fill(dims * (dims + 1) / 2)(BigInt(0))
    data.foreach { v =>
      for (i <- v.indices) {
        m(i) += v(i)
        for (j <- i until v.length)
          tri(i * dims - i * (i - 1) / 2 + (j - i)) += v(i) * v(j)
      }
    }
    assert(g.getLong(0) == n)
    val gm = g.getSeq[java.math.BigDecimal](1).map(b => BigInt(b.toBigInteger))
    val gs = g.getSeq[java.math.BigDecimal](2).map(b => BigInt(b.toBigInteger))
    assert(gm == m.toSeq, s"m: $gm vs ${m.toSeq}")
    assert(gs == tri.toSeq, s"s: $gs vs ${tri.toSeq}")
    // the (2,2) cell really needed the spill: 2·(3e9)² > Long.MaxValue
    assert(tri(dims * (dims + 1) / 2 - 1) > BigInt(Long.MaxValue))
    // empty input: n = 0, zero-filled sums (the query maps n=0 to an
    // empty result frame)
    val empty = df.filter(lit(false))
      .agg(call_function("graft_gram_agg", col("qv"), lit(dims)).as("g"))
      .select(col("g.n")).head()
    assert(empty.getLong(0) == 0L)
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{SnapshotDiff, SequentialIds, TagOps, WayOps}
import graft.spatial.{Geo, DWithinJoin}
import QueryUtil._

/** §2B — the changegen domain operators, re-expressed Spark-first.
  *
  * OSM-ish inputs (ways, node lists, points, lines) are derived
  * deterministically from the driver's TPC-H-ish tables INSIDE each
  * query, with the DuckDB oracle deriving them identically — so the
  * operator itself is what gets verified.
  *
  * Derivation conventions (used by both engines):
  *   - point(key)  = ((key*13 % 1000)/10.0, (key*29 % 1000)/10.0)
  *   - way(order)  = l_partkey list ordered by l_linenumber
  *   - line(nation)= supplier points ordered by s_suppkey
  * All doubles go through identical IEEE op sequences in both engines;
  * float-derived outputs are fp()-quantized bigints.
  */
object Changegen {

  /** Derived planar point from an integer key: identical formula in the
    * oracle SQL. Range [0, 100). */
  private def px(k: Column): Column = (k * 13 % 1000) / lit(10.0)
  private def py(k: Column): Column = (k * 29 % 1000) / lit(10.0)

  /** Scattered (md5-derived) coordinate in [0, 100) — the modular
    * lattice above is translation-invariant, which leaves tiny SFs
    * with no close pairs; md5 gives a uniform scatter at every SF.
    * Portable: first 6 md5 hex chars as uint24 / 2^24 * 100. */
  private def rnd(tag: String, k: Column): Column =
    conv(substring(md5(concat(lit(tag), k.cast("string"))), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0) * lit(100.0)

  /** SQL twin of [[rnd]] over the SQL key expression `k`. */
  private def rndSql(tag: String, k: String): String =
    s"(${md5Fold(s"'$tag' || CAST($k AS VARCHAR)", 6)} / 16777216.0 * 100.0)"

  /** Ways derived from lineitem: way id = l_orderkey, ordered node list
    * = l_partkey by l_linenumber (via the wayNodeMap operator). */
  private def ways(s: SparkSession, dir: String): DataFrame =
    WayOps.wayNodeMap(
      t(s, dir, "lineitem").select(col("l_orderkey").as("way"), col("l_linenumber").as("seq"), col("l_partkey").as("node")),
      "way", "seq", "node")

  /** Per-group linestrings from supplier points (≥2 vertices). Groups
    * are nationkey mod 5 so every SF yields a handful of dense lines. */
  private def nationLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select((col("s_nationkey") % 5).as("nk"), col("s_suppkey").as("k"), px(col("s_suppkey")).as("x"), py(col("s_suppkey")).as("y"))
      .groupBy("nk")
      .agg(array_sort(collect_list(struct(col("k"), col("x"), col("y")))).as("_kxy"))
      .withColumn("line", transform(col("_kxy"), e => struct(e.getField("x").as("x"), e.getField("y").as("y"))))
      .filter(size(col("line")) >= 2)
      .select("nk", "line")

  /** Customer (c_custkey, cx, cy) and supplier (s_suppkey, sx, sy)
    * lattice points. */
  private def latticePts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (t(s, dir, "customer").select(col("c_custkey"), px(col("c_custkey")).as("cx"), py(col("c_custkey")).as("cy")),
      t(s, dir, "supplier").select(col("s_suppkey"), px(col("s_suppkey")).as("sx"), py(col("s_suppkey")).as("sy")))

  private def custPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), (col("c_nationkey") % 5).as("nk"), px(col("c_custkey")).as("cpx"), py(col("c_custkey")).as("cpy"))

  /** Per-customer geometry payloads for the WKB decoder queries:
    * `enc(c_custkey)` gives (binary WKB, WKB whose bytes ship as
    * uppercase hex text), synthesized map-side. */
  private def custWkb(s: SparkSession, dir: String)(
      enc: Long => (Array[Byte], Array[Byte])): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").select(col("c_custkey")).as[Long]
      .mapPartitions(_.map { k =>
        val (wkb, hex) = enc(k)
        (k, wkb, hex.map("%02X".format(_)).mkString)
      }).toDF("c_custkey", "wkb", "hex")
  }

  /** Compact "blob" linestrings for the line-line DWithin: each group
    * gets an md5-scattered base point and vertices jittered within a
    * ~4×4 box around it, so line pairs span the full near/far/crossing
    * distance range (the global lattice lines all cross each other —
    * useless for a distance-join oracle).
    *
    * `domainScale` stretches the blob-CENTER domain (not the jitter)
    * — callers that grow `groups` with corpus size pass sqrt(m/8) so
    * blob DENSITY stays constant and per-line neighbor counts stay
    * O(1) at any scale. 1.0 leaves the expression untouched
    * (bit-identical to the unscaled form). */
  private def blobLines(df: DataFrame, keyCol: String, groups: Int, idName: String,
                        tagX: String, tagY: String, offA: Int, offB: Int,
                        domainScale: Double = 1.0): DataFrame = {
    def center(tag: String) = {
      val c = rnd(tag, col(keyCol) % groups) * lit(0.3)
      if (domainScale == 1.0) c else c * lit(domainScale)
    }
    df.select((col(keyCol) % groups).as(idName), col(keyCol).as("k"),
        (center(tagX) + (col(keyCol) * offA % 40) / lit(10.0)).as("x"),
        (center(tagY) + (col(keyCol) * offB % 40) / lit(10.0)).as("y"))
      .groupBy(idName)
      .agg(array_sort(collect_list(struct(col("k"), col("x"), col("y")))).as("_kxy"))
      .withColumn("line", transform(col("_kxy"), e => struct(e.getField("x").as("x"), e.getField("y").as("y"))))
      .filter(size(col("line")) >= 2)
      .select(idName, "line")
  }

  lazy val queries: Seq[Query] = Seq(
    // 12 — new-vs-old snapshot → <create>: left-anti join on key
    Query("cg_diff_create", (s, dir) => {
      val o = t(s, dir, "orders")
      val oldSnap = o.filter(col("o_orderkey") % 11 =!= 3)
      val newSnap = o.filter(col("o_orderkey") % 13 =!= 5)
      SnapshotDiff.creates(oldSnap, newSnap, Seq("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey % 13 != 5 AND NOT (o_orderkey % 11 != 3) ORDER BY o_orderkey""".stripMargin),
    // 13 — deletions: anti join reversed
    Query("cg_diff_delete", (s, dir) => {
      val o = t(s, dir, "orders")
      val oldSnap = o.filter(col("o_orderkey") % 11 =!= 3)
      val newSnap = o.filter(col("o_orderkey") % 13 =!= 5)
      SnapshotDiff.deletes(oldSnap, newSnap, Seq("o_orderkey"))
        .select("o_orderkey", "o_custkey")
    }, oracle =
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey % 11 != 3 AND NOT (o_orderkey % 13 != 5) ORDER BY o_orderkey""".stripMargin),
    // 14 — modify: join + tag-signature inequality
    Query("cg_diff_modify", (s, dir) => {
      val o = t(s, dir, "orders")
      val newSnap = o.withColumn(
        "o_orderpriority",
        when(col("o_orderkey") % 17 === 0, lit("X-URGENT")).otherwise(col("o_orderpriority")))
      SnapshotDiff.modifies(o, newSnap, Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"))
        .select("o_orderkey", "o_orderpriority")
    }, oracle =
      """SELECT o_orderkey, 'X-URGENT' AS o_orderpriority FROM orders
        |WHERE o_orderkey % 17 = 0 AND o_orderpriority != 'X-URGENT' ORDER BY o_orderkey""".stripMargin),
    // 15 — sequential id assignment (negative direction, offset −1000)
    Query("cg_seq_ids", (s, dir) => {
      SequentialIds.assign(
        t(s, dir, "customer").select("c_custkey"), "c_custkey", "new_id", -1000L, negative = true)
    }, oracle =
      """SELECT c_custkey, -1000 - (row_number() OVER (ORDER BY c_custkey) - 1) AS new_id
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // 16 — tags from columns with exclude list, exploded
    Query("cg_tags", (s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("tags", TagOps.tagsFromColumns(t(s, dir, "part"), Seq("p_brand", "p_type", "p_size"), Seq("p_size")))
        .select("p_partkey", "tags")
      TagOps.explodeTags(p, "tags")
    }, oracle =
      """SELECT p_partkey, tag_key, tag_value FROM (
        |  SELECT p_partkey, 'p_brand' AS tag_key, CAST(p_brand AS VARCHAR) AS tag_value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_type', CAST(p_type AS VARCHAR) FROM part
        |) ORDER BY p_partkey, tag_key""".stripMargin),
    // 17 — hstore parse + column-precedence merge
    Query("cg_hstore", (s, dir) => {
      val p = t(s, dir, "part").withColumn(
        "hs",
        concat(lit("\"origin\"=>\"X"), col("p_brand"), lit("\", \"p_brand\"=>\"SHOULD_LOSE\"")))
      val colTags = map(lit("p_brand"), coalesce(col("p_brand").cast("string"), lit("")))
      val merged = TagOps.mergeTags(colTags, TagOps.hstoreToMap(col("hs")))
      TagOps.explodeTags(p.withColumn("tags", merged).select("p_partkey", "tags"), "tags")
    }, oracle =
      """SELECT p_partkey, tag_key, tag_value FROM (
        |  SELECT p_partkey, 'origin' AS tag_key, 'X' || p_brand AS tag_value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_brand', CAST(p_brand AS VARCHAR) FROM part
        |) ORDER BY p_partkey, tag_key""".stripMargin),
    // 18 — way splitting into ≤N chunks sharing joiner nodes
    Query("cg_way_split", (s, dir) => {
      WayOps.splitWay(ways(s, dir), "nds", nodeLimit = 4, segmentLen = 3)
        .select(col("way"), col("chunk_idx"), posexplode(col("chunk_nds")).as(Seq("pos", "node")))
    // row-per-node output: no presentation orderBy — the checker
    // row-sorts both sides before hashing, so a global range sort here
    // would only add a corpus-sized shuffle (same for the exploded
    // way/relation queries below)
    }, oracle =
      s"""WITH $ndsCte
        |SELECT way, chunk_idx, CAST(pos AS INT) AS pos, node FROM (
        |  SELECT nds.way,
        |    CASE WHEN n <= 4 THEN 0 ELSE CAST(floor((s-1)/3) AS INT) END AS chunk_idx,
        |    CASE WHEN n <= 4 THEN s-1
        |         WHEN floor((s-1)/3) = 0 THEN s-1
        |         ELSE (s-1) % 3 + 1 END AS pos,
        |    node
        |  FROM nds JOIN sz USING (way)
        |  UNION ALL
        |  SELECT nds.way, CAST(s/3 AS INT), 0, node
        |  FROM nds JOIN sz USING (way) WHERE n > 4 AND s % 3 = 0 AND s < n
        |) ORDER BY way, chunk_idx, pos""".stripMargin),
    // 19 — polygon ring closing (append first node at end)
    Query("cg_closed_way", (s, dir) => {
      WayOps.splitWay(ways(s, dir), "nds", nodeLimit = 1000000, segmentLen = 1000000, closed = true)
        .select(col("way"), posexplode(col("chunk_nds")).as(Seq("pos", "node")))
    }, oracle =
      s"""WITH $ndsCte
        |SELECT way, CAST(pos AS INT) AS pos, node FROM (
        |  SELECT way, s-1 AS pos, node FROM nds
        |  UNION ALL
        |  SELECT nds.way, n, node FROM nds JOIN sz USING (way) WHERE s = 1
        |) ORDER BY way, pos""".stripMargin),
    // 20 — multipolygon relation member assembly (outer/inner roles)
    Query("cg_relation_assembly", (s, dir) => {
      val w = ways(s, dir)
        .withColumn("outer_ways", expr("slice(nds, 1, 2)"))
        .withColumn("inner_ways", expr("slice(nds, 3, size(nds))"))
        .withColumnRenamed("way", "rel_id")
      WayOps.multipolygonMembers(w, Seq("rel_id"), col("outer_ways"), col("inner_ways"))
    }, oracle =
      s"""WITH $ndsCte
        |SELECT way AS rel_id, node AS member_ref, 'way' AS member_type,
        |  CASE WHEN s <= 2 THEN 'outer' ELSE 'inner' END AS member_role
        |FROM nds ORDER BY rel_id, member_role, member_ref""".stripMargin),
    // 21 — ST_DWithin as a grid-bucketed distance join (no cross join)
    Query("cg_dwithin_join", (s, dir) => {
      val (c, sup) = latticePts(s, dir)
      DWithinJoin.pointPoint(c, "c_custkey", "cx", "cy", sup, "s_suppkey", "sx", "sy", 1.5)
        .select(col("c_custkey"), col("s_suppkey"), fp(col("dist"), 6).as("dist_fp6"))
    }, oracle = latticeDWithinSql),
    // 21e — the SAME ST_DWithin join written NAIVELY as a declarative
    // θ-join on graft_dwithin: without GridDWithinJoinRule this plans
    // a BroadcastNestedLoopJoin; the injected optimizer rule rewrites
    // it to the grid equi-join cg_dwithin_join hand-builds (PostGIS
    // planner behavior for ST_DWithin, re-created in Catalyst). Same
    // oracle as cg_dwithin_join — the rewrite must be value-invisible.
    Query("cg_dwithin_rule", (s, dir) => {
      val (c, sup) = latticePts(s, dir)
      c.join(sup, expr("graft_dwithin(cx, cy, sx, sy, 1.5D)"))
        .select(col("c_custkey"), col("s_suppkey"),
          fp(graft.spatial.Geo.dist(col("cx"), col("cy"), col("sx"), col("sy")), 6).as("dist_fp6"))
    }, oracle = latticeDWithinSql),
    // 21g — the ADAPTIVE-SALTING path under oracle: a "city" skew
    // (every 3rd key collapses into a 2×2 box at (50,50)) drives
    // per-cell occupancy past the target at EVERY gate SF, so the
    // dense-cell subdivision (f≥2: clamped fine keys, padded ranges,
    // the broadcast dense table) is exercised by the DuckDB compare,
    // not just the unit spec. Customer is the RIGHT (occupancy) side:
    // its dense box exceeds occupancyTarget=16 from sf0.01 up (f=2 at
    // the driver's correctness gate, f=5 at sf0.1); the geometry
    // answer must be IDENTICAL to an unsalted distance join by
    // construction.
    Query("cg_dwithin_salted", (s, dir) => {
      def skewX(k: org.apache.spark.sql.Column) =
        when(k % 3 === 0, lit(50.0) + (k * 7 % 200) / lit(100.0)).otherwise(px(k))
      def skewY(k: org.apache.spark.sql.Column) =
        when(k % 3 === 0, lit(50.0) + (k * 11 % 200) / lit(100.0)).otherwise(py(k))
      val c = t(s, dir, "customer").select(col("c_custkey"),
        skewX(col("c_custkey")).as("cx"), skewY(col("c_custkey")).as("cy"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"),
        skewX(col("s_suppkey")).as("sx"), skewY(col("s_suppkey")).as("sy"))
      DWithinJoin.pointPoint(sup, "s_suppkey", "sx", "sy", c, "c_custkey", "cx", "cy", 0.5,
          occupancyTarget = 16)
        .select(col("c_custkey"), col("s_suppkey"), fp(col("dist"), 6).as("dist_fp6"))
    }, oracle =
      // the salting must be value-invisible: the oracle is a plain
      // cell-prefiltered distance join over the SAME skewed derivation
      // (cell side = radius, left replicated to its 3×3 neighborhood —
      // the textbook grid join, no knowledge of the adaptive layer)
      s"""WITH cust AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 50.0 + (c_custkey*7 % 200)/100.0 ELSE (c_custkey*13 % 1000)/10.0 END AS x,
        |    CASE WHEN c_custkey % 3 = 0 THEN 50.0 + (c_custkey*11 % 200)/100.0 ELSE (c_custkey*29 % 1000)/10.0 END AS y
        |  FROM customer),
        |supp AS (SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 3 = 0 THEN 50.0 + (s_suppkey*7 % 200)/100.0 ELSE (s_suppkey*13 % 1000)/10.0 END AS x,
        |    CASE WHEN s_suppkey % 3 = 0 THEN 50.0 + (s_suppkey*11 % 200)/100.0 ELSE (s_suppkey*29 % 1000)/10.0 END AS y
        |  FROM supplier),
        |d AS (SELECT * FROM (VALUES (-1),(0),(1)) t(o)),
        |lc AS (SELECT c_custkey, x, y, CAST(floor(x / 0.5) AS BIGINT) + dx.o AS cx,
        |              CAST(floor(y / 0.5) AS BIGINT) + dy.o AS cy
        |       FROM cust CROSS JOIN d dx CROSS JOIN d dy),
        |rc AS (SELECT s_suppkey, x AS rx, y AS ry, CAST(floor(x / 0.5) AS BIGINT) AS cx,
        |              CAST(floor(y / 0.5) AS BIGINT) AS cy FROM supp)
        |SELECT c_custkey, s_suppkey,
        |  ${sqlFp("sqrt((x-rx)*(x-rx)+(y-ry)*(y-ry))", 6)} AS dist_fp6
        |FROM lc JOIN rc USING (cx, cy)
        |WHERE sqrt((x-rx)*(x-rx)+(y-ry)*(y-ry)) <= 0.5
        |ORDER BY c_custkey, s_suppkey""".stripMargin),
    // 21b — self-intersections among new features (generator.py handles
    // new-vs-new junctions the same as new-vs-existing): self distance
    // join via the same grid buckets, deduped to a<b pairs. Duplicate-
    // geometry clones are PLANTED (every 50th point re-appears under a
    // new id at the same coords) so the reference's `not st_equals`
    // exclusion (db.py:134, excludeEqual) is exercised: a clone pair
    // is within radius 0 but must NOT report.
    Query("cg_self_intersect", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"), rnd("sx", col("c_custkey")).as("x"), rnd("sy", col("c_custkey")).as("y"))
      val all = pts.unionByName(pts.filter(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"), col("x"), col("y")))
      DWithinJoin
        .pointPoint(all, "c_custkey", "x", "y",
          all.select(col("c_custkey").as("other"), col("x").as("ox"), col("y").as("oy")),
          "other", "ox", "oy", 4.0, excludeEqual = true)
        .filter(col("c_custkey") < col("other"))
        .select(col("c_custkey"), col("other"), fp(col("dist"), 6).as("dist_fp6"))
    }, oracle = {
      // candidate generation is 2-D banded (cell width = the 4.0
      // radius; any pair within radius differs by <=1 cell per axis,
      // width-4 cells make a 2-cell gap imply distance > 4), then the
      // EXACT distance filter decides — same arithmetic as the raw
      // all-pairs form, linear candidate mass instead of |pts|^2 (the
      // all-pairs scan went quadratic in DuckDB at the 10x sweep)
      s"""WITH pts AS (SELECT c_custkey, ${rndSql("sx", "c_custkey")} AS x, ${rndSql("sy", "c_custkey")} AS y FROM customer),
        |pts2 AS (SELECT c_custkey, x, y FROM pts
        |         UNION ALL SELECT c_custkey + 10000000, x, y FROM pts WHERE c_custkey % 50 = 0),
        |cells AS (SELECT *, CAST(floor(x/4.0) AS INT) AS cbx, CAST(floor(y/4.0) AS INT) AS cby FROM pts2),
        |shifted AS (SELECT c_custkey, x, y, cbx + o.ox AS nbx, cby + o.oy AS nby
        |            FROM cells CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(ox, oy))
        |SELECT a.c_custkey, b.c_custkey AS other,
        |  ${sqlFp("sqrt((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y))", 6)} AS dist_fp6
        |FROM cells a JOIN shifted b ON a.cbx = b.nbx AND a.cby = b.nby
        |WHERE a.c_custkey < b.c_custkey
        |  AND NOT (a.x = b.x AND a.y = b.y)
        |  AND sqrt((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) <= 4.0
        |ORDER BY a.c_custkey, other""".stripMargin
    }),
    // 21f — the --self junction-NODE table (the pipeline's
    // `_generate_intersection_db` with self=True, generator.py:99-158
    // over db.intersections(table, table), db.py:102-140): the
    // CLOSEST POINT of every new-vs-new feature pair within the
    // buffer (`not st_equals` exercised by a planted duplicate line
    // under a new id), deduped at 6 decimals (COORDINATE_PRECISION,
    // the reference's dict trick) into ONE junction node per
    // coordinate with its source-feature count. The oracle replicates
    // the native graft_line_closest argmin walk byte for byte:
    // crossing solve s=o1/(o1-o2) on the LEFT segment, clamped
    // endpoint projections otherwise, first-minimum in
    // (segA, segB, candidate) walk order.
    Query("cg_self_junctions", (s, dir) => {
      // line count follows the corpus (modulus m = n/2000, the
      // reference's own max_nodes_per_way cap, __main__.py:141-149)
      // with the blob-center domain stretched sqrt(m/8)× so density —
      // and therefore per-line neighbor count — is scale-invariant:
      // the seg×seg oracle stays LINEAR in corpus size instead of
      // quadratic in line length. At sf≤0.1, m=8 and scale=1.0 —
      // bit-identical to the fixed-modulus form this row pinned with.
      val cust = t(s, dir, "customer")
      val m = math.max(8L, cust.count() / 2000L)
      val ds = math.sqrt(m.toDouble / 8.0)
      val l0 = blobLines(cust, "c_custkey", m.toInt, "lid", "lbx", "lby", 7, 23,
          domainScale = ds)
        .select(col("lid").cast("long").as("lid"), col("line"))
      // duplicate twin of line 0 (exercises the not-st_equals
      // exclusion): id -1 can never collide with a real lid at any m
      val l = l0.unionByName(
        l0.filter(col("lid") === 0).select(lit(-1L).as("lid"), col("line")))
      val pairs = DWithinJoin.lineLine(l, "lid", "line",
          l.select(col("lid").as("rid"), col("line").as("line2")), "rid", "line2", 5.0,
          excludeEqual = true, keepLines = true)
        .filter(col("lid") =!= col("rid"))
      pairs
        .select(col("lid"),
          call_function("graft_line_closest", col("_lline"), col("_rline")).as("cp"))
        .select(col("lid"), fp(col("cp.x"), 6).as("jx6"), fp(col("cp.y"), 6).as("jy6"))
        .distinct()
        .groupBy("jx6", "jy6")
        .agg(count(lit(1)).as("n_feats"))
    }, oracle = {
      // the graft_line_closest walk in SQL: per ordered pair, every
      // segment-pair candidate (crossing point with d2=0, else the
      // four endpoint/projection candidates realized ON the left
      // segment), argmin by (d2, segA, segB, candidate) — exactly the
      // native first-strictly-smaller traversal; pair admission is
      // the same sqrt(min d2) <= radius as graft_line_dist2.
      // mm mirrors the Spark side's adaptive modulus (m = n/2000,
      // vertex cap) + sqrt(m/8) center-domain stretch; lp prunes line
      // pairs by bbox gap — EXACT, since line distance >= each axis
      // gap, so a pruned pair could never pass sqrt(pairmin) <= 5 —
      // making the seg×seg walk linear in corpus size at any scale
      s"""WITH mm AS (SELECT greatest(8, count(*) // 2000) AS m,
        |    sqrt(greatest(8, count(*) // 2000) / 8.0) AS s FROM customer),
        |lsp0 AS (SELECT c_custkey % mm.m AS lid,
        |    row_number() OVER (PARTITION BY c_custkey % mm.m ORDER BY c_custkey) AS seq,
        |    ${rndSql("lbx", "c_custkey % mm.m")} * 0.3 * mm.s + (c_custkey*7 % 40)/10.0 AS x,
        |    ${rndSql("lby", "c_custkey % mm.m")} * 0.3 * mm.s + (c_custkey*23 % 40)/10.0 AS y
        |  FROM customer CROSS JOIN mm),
        |lln AS (SELECT lid FROM lsp0 GROUP BY lid HAVING count(*) >= 2),
        |sp AS (SELECT lid, seq, x, y FROM lsp0 JOIN lln USING (lid)
        |       UNION ALL SELECT -1, seq, x, y FROM lsp0 JOIN lln USING (lid) WHERE lid = 0),
        |verts AS (SELECT lid, list(struct_pack(x := x, y := y) ORDER BY seq) AS vs
        |          FROM sp GROUP BY lid),
        |eqpairs AS (SELECT l.lid AS lid, r.lid AS rid FROM verts l JOIN verts r
        |            ON l.vs = r.vs AND l.lid <> r.lid),
        |segs AS (SELECT a.lid, a.seq AS si, a.x AS p1x, a.y AS p1y, b.x AS p2x, b.y AS p2y
        |         FROM sp a JOIN sp b ON a.lid = b.lid AND b.seq = a.seq + 1),
        |bb AS (SELECT lid, min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
        |       FROM sp GROUP BY lid),
        |lp AS (SELECT a.lid AS plid, b.lid AS prid FROM bb a JOIN bb b ON a.lid <> b.lid
        |       AND greatest(a.x0 - b.x1, b.x0 - a.x1) <= 5.0
        |       AND greatest(a.y0 - b.y1, b.y0 - a.y1) <= 5.0),
        |dv AS (SELECT l.lid, r.lid AS rid, l.si, r.si AS sj,
        |    l.p1x, l.p1y, l.p2x, l.p2y,
        |    r.p1x AS q1x, r.p1y AS q1y, r.p2x AS q2x, r.p2y AS q2y,
        |    (l.p2x - l.p1x) AS adx, (l.p2y - l.p1y) AS ady,
        |    (r.p2x - r.p1x) AS bdx, (r.p2y - r.p1y) AS bdy,
        |    ((l.p2x - l.p1x)*(l.p2x - l.p1x) + (l.p2y - l.p1y)*(l.p2y - l.p1y)) AS alen2,
        |    ((r.p2x - r.p1x)*(r.p2x - r.p1x) + (r.p2y - r.p1y)*(r.p2y - r.p1y)) AS blen2,
        |    ((r.p2x - r.p1x)*(l.p1y - r.p1y) - (r.p2y - r.p1y)*(l.p1x - r.p1x)) AS o1,
        |    ((r.p2x - r.p1x)*(l.p2y - r.p1y) - (r.p2y - r.p1y)*(l.p2x - r.p1x)) AS o2,
        |    ((l.p2x - l.p1x)*(r.p1y - l.p1y) - (l.p2y - l.p1y)*(r.p1x - l.p1x)) AS o3,
        |    ((l.p2x - l.p1x)*(r.p2y - l.p1y) - (l.p2y - l.p1y)*(r.p2x - l.p1x)) AS o4
        |  FROM lp JOIN segs l ON l.lid = lp.plid JOIN segs r ON r.lid = lp.prid),
        |ts AS (SELECT *,
        |    ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
        |      AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0)) AS crossing,
        |    least(greatest(CASE WHEN blen2 = 0 THEN 0.0 ELSE ((p1x - q1x)*bdx + (p1y - q1y)*bdy) / blen2 END, 0.0), 1.0) AS t1,
        |    least(greatest(CASE WHEN blen2 = 0 THEN 0.0 ELSE ((p2x - q1x)*bdx + (p2y - q1y)*bdy) / blen2 END, 0.0), 1.0) AS t2,
        |    least(greatest(CASE WHEN alen2 = 0 THEN 0.0 ELSE ((q1x - p1x)*adx + (q1y - p1y)*ady) / alen2 END, 0.0), 1.0) AS t3,
        |    least(greatest(CASE WHEN alen2 = 0 THEN 0.0 ELSE ((q2x - p1x)*adx + (q2y - p1y)*ady) / alen2 END, 0.0), 1.0) AS t4
        |  FROM dv),
        |cands AS (
        |  SELECT lid, rid, si, sj, 0 AS cidx, 0.0 AS d2,
        |         p1x + (o1/(o1-o2))*adx AS cx, p1y + (o1/(o1-o2))*ady AS cy
        |    FROM ts WHERE crossing
        |  UNION ALL SELECT lid, rid, si, sj, 1,
        |         ((q1x + t1*bdx) - p1x)*((q1x + t1*bdx) - p1x) + ((q1y + t1*bdy) - p1y)*((q1y + t1*bdy) - p1y),
        |         p1x, p1y FROM ts WHERE NOT crossing
        |  UNION ALL SELECT lid, rid, si, sj, 2,
        |         ((q1x + t2*bdx) - p2x)*((q1x + t2*bdx) - p2x) + ((q1y + t2*bdy) - p2y)*((q1y + t2*bdy) - p2y),
        |         p2x, p2y FROM ts WHERE NOT crossing
        |  UNION ALL SELECT lid, rid, si, sj, 3,
        |         ((p1x + t3*adx) - q1x)*((p1x + t3*adx) - q1x) + ((p1y + t3*ady) - q1y)*((p1y + t3*ady) - q1y),
        |         p1x + t3*adx, p1y + t3*ady FROM ts WHERE NOT crossing
        |  UNION ALL SELECT lid, rid, si, sj, 4,
        |         ((p1x + t4*adx) - q2x)*((p1x + t4*adx) - q2x) + ((p1y + t4*ady) - q2y)*((p1y + t4*ady) - q2y),
        |         p1x + t4*adx, p1y + t4*ady FROM ts WHERE NOT crossing),
        |best AS (SELECT lid, rid,
        |           min(struct_pack(d2 := d2, si := si, sj := sj, cidx := cidx,
        |                           cx := cx, cy := cy)) AS b
        |         FROM cands GROUP BY lid, rid),
        |pts AS (SELECT t.lid, ${sqlFp("t.b.cx", 6)} AS jx6, ${sqlFp("t.b.cy", 6)} AS jy6
        |        FROM best t
        |        LEFT JOIN eqpairs e ON e.lid = t.lid AND e.rid = t.rid
        |        WHERE sqrt(t.b.d2) <= 5.0 AND e.lid IS NULL),
        |dd AS (SELECT DISTINCT lid, jx6, jy6 FROM pts)
        |SELECT jx6, jy6, count(*) AS n_feats FROM dd GROUP BY jx6, jy6 ORDER BY jx6, jy6""".stripMargin
    }),
    // 20b — relation for split ways (_generate_relation_for_ways,
    // generator.py:380-395): chunks of a split way tied together as
    // ordered outer members; unsplit ways get no relation
    Query("cg_split_relation", (s, dir) => {
      val chunks = WayOps.splitWay(ways(s, dir), "nds", nodeLimit = 4, segmentLen = 3)
        .select(col("way"), col("chunk_idx"), (col("way") * 100 + col("chunk_idx")).as("chunk_way_id"))
      WayOps.relationForSplitWays(chunks, "way", "chunk_idx", "chunk_way_id")
    }, oracle =
      s"""WITH $ndsCte
        |SELECT way, CAST(i AS INT) AS member_pos, way*100 + i AS member_ref,
        |  'way' AS member_type, 'outer' AS member_role
        |FROM (SELECT way, unnest(range(0, CAST(ceil(CAST(n AS DOUBLE)/3) AS BIGINT))) AS i
        |      FROM sz WHERE n > 4)
        |ORDER BY way, member_pos""".stripMargin),
    // 21c — the reference's ACTUAL spatial join shape: st_dwithin
    // between a point set and LINESTRING geometries with the closest
    // point on the line (db.py:127-135) — grid-bucketed, line side
    // replicated over its padded bbox cells, point side in one cell
    Query("cg_dwithin_line", (s, dir) => {
      // BOUNDED blob lines (verts-per-line capped at ~2000, the
      // reference's max_nodes_per_way; feature count grows instead) in
      // the points' [0,100) extent via the 3.0*sqrt(m/5) center
      // stretch — the per-candidate walk is a constant at any corpus
      // size, and candidate count tracks point density like a real
      // ST_DWithin against split ways would
      val pts = t(s, dir, "customer")
        .select(col("c_custkey"), px(col("c_custkey")).as("cpx"), py(col("c_custkey")).as("cpy"))
      val supp = t(s, dir, "supplier")
      val m = math.max(5L, supp.count() / 2000L)
      val ds = 3.0 * math.sqrt(m.toDouble / 5.0)
      val lines = blobLines(supp, "s_suppkey", m.toInt, "lid", "dlx", "dly", 7, 23,
          domainScale = ds)
        .select(col("lid").cast("long").as("line_id"), col("line"))
      DWithinJoin.pointLine(pts, "c_custkey", "cpx", "cpy",
          lines, "line_id", "line", 1.0)
        .select(col("c_custkey"), col("line_id"),
          fp(col("dist"), 6).as("dist_fp6"), fp(col("cp_x"), 6).as("cpx_fp6"), fp(col("cp_y"), 6).as("cpy_fp6"))
    }, oracle = {
      // mm mirrors the Spark side's adaptive modulus + center stretch;
      // the bbox join replaces the cust × seg cross join EXACTLY (a
      // point farther than 1.0 from a line's padded bbox can never
      // pass sqrt(d2) <= 1.0)
      s"""WITH mm AS (SELECT greatest(5, count(*) // 2000) AS m,
        |    3.0 * sqrt(greatest(5, count(*) // 2000) / 5.0) AS s FROM supplier),
        |sp AS (SELECT s_suppkey % mm.m AS lid,
        |  row_number() OVER (PARTITION BY s_suppkey % mm.m ORDER BY s_suppkey) AS seq,
        |  ${rndSql("dlx", "s_suppkey % mm.m")} * 0.3 * mm.s + (s_suppkey*7 % 40)/10.0 AS x,
        |  ${rndSql("dly", "s_suppkey % mm.m")} * 0.3 * mm.s + (s_suppkey*23 % 40)/10.0 AS y
        |  FROM supplier CROSS JOIN mm),
        |ln AS (SELECT lid FROM sp GROUP BY lid HAVING count(*) >= 2),
        |seg AS (SELECT a.lid, CAST(a.seq - 1 AS INT) AS seg0, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by2
        |        FROM sp a JOIN sp b ON a.lid = b.lid AND b.seq = a.seq + 1 JOIN ln ON ln.lid = a.lid),
        |bb AS (SELECT lid, min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
        |       FROM sp JOIN ln USING (lid) GROUP BY lid),
        |cust AS (SELECT c_custkey, (c_custkey*13 % 1000)/10.0 AS px2, (c_custkey*29 % 1000)/10.0 AS py2 FROM customer),
        |cand AS (SELECT c.c_custkey, g.lid, g.seg0, g.ax, g.ay, c.px2, c.py2,
        |    (g.bx - g.ax) AS dx, (g.by2 - g.ay) AS dy,
        |    ((g.bx - g.ax)*(g.bx - g.ax) + (g.by2 - g.ay)*(g.by2 - g.ay)) AS len2
        |  FROM cust c JOIN bb ON c.px2 >= bb.x0 - 1.0 AND c.px2 <= bb.x1 + 1.0
        |                     AND c.py2 >= bb.y0 - 1.0 AND c.py2 <= bb.y1 + 1.0
        |  JOIN seg g ON g.lid = bb.lid),
        |proj AS (SELECT *, least(greatest(CASE WHEN len2 = 0 THEN 0.0
        |    ELSE ((px2 - ax)*dx + (py2 - ay)*dy) / len2 END, 0.0), 1.0) AS t FROM cand),
        |cp AS (SELECT c_custkey, lid, seg0, (ax + t*dx) AS cx, (ay + t*dy) AS cy,
        |    ((ax + t*dx) - px2)*((ax + t*dx) - px2) + ((ay + t*dy) - py2)*((ay + t*dy) - py2) AS d2
        |  FROM proj),
        |best AS (SELECT c_custkey, lid,
        |    min(struct_pack(d2 := d2, seg0 := seg0, cx := cx, cy := cy)) AS b
        |  FROM cp GROUP BY c_custkey, lid)
        |SELECT c_custkey, CAST(lid AS BIGINT) AS line_id, ${sqlFp("sqrt(b.d2)", 6)} AS dist_fp6,
        |  ${sqlFp("b.cx", 6)} AS cpx_fp6, ${sqlFp("b.cy", 6)} AS cpy_fp6
        |FROM best WHERE sqrt(b.d2) <= 1.0 ORDER BY c_custkey, line_id""".stripMargin
    }),
    // 21d — line-line st_dwithin (db.py:127-135 when both geometries
    // are linestrings): exact segment-pair distance via the native
    // graft_line_dist2, canonical-cell grid join (no dedup shuffle).
    // The right side PLANTS an exact copy of left line 0 under rid
    // 100, so the `not st_equals` vertex-array exclusion is exercised
    // (the (0, 100) pair is at distance 0 and must NOT report; other
    // lines still pair against the clone).
    Query("cg_dwithin_lineline", (s, dir) => {
      // adaptive moduli bound verts-per-line at ~2000 (the reference's
      // max_nodes_per_way) and the SHARED sqrt((mL+mR)/19) center
      // stretch keeps combined blob density constant — feature count,
      // not feature size, grows with the corpus. At sf<=0.1 both
      // moduli hit their floors (4, 15) and the scale is exactly 1.0.
      val supp = t(s, dir, "supplier")
      val cust = t(s, dir, "customer")
      val mL = math.max(4L, supp.count() / 2000L)
      val mR = math.max(15L, cust.count() / 2000L)
      val ds = math.sqrt((mL + mR).toDouble / 19.0)
      val l = blobLines(supp, "s_suppkey", mL.toInt, "lid", "lbx", "lby", 7, 23,
          domainScale = ds)
        .select(col("lid").cast("long").as("lid"), col("line"))
      val r = blobLines(cust, "c_custkey", mR.toInt, "rid", "rbx", "rby", 11, 31,
          domainScale = ds)
        .select(col("rid").cast("long").as("rid"), col("line"))
        .unionByName(l.filter(col("lid") === 0).select(lit(-1L).as("rid"), col("line")))
      DWithinJoin.lineLine(l, "lid", "line", r, "rid", "line", 3.0, excludeEqual = true)
        .select(col("lid"), col("rid"), fp(col("dist"), 6).as("dist_fp6"))
    }, oracle =
      s"""WITH ml AS (SELECT greatest(4, count(*) // 2000) AS m FROM supplier),
        |mr AS (SELECT greatest(15, count(*) // 2000) AS m FROM customer),
        |sc AS (SELECT sqrt((ml.m + mr.m) / 19.0) AS s FROM ml CROSS JOIN mr),
        |lsp AS (SELECT s_suppkey % ml.m AS lid,
        |    row_number() OVER (PARTITION BY s_suppkey % ml.m ORDER BY s_suppkey) AS seq,
        |    ${rndSql("lbx", "s_suppkey % ml.m")} * 0.3 * sc.s + (s_suppkey*7 % 40)/10.0 AS x,
        |    ${rndSql("lby", "s_suppkey % ml.m")} * 0.3 * sc.s + (s_suppkey*23 % 40)/10.0 AS y
        |  FROM supplier CROSS JOIN ml CROSS JOIN sc),
        |lln AS (SELECT lid FROM lsp GROUP BY lid HAVING count(*) >= 2),
        |aseg AS (SELECT a.lid, a.x AS p1x, a.y AS p1y, b.x AS p2x, b.y AS p2y
        |         FROM lsp a JOIN lsp b ON a.lid = b.lid AND b.seq = a.seq + 1 JOIN lln ON lln.lid = a.lid),
        |rsp AS (SELECT c_custkey % mr.m AS rid,
        |    row_number() OVER (PARTITION BY c_custkey % mr.m ORDER BY c_custkey) AS seq,
        |    ${rndSql("rbx", "c_custkey % mr.m")} * 0.3 * sc.s + (c_custkey*11 % 40)/10.0 AS x,
        |    ${rndSql("rby", "c_custkey % mr.m")} * 0.3 * sc.s + (c_custkey*31 % 40)/10.0 AS y
        |  FROM customer CROSS JOIN mr CROSS JOIN sc),
        |rln AS (SELECT rid FROM rsp GROUP BY rid HAVING count(*) >= 2),
        |bseg AS (SELECT a.rid, a.x AS q1x, a.y AS q1y, b.x AS q2x, b.y AS q2y
        |         FROM rsp a JOIN rsp b ON a.rid = b.rid AND b.seq = a.seq + 1 JOIN rln ON rln.rid = a.rid
        |         UNION ALL SELECT -1 AS rid, p1x, p1y, p2x, p2y FROM aseg WHERE lid = 0),
        |lverts AS (SELECT lid, list(struct_pack(x := x, y := y) ORDER BY seq) AS vs
        |           FROM lsp JOIN lln USING (lid) GROUP BY lid),
        |rverts AS (SELECT rid, list(struct_pack(x := x, y := y) ORDER BY seq) AS vs
        |           FROM rsp JOIN rln USING (rid) GROUP BY rid
        |           UNION ALL SELECT -1, vs FROM lverts WHERE lid = 0),
        |eqpairs AS (SELECT l.lid, r.rid FROM lverts l JOIN rverts r ON l.vs = r.vs),
        |abb AS (SELECT lid, min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
        |        FROM lsp JOIN lln USING (lid) GROUP BY lid),
        |bbb AS (SELECT rid, min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
        |        FROM rsp JOIN rln USING (rid) GROUP BY rid
        |        UNION ALL SELECT -1, x0, x1, y0, y1 FROM abb WHERE lid = 0),
        |lpr AS (SELECT a.lid AS plid, b.rid AS prid FROM abb a JOIN bbb b
        |        ON greatest(a.x0 - b.x1, b.x0 - a.x1) <= 3.0
        |       AND greatest(a.y0 - b.y1, b.y0 - a.y1) <= 3.0),
        |dv AS (SELECT *,
        |    (p2x - p1x) AS adx, (p2y - p1y) AS ady,
        |    (q2x - q1x) AS bdx, (q2y - q1y) AS bdy,
        |    ((p2x - p1x)*(p2x - p1x) + (p2y - p1y)*(p2y - p1y)) AS alen2,
        |    ((q2x - q1x)*(q2x - q1x) + (q2y - q1y)*(q2y - q1y)) AS blen2,
        |    ((q2x - q1x)*(p1y - q1y) - (q2y - q1y)*(p1x - q1x)) AS o1,
        |    ((q2x - q1x)*(p2y - q1y) - (q2y - q1y)*(p2x - q1x)) AS o2,
        |    ((p2x - p1x)*(q1y - p1y) - (p2y - p1y)*(q1x - p1x)) AS o3,
        |    ((p2x - p1x)*(q2y - p1y) - (p2y - p1y)*(q2x - p1x)) AS o4
        |  FROM lpr JOIN aseg ON aseg.lid = lpr.plid JOIN bseg ON bseg.rid = lpr.prid),
        |ts AS (SELECT *,
        |    least(greatest(CASE WHEN blen2 = 0 THEN 0.0 ELSE ((p1x - q1x)*bdx + (p1y - q1y)*bdy) / blen2 END, 0.0), 1.0) AS t1,
        |    least(greatest(CASE WHEN blen2 = 0 THEN 0.0 ELSE ((p2x - q1x)*bdx + (p2y - q1y)*bdy) / blen2 END, 0.0), 1.0) AS t2,
        |    least(greatest(CASE WHEN alen2 = 0 THEN 0.0 ELSE ((q1x - p1x)*adx + (q1y - p1y)*ady) / alen2 END, 0.0), 1.0) AS t3,
        |    least(greatest(CASE WHEN alen2 = 0 THEN 0.0 ELSE ((q2x - p1x)*adx + (q2y - p1y)*ady) / alen2 END, 0.0), 1.0) AS t4
        |  FROM dv),
        |ds AS (SELECT lid, rid, o1, o2, o3, o4,
        |    ((q1x + t1*bdx) - p1x)*((q1x + t1*bdx) - p1x) + ((q1y + t1*bdy) - p1y)*((q1y + t1*bdy) - p1y) AS m1,
        |    ((q1x + t2*bdx) - p2x)*((q1x + t2*bdx) - p2x) + ((q1y + t2*bdy) - p2y)*((q1y + t2*bdy) - p2y) AS m2,
        |    ((p1x + t3*adx) - q1x)*((p1x + t3*adx) - q1x) + ((p1y + t3*ady) - q1y)*((p1y + t3*ady) - q1y) AS m3,
        |    ((p1x + t4*adx) - q2x)*((p1x + t4*adx) - q2x) + ((p1y + t4*ady) - q2y)*((p1y + t4*ady) - q2y) AS m4
        |  FROM ts),
        |pd AS (SELECT lid, rid,
        |    CASE WHEN ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
        |          AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))
        |      THEN 0.0 ELSE least(m1, m2, m3, m4) END AS d2
        |  FROM ds),
        |md AS (SELECT lid, rid, min(d2) AS d2 FROM pd GROUP BY lid, rid)
        |SELECT CAST(md.lid AS BIGINT) AS lid, CAST(md.rid AS BIGINT) AS rid, ${sqlFp("sqrt(d2)", 6)} AS dist_fp6
        |FROM md LEFT JOIN eqpairs e ON e.lid = md.lid AND e.rid = md.rid
        |WHERE e.lid IS NULL AND sqrt(d2) <= 3.0 ORDER BY md.lid, md.rid""".stripMargin),
    // 22 — ST_ClosestPoint: segment-wise projection over coord arrays
    Query("cg_closest_point", (s, dir) => {
      custPoints(s, dir)
        .join(broadcast(nationLines(s, dir)), "nk")
        .withColumn("cp", Geo.closestOnLine(col("line"), col("cpx"), col("cpy")))
        .select(
          col("c_custkey"),
          col("cp.seg").cast("int").as("seg"),
          fp(col("cp.t"), 6).as("t_fp6"),
          fp(col("cp.x"), 6).as("x_fp6"),
          fp(col("cp.y"), 6).as("y_fp6"))
    }, oracle =
      s"""WITH $lineCte
        |SELECT c_custkey, seg0 AS seg, ${sqlFp("t", 6)} AS t_fp6,
        |  ${sqlFp("cx", 6)} AS x_fp6, ${sqlFp("cy", 6)} AS y_fp6
        |FROM best ORDER BY c_custkey""".stripMargin),
    // 23 — node dedup by fixed-point-rounded coordinates, keep min id
    Query("cg_node_dedup", (s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          fp(px(col("c_custkey") % 100), 6).as("rx"),
          fp(py(col("c_custkey") % 100), 6).as("ry"))
        .groupBy("rx", "ry")
        .agg(min("c_custkey").as("keep_id"), count(lit(1)).as("n_dups"))
    }, oracle =
      s"""SELECT rx, ry, min(c_custkey) AS keep_id, count(*) AS n_dups FROM (
        |  SELECT c_custkey,
        |    ${sqlFp("((c_custkey % 100)*13 % 1000)/10.0", 6)} AS rx,
        |    ${sqlFp("((c_custkey % 100)*29 % 1000)/10.0", 6)} AS ry
        |  FROM customer) GROUP BY rx, ry ORDER BY rx, ry""".stripMargin),
    // 24 — fractional-projection insertion index along a linestring
    Query("cg_point_insertion", (s, dir) => {
      custPoints(s, dir)
        .join(broadcast(nationLines(s, dir)), "nk")
        .select(col("c_custkey"), Geo.insertionIndex(col("line"), col("cpx"), col("cpy")).as("ins_idx"))
    }, oracle =
      s"""WITH $lineCte,
        |cum AS (SELECT nk, seq, coalesce(sum(slen) OVER (PARTITION BY nk ORDER BY seq
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS cum
        |        FROM (SELECT nk, seg0 + 2 AS seq,
        |                sqrt((ax-bx)*(ax-bx)+(ay-by2)*(ay-by2)) AS slen FROM seg
        |              UNION ALL SELECT nk, 1, 0.0 FROM ln) _sl),
        |tot AS (SELECT nk, max(cum) AS total FROM cum GROUP BY nk),
        |frac AS (SELECT cum.nk, seq, CASE WHEN total = 0 THEN 0.0 ELSE cum/total END AS f
        |         FROM cum JOIN tot ON cum.nk = tot.nk),
        |loc AS (SELECT b.c_custkey, b.seg0, s.nk,
        |          f1.f + b.t * (f2.f - f1.f) AS lc
        |        FROM best b
        |        JOIN (SELECT DISTINCT c_custkey, nk FROM cust) s ON s.c_custkey = b.c_custkey
        |        JOIN frac f1 ON f1.nk = s.nk AND f1.seq = b.seg0 + 1
        |        JOIN frac f2 ON f2.nk = s.nk AND f2.seq = b.seg0 + 2),
        |hit AS (SELECT l.c_custkey, min(f.seq) AS first_g
        |        FROM loc l JOIN frac f ON f.nk = l.nk
        |          AND ${sqlFp("l.lc", 9)} < ${sqlFp("f.f", 9)}
        |        GROUP BY l.c_custkey)
        |SELECT l.c_custkey,
        |  CAST(coalesce(h.first_g - 1, ln.nv - 1) AS INT) AS ins_idx
        |FROM loc l
        |LEFT JOIN hit h ON h.c_custkey = l.c_custkey
        |JOIN ln ON ln.nk = l.nk
        |ORDER BY l.c_custkey""".stripMargin),
    // 25 — order-preserving merge of a junction node into a way
    Query("cg_modify_way", (s, dir) => {
      val w = ways(s, dir)
      val idx = (col("way") % 3).cast("int")
      val jid = col("way") + 9000000L
      val modified = when(
        col("way") % 2 === 0,
        concat(slice(col("nds"), lit(1), idx), array(jid), slice(col("nds"), idx + 1, size(col("nds")))))
        .otherwise(col("nds"))
      w.withColumn("new_nds", modified)
        .select(col("way"), posexplode(col("new_nds")).as(Seq("pos", "node")))
    }, oracle =
      s"""WITH $ndsCte
        |SELECT way, CAST(pos AS INT) AS pos, node FROM (
        |  SELECT nds.way,
        |    CASE WHEN way % 2 = 0 AND s - 1 >= way % 3 THEN s ELSE s - 1 END AS pos,
        |    node
        |  FROM nds JOIN sz USING (way)
        |  UNION ALL
        |  SELECT way, least(way % 3, n), way + 9000000
        |  FROM sz WHERE way % 2 = 0
        |) ORDER BY way, pos""".stripMargin),
    // 26 — deletion expansion: ways → constituent nodes, no double-delete
    Query("cg_delete_expand", (s, dir) => {
      WayOps.expandDeletes(ways(s, dir).filter(col("way") % 5 === 0), "way", "nds")
    }, oracle =
      """SELECT elem_type, elem_id FROM (
        |  SELECT DISTINCT 'node' AS elem_type, l_partkey AS elem_id FROM lineitem WHERE l_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT DISTINCT 'way', l_orderkey FROM lineitem WHERE l_orderkey % 5 = 0
        |) ORDER BY elem_type, elem_id""".stripMargin),
    // 27 — max-id collision check per element type
    Query("cg_max_ids", (s, dir) => {
      val n = t(s, dir, "customer").agg(max("c_custkey").cast("long").as("max_id")).withColumn("elem_type", lit("node"))
      val w = t(s, dir, "orders").agg(max("o_orderkey").cast("long").as("max_id")).withColumn("elem_type", lit("way"))
      val r = t(s, dir, "part").agg(max("p_partkey").cast("long").as("max_id")).withColumn("elem_type", lit("relation"))
      n.unionByName(w).unionByName(r).select("elem_type", "max_id")
    }, oracle =
      """SELECT elem_type, max_id FROM (
        |  SELECT 'node' AS elem_type, CAST(max(c_custkey) AS BIGINT) AS max_id FROM customer
        |  UNION ALL SELECT 'relation', CAST(max(p_partkey) AS BIGINT) FROM part
        |  UNION ALL SELECT 'way', CAST(max(o_orderkey) AS BIGINT) FROM orders
        |) ORDER BY elem_type""".stripMargin),
    // 28 — EPSG:3857 → WGS84 reprojection as pure column math
    Query("cg_reproject", (s, dir) => {
      val mx = (col("c_custkey") * 977 % 2000000 - 1000000).cast("double")
      val my = (col("c_custkey") * 131 % 2000000 - 1000000).cast("double")
      t(s, dir, "customer")
        .select(col("c_custkey"), fp(Geo.mercToLon(mx), 6).as("lon_fp6"), fp(Geo.mercToLat(my), 6).as("lat_fp6"))
    }, oracle =
      s"""SELECT c_custkey,
        |  ${sqlFp("CAST(c_custkey*977 % 2000000 - 1000000 AS DOUBLE)/6378137.0*(180.0/pi())", 6)} AS lon_fp6,
        |  ${sqlFp("(atan(exp(CAST(c_custkey*131 % 2000000 - 1000000 AS DOUBLE)/6378137.0))*2 - pi()/2)*(180.0/pi())", 6)} AS lat_fp6
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // 28a — arbitrary-CRS reprojection (reference generator.py:69-78
    // builds a pyproj transformer from the layer's DECLARED EPSG,
    // db.py:68 — not always web-mercator): the per-layer dispatch arm
    // next to cg_reproject's 3857 path. A UTM zone-33N layer
    // (EPSG:32633, closed-form inverse transverse Mercator — the
    // Snyder series as pure codegen'd column math) and a 4326
    // passthrough layer, both through Geo.reproject. The oracle runs
    // the SAME series as a DuckDB CTE chain with identical constants.
    Query("cg_reproject_utm", (s, dir) => {
      val k = col("c_custkey").cast("long")
      val e = (k * 7919 % 600000 + 200000).cast("double")
      val n = (k * 104729 % 8000000 + 500000).cast("double")
      val utm = Geo.reproject(e, n, 32633)
      val px = (k * 131 % 360000000L - 180000000L).cast("double") / 1000000.0
      val py = (k * 977 % 180000000L - 90000000L).cast("double") / 1000000.0
      val pass = Geo.reproject(px, py, 4326)
      t(s, dir, "customer")
        .select(col("c_custkey"),
          fp(utm.getField("lon"), 6).as("lon_fp6"),
          fp(utm.getField("lat"), 6).as("lat_fp6"),
          fp(pass.getField("lon"), 6).as("lon_pass_fp6"),
          fp(pass.getField("lat"), 6).as("lat_pass_fp6"))
    }, oracle =
      s"""WITH src AS (SELECT c_custkey,
        |    CAST(c_custkey*7919 % 600000 + 200000 AS DOUBLE) AS e_in,
        |    CAST(c_custkey*104729 % 8000000 + 500000 AS DOUBLE) AS n_in
        |  FROM customer),
        |${Geo.utmToLonLatSqlCtes("src", zone = 33, southern = false)}
        |SELECT c_custkey,
        |  ${sqlFp("lon_deg", 6)} AS lon_fp6,
        |  ${sqlFp("lat_deg", 6)} AS lat_fp6,
        |  ${sqlFp("CAST(c_custkey*131 % 360000000 - 180000000 AS DOUBLE)/1000000.0", 6)} AS lon_pass_fp6,
        |  ${sqlFp("CAST(c_custkey*977 % 180000000 - 90000000 AS DOUBLE)/1000000.0", 6)} AS lat_pass_fp6
        |FROM u8 ORDER BY c_custkey""".stripMargin),
    // 28b — live-database ingestion (reference db.py:28-101): the
    // PostGIS input path driven END-TO-END through a real JDBC engine
    // in-query. customer rows → an embedded Derby "PostGIS" snapshot
    // (BIGINT id, hex-EWKB point geometry, hstore tag text) via
    // Spark's DISTRIBUTED jdbc writer → Snapshots.postgisTable
    // partitioned read-back (8 id-ranges, each range decoding its own
    // rows) → columnar WKB decode + hstore parse. The oracle
    // recomputes geometry and tags closed-form from customer, so any
    // drift in the JDBC round-trip, the EWKB byte layout, or the
    // hstore grammar hash-mismatches. Against live PostGIS only the
    // URL changes — the adapter call is identical.
    Query("cg_jdbc_ingest", (s, dir) => {
      import s.implicits._
      val url = "jdbc:derby:memory:graft_cg_jdbc;create=true"
      val src = t(s, dir, "customer").select(col("c_custkey").cast("long")).as[Long]
        .mapPartitions(_.map { k =>
          val x = (k * 977 % 2000000 - 1000000) / 100.0
          val y = (k * 131 % 2000000 - 1000000) / 100.0
          val hex = graft.functions.WkbGeomExpr.encode(1, Array((x, y)), srid = 4326)
            .map("%02x".format(_)).mkString
          (k, hex, s""""name"=>"cust $k", "ref"=>"${k % 97}"""")
        }).toDF("id", "wkb_geometry", "tags")
      src.write.mode("overwrite").jdbc(url, "pgsnap", new java.util.Properties)
      val hi = src.agg(max("id")).head().getLong(0) + 1L
      val snap = graft.sources.Snapshots.postgisTable(s, url, "pgsnap",
        partitionColumn = Some("id"), lowerBound = 1L, upperBound = hi,
        numPartitions = 8)
      snap.select(col("id"),
          fp(element_at(col("wkb_geometry"), 1).getField("x"), 6).as("x_fp6"),
          fp(element_at(col("wkb_geometry"), 1).getField("y"), 6).as("y_fp6"),
          element_at(col("tags"), "name").as("name"),
          element_at(col("tags"), "ref").as("ref"))
    }, oracle =
      s"""SELECT c_custkey AS id,
        |  ${sqlFp("(c_custkey*977 % 2000000 - 1000000)/100.0", 6)} AS x_fp6,
        |  ${sqlFp("(c_custkey*131 % 2000000 - 1000000)/100.0", 6)} AS y_fp6,
        |  'cust ' || CAST(c_custkey AS VARCHAR) AS name,
        |  CAST(c_custkey % 97 AS VARCHAR) AS ref
        |FROM customer ORDER BY id""".stripMargin),
    // 29 — OsmChange XML node serialization (sorted tags, exact 6-dp coords)
    Query("cg_osc_xml", (s, dir) => {
      val latU = col("c_custkey") * 7919 % 180000000L - 90000000L
      val lonU = col("c_custkey") * 104729 % 360000000L - 180000000L
      val tags = map(lit("name"), col("c_name"), lit("segment"), col("c_mktsegment"))
      t(s, dir, "customer")
        .select(
          col("c_custkey").as("elem_id"),
          graft.osm.OsmChangeXml.nodeXml(col("c_custkey"), lit(1), latU, lonU, tags).as("xml"))
    }, oracle =
      """WITH u AS (SELECT c_custkey, c_name, c_mktsegment,
        |  c_custkey*7919 % 180000000 - 90000000 AS lat_u,
        |  c_custkey*104729 % 360000000 - 180000000 AS lon_u FROM customer),
        |f AS (SELECT c_custkey, c_name, c_mktsegment,
        |  (CASE WHEN lat_u < 0 THEN '-' ELSE '' END) || CAST(abs(lat_u) // 1000000 AS VARCHAR)
        |    || '.' || lpad(CAST(abs(lat_u) % 1000000 AS VARCHAR), 6, '0') AS lat_s,
        |  (CASE WHEN lon_u < 0 THEN '-' ELSE '' END) || CAST(abs(lon_u) // 1000000 AS VARCHAR)
        |    || '.' || lpad(CAST(abs(lon_u) % 1000000 AS VARCHAR), 6, '0') AS lon_s
        | FROM u)
        |SELECT c_custkey AS elem_id,
        |  '<node id="' || CAST(c_custkey AS VARCHAR) || '" version="1" lat="' || lat_s
        |  || '" lon="' || lon_s || '">'
        |  || '<tag k="name" v="' || c_name || '"/>'
        |  || '<tag k="segment" v="' || c_mktsegment || '"/>'
        |  || '</node>' AS xml
        |FROM f ORDER BY elem_id""".stripMargin),
    // 30 — way → ordered node list (exploded back for verification)
    Query("cg_way_node_map", (s, dir) => {
      ways(s, dir)
        .select(col("way"), posexplode(col("nds")).as(Seq("pos", "node")))
    }, oracle =
      s"""WITH $ndsCte
        |SELECT way, CAST(s - 1 AS INT) AS pos, node FROM nds ORDER BY way, pos""".stripMargin),
    // 31 — WKB/EWKB geometry decode: the reference's ACTUAL input
    // format — its snapshot tables are PostGIS geometries (db.py:
    // 28-101), delivered over JDBC as WKB bytes or hex-EWKB text.
    // Per customer, mapPartitions synthesizes a little-endian EWKB
    // LineString (SRID header exercised) AND a big-endian hex WKB
    // Point, both with closed-form integer coordinates;
    // graft_geom_from_wkb decodes both COLUMNAR and the oracle
    // recomputes the coordinates directly from c_custkey — proving
    // the encode→decode roundtrip exact across byte orders and both
    // input kinds (binary, hex string).
    Query("cg_wkb_decode", (s, dir) => {
      val payloads = custWkb(s, dir) { k =>
          val line = Array.tabulate(3)(i =>
            ((k * 7919 % 100000 + i).toDouble, (k * 104729 % 100000 - i).toDouble))
          val pt = Array(((k * 13 % 7777).toDouble, (k * 17 % 8888).toDouble))
          (graft.functions.WkbGeomExpr.encode(2, line, srid = 4326),
            graft.functions.WkbGeomExpr.encode(1, pt, bigEndian = true))
        }
      payloads.select(col("c_custkey"),
          posexplode(call_function("graft_geom_from_wkb", col("wkb"))).as(Seq("pos", "v")),
          call_function("graft_geom_from_wkb", col("hex"))(0).as("p"))
        .select(col("c_custkey"), col("pos").cast("long").as("pos"),
          col("v.x").cast("long").as("x"), col("v.y").cast("long").as("y"),
          col("p.x").cast("long").as("px"), col("p.y").cast("long").as("py"))
    }, oracle =
      // the closed-form coordinate derivation the Spark side encoded
      // into WKB — decoding must land exactly back on it
      """SELECT c_custkey, CAST(pos AS BIGINT) AS pos,
        |  (c_custkey*7919) % 100000 + pos AS x,
        |  (c_custkey*104729) % 100000 - pos AS y,
        |  (c_custkey*13) % 7777 AS px,
        |  (c_custkey*17) % 8888 AS py
        |FROM (SELECT c_custkey, unnest([0, 1, 2]) AS pos FROM customer)
        |ORDER BY c_custkey, pos""".stripMargin),
    // 31b — ring-PRESERVING WKB decode: the reference's multipolygon
    // branch needs a polygon's interior rings (generator.py:683
    // branches on `len(interiors) == 0`; generator.py:719-753 turns
    // holes into inner-role relation members) — information the
    // exterior-only cg_wkb_decode drops by contract. Per customer,
    // mapPartitions synthesizes ONE holed polygon (closed 5-vertex
    // square exterior + closed 4-vertex triangular hole, closed-form
    // integer coordinates) as little-endian EWKB binary (SRID header
    // exercised) AND as big-endian ISO-WKB hex; graft_geom_rings
    // decodes both columnar — the exploded binary decode yields every
    // (ring, vertex) pair in storage order, the hex decode is probed
    // at the first interior vertex — and the oracle recomputes all of
    // it closed-form from c_custkey.
    Query("cg_wkb_rings", (s, dir) => {
      val payloads = custWkb(s, dir) { k =>
          val a = (k * 7919 % 100000).toDouble
          val b = (k * 104729 % 100000).toDouble
          val outer = Array((a, b), (a + 10, b), (a + 10, b + 10), (a, b + 10), (a, b))
          val inner = Array((a + 2, b + 2), (a + 4, b + 2), (a + 2, b + 4), (a + 2, b + 2))
          (graft.functions.WkbGeomExpr.encodePolygon(Array(outer, inner), srid = 4326),
            graft.functions.WkbGeomExpr.encodePolygon(Array(outer, inner), bigEndian = true))
        }
      payloads.select(col("c_custkey"),
          posexplode(call_function("graft_geom_rings", col("wkb"))).as(Seq("pos", "v")),
          call_function("graft_geom_rings", col("hex"))(5).as("h"))
        .select(col("c_custkey"), col("pos").cast("long").as("pos"),
          col("v.ring").cast("long").as("ring"),
          col("v.x").cast("long").as("x"), col("v.y").cast("long").as("y"),
          col("h.x").cast("long").as("hx"), col("h.y").cast("long").as("hy"))
    }, oracle =
      // the closed-form holed polygon the Spark side encoded (closed
      // square exterior = ring 0, closed triangular hole = ring 1);
      // (hx, hy) probes the hex/big-endian decode at the first interior
      // vertex — both byte orders and both input kinds must land
      // exactly back on the derivation
      """WITH base AS (SELECT c_custkey,
        |    (c_custkey*7919) % 100000 AS a, (c_custkey*104729) % 100000 AS b FROM customer),
        |offs AS (SELECT unnest([
        |  {r: 0, p: 0, dx: 0, dy: 0}, {r: 0, p: 1, dx: 10, dy: 0},
        |  {r: 0, p: 2, dx: 10, dy: 10}, {r: 0, p: 3, dx: 0, dy: 10},
        |  {r: 0, p: 4, dx: 0, dy: 0},
        |  {r: 1, p: 5, dx: 2, dy: 2}, {r: 1, p: 6, dx: 4, dy: 2},
        |  {r: 1, p: 7, dx: 2, dy: 4}, {r: 1, p: 8, dx: 2, dy: 2}], recursive := true))
        |SELECT c_custkey, CAST(p AS BIGINT) AS pos, CAST(r AS BIGINT) AS ring,
        |  a + dx AS x, b + dy AS y, a + 2 AS hx, b + 2 AS hy
        |FROM base CROSS JOIN offs
        |ORDER BY c_custkey, pos""".stripMargin),
    // 31c — MULTI*-preserving WKB decode: MultiLineString/MultiPolygon
    // are exactly where the reference CRASHES (NotImplementedError,
    // generator.py:603-606) and where a real imposm3 PostGIS schema
    // routinely delivers rows — graft decodes them part-indexed
    // instead. Per customer, mapPartitions synthesizes ONE
    // MultiPolygon (part 0 = holed square — closed exterior + closed
    // triangular hole; part 1 = plain closed triangle) as
    // little-endian EWKB binary (container-level SRID exercised) AND
    // one MultiLineString (3-vertex + 2-vertex parts) as big-endian
    // ISO-WKB hex. graft_geom_parts decodes both columnar — the
    // exploded binary decode yields every (part, ring, vertex) triple
    // in storage order, the hex decode is probed at part 1's second
    // vertex — and the oracle recomputes all of it closed-form.
    Query("cg_wkb_multi", (s, dir) => {
      val payloads = custWkb(s, dir) { k =>
          val a = (k * 7919 % 100000).toDouble
          val b = (k * 104729 % 100000).toDouble
          val outer = Array((a, b), (a + 10, b), (a + 10, b + 10), (a, b + 10), (a, b))
          val hole = Array((a + 2, b + 2), (a + 4, b + 2), (a + 2, b + 4), (a + 2, b + 2))
          val tri = Array((a + 20, b), (a + 24, b), (a + 20, b + 4), (a + 20, b))
          val line0 = Array((a, b + 1), (a + 1, b + 2), (a + 2, b + 3))
          val line1 = Array((a + 5, b), (a + 6, b + 1))
          (graft.functions.WkbGeomExpr.encodeMulti(6,
            Array(Array(outer, hole), Array(tri)), srid = 4326),
            graft.functions.WkbGeomExpr.encodeMulti(5,
              Array(Array(line0), Array(line1)), bigEndian = true))
        }
      payloads.select(col("c_custkey"),
          posexplode(call_function("graft_geom_parts", col("wkb"))).as(Seq("pos", "v")),
          call_function("graft_geom_parts", col("hex"))(4).as("h"))
        .select(col("c_custkey"), col("pos").cast("long").as("pos"),
          col("v.part").cast("long").as("part"), col("v.ring").cast("long").as("ring"),
          col("v.x").cast("long").as("x"), col("v.y").cast("long").as("y"),
          col("h.part").cast("long").as("hpart"),
          col("h.x").cast("long").as("hx"), col("h.y").cast("long").as("hy"))
    }, oracle =
      // the closed-form MULTI* derivation the Spark side encoded —
      // MultiPolygon part 0 = holed square (rings 0/1), part 1 = plain
      // triangle; (hpart, hx, hy) probes the big-endian hex
      // MultiLineString decode at part 1's second vertex
      """WITH base AS (SELECT c_custkey,
        |    (c_custkey*7919) % 100000 AS a, (c_custkey*104729) % 100000 AS b FROM customer),
        |offs AS (SELECT unnest([
        |  {pt: 0, r: 0, p: 0, dx: 0, dy: 0}, {pt: 0, r: 0, p: 1, dx: 10, dy: 0},
        |  {pt: 0, r: 0, p: 2, dx: 10, dy: 10}, {pt: 0, r: 0, p: 3, dx: 0, dy: 10},
        |  {pt: 0, r: 0, p: 4, dx: 0, dy: 0},
        |  {pt: 0, r: 1, p: 5, dx: 2, dy: 2}, {pt: 0, r: 1, p: 6, dx: 4, dy: 2},
        |  {pt: 0, r: 1, p: 7, dx: 2, dy: 4}, {pt: 0, r: 1, p: 8, dx: 2, dy: 2},
        |  {pt: 1, r: 0, p: 9, dx: 20, dy: 0}, {pt: 1, r: 0, p: 10, dx: 24, dy: 0},
        |  {pt: 1, r: 0, p: 11, dx: 20, dy: 4}, {pt: 1, r: 0, p: 12, dx: 20, dy: 0}],
        |  recursive := true))
        |SELECT c_custkey, CAST(p AS BIGINT) AS pos, CAST(pt AS BIGINT) AS part,
        |  CAST(r AS BIGINT) AS ring, a + dx AS x, b + dy AS y,
        |  CAST(1 AS BIGINT) AS hpart, a + 6 AS hx, b + 1 AS hy
        |FROM base CROSS JOIN offs
        |ORDER BY c_custkey, pos""".stripMargin),
    // 30b — END-TO-END gate: the full ChangegenPipeline dataflow's
    // section counts (create nodes/ways, modify, delete), built from
    // the SAME build() the CLI serializes — so the whole flow, not
    // just its operators, is oracle-checked. maxNodes=7 forces way
    // splitting at every SF.
    // 12q — OsmChange APPLY (the consumer side of the reference's
    // whole product: changegen emits .osc for `osmosis
    // --apply-change`; this is that apply, Spark-side, closing the
    // diff → write → ship → APPLY loop inside the engine): base node
    // snapshot + deterministic create/modify/delete sets derived from
    // customer; the Spark side runs the FULL FILE LOOP — render XML,
    // writeSharded to gzipped .osc shards, re-parse with
    // OsmChangeSource, applyNodes — while the oracle computes the
    // expected survivor set relationally. The file roundtrip must
    // equal the relational semantics exactly (ids, versions, microdeg
    // coords, tags).
    Query("cg_osc_apply", (s, dir) => {
      import graft.osm.{OsmChangeXml, OsmChangeSource}
      val base0 = t(s, dir, "customer").select(col("c_custkey").as("id"))
        .select(col("id"),
          (lit(1) + pmod(col("id"), lit(3L)).cast("int")).as("version"),
          (pmod(col("id") * 7919L, lit(170000000L)) - 85000000L).as("lat_u"),
          (pmod(col("id") * 104729L, lit(360000000L)) - 180000000L).as("lon_u"))
      val base = base0.select(col("id"), col("version"),
        (col("lat_u").cast("double") / 1e6).as("lat"),
        (col("lon_u").cast("double") / 1e6).as("lon"),
        map(lit("name"), concat(lit("c"), col("id").cast("string"))).as("tags"))
      val cls = pmod(col("id"), lit(5L))
      def shardOf = pmod(col("id"), lit(2L)).cast("int").as("shard")
      val noTags = typedLit(Map.empty[String, String])
      val del = base0.filter(cls === 0).select(shardOf, lit("delete").as("section"),
        OsmChangeXml.nodeXml(col("id"), col("version"), col("lat_u"), col("lon_u"), noTags).as("xml"))
      val mod = base0.filter(cls === 1).select(shardOf, lit("modify").as("section"),
        OsmChangeXml.nodeXml(col("id"), col("version") + 1, col("lat_u") + 1000L,
          col("lon_u") - 1000L,
          map(lit("name"), concat(lit("m"), col("id").cast("string")))).as("xml"))
      val cre = base0.filter(cls === 2).select(shardOf, lit("create").as("section"),
        OsmChangeXml.nodeXml(col("id") + 1000000000L, lit(1), -col("lat_u"), -col("lon_u"),
          map(lit("name"), concat(lit("n"), col("id").cast("string")))).as("xml"))
      val tmp = scratchDir("osc_apply")
      OsmChangeXml.writeSharded(tmp, del.unionByName(mod).unionByName(cre), shards = 2, gzip = true)
      // consumer-side torn-export gate: verify the manifest before
      // applying (a killed export or deleted shard throws here,
      // never applies a partial changefile)
      OsmChangeXml.verifiedShardPaths(s, tmp)
      OsmChangeSource.applyNodes(base,
          OsmChangeSource.nodeActions(s, s"$tmp/shard-*.osc.gz"))
        .select(col("id"), col("version"),
          fp(col("lat"), 6).as("lat_u"), fp(col("lon"), 6).as("lon_u"),
          element_at(col("tags"), "name").as("name"))
    }, oracle =
      // the relational semantics the file loop must reproduce
      """WITH b AS (SELECT c_custkey AS id,
        |    CAST(1 + ((c_custkey % 3 + 3) % 3) AS INT) AS version,
        |    ((c_custkey * 7919) % 170000000 + 170000000) % 170000000 - 85000000 AS lat_u,
        |    ((c_custkey * 104729) % 360000000 + 360000000) % 360000000 - 180000000 AS lon_u
        |  FROM customer)
        |SELECT id, version, lat_u, lon_u, 'c' || CAST(id AS VARCHAR) AS name
        |FROM b WHERE id % 5 NOT IN (0, 1, 2)
        |UNION ALL
        |SELECT id, version, lat_u, lon_u, 'c' || CAST(id AS VARCHAR) FROM b WHERE id % 5 = 2
        |UNION ALL
        |SELECT id, CAST(version + 1 AS INT), lat_u + 1000, lon_u - 1000,
        |  'm' || CAST(id AS VARCHAR) FROM b WHERE id % 5 = 1
        |UNION ALL
        |SELECT id + 1000000000, CAST(1 AS INT), -lat_u, -lon_u,
        |  'n' || CAST(id AS VARCHAR) FROM b WHERE id % 5 = 2
        |ORDER BY id""".stripMargin),
    Query("cg_pipeline_counts", (s, dir) => {
      val f = graft.ChangegenPipeline.build(s, dir, maxNodes = 7, idOffset = Some(1000000L))
      def cnt(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).withColumn("section", lit(name))
      cnt("create_nodes", f.nodes)
        .unionByName(cnt("create_ways", f.splitWays))
        .unionByName(cnt("create_poly_nodes", f.polyNodes))
        .unionByName(cnt("create_poly_ways", f.polyWays))
        .unionByName(cnt("create_poly_rels", f.polyRelations))
        .unionByName(cnt("modify_ways", f.modified))
        .unionByName(cnt("delete_elems", f.deleteSet))
        .select("section", "n")
    }, oracle =
      // mirrors ChangegenPipeline.build(maxNodes=7): segmentLen = 6, so
      // chunk count per feature = 1 if n<=7 else ceil(n/6); junction
      // radius 0.5 between supplier lattice points and distinct lineitem
      // part points; deletes = ways of removed orders + their nodes
      """WITH s AS (SELECT s_nationkey % 5 AS feat, s_suppkey,
        |    (s_suppkey*13 % 1000)/10.0 AS x, (s_suppkey*29 % 1000)/10.0 AS y FROM supplier),
        |feat_n AS (SELECT feat, count(*) AS n FROM s GROUP BY feat),
        |en AS (SELECT DISTINCT l_partkey AS enode,
        |    (l_partkey*13 % 1000)/10.0 AS ex, (l_partkey*29 % 1000)/10.0 AS ey FROM lineitem),
        |junc AS (SELECT DISTINCT enode FROM en JOIN s
        |    ON sqrt((s.x-en.ex)*(s.x-en.ex)+(s.y-en.ey)*(s.y-en.ey)) <= 0.5),
        |mod_ways AS (SELECT DISTINCT l_orderkey FROM lineitem JOIN junc ON l_partkey = enode),
        |del_ways AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey % 13 = 5),
        |del_nodes AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_orderkey % 13 = 5),
        |rings AS (SELECT p_partkey % 20 AS pgroup, count(*) AS n,
        |    CAST(ceil(CAST(count(*) AS DOUBLE) * 2 / 3) AS BIGINT) AS n_outer
        |  FROM part GROUP BY 1)
        |SELECT section, n FROM (
        |  SELECT 'create_nodes' AS section, (SELECT count(*) FROM supplier) AS n
        |  UNION ALL SELECT 'create_ways',
        |    (SELECT CAST(sum(CASE WHEN n <= 7 THEN 1
        |       ELSE CAST(ceil(CAST(n AS DOUBLE)/6) AS BIGINT) END) AS BIGINT) FROM feat_n)
        |  UNION ALL SELECT 'create_poly_nodes', (SELECT count(*) FROM part)
        |  UNION ALL SELECT 'create_poly_ways',
        |    (SELECT count(*) FROM rings) + (SELECT count(*) FROM rings WHERE n - n_outer >= 3)
        |  UNION ALL SELECT 'create_poly_rels', (SELECT count(*) FROM rings WHERE n - n_outer >= 3)
        |  UNION ALL SELECT 'modify_ways', (SELECT count(*) FROM mod_ways)
        |  UNION ALL SELECT 'delete_elems',
        |    (SELECT count(*) FROM del_ways) + (SELECT count(*) FROM del_nodes)
        |) ORDER BY section""".stripMargin)
  )

  // ---- oracle SQL ----------------------------------------------------

  /** [[latticePts]] pairs within 1.5, with fp6 distance. */
  private def latticeDWithinSql: String =
    s"""SELECT c_custkey, s_suppkey,
      |  ${sqlFp("sqrt((cx-sx)*(cx-sx)+(cy-sy)*(cy-sy))", 6)} AS dist_fp6
      |FROM (SELECT c_custkey, (c_custkey*13 % 1000)/10.0 AS cx, (c_custkey*29 % 1000)/10.0 AS cy FROM customer),
      |     (SELECT s_suppkey, (s_suppkey*13 % 1000)/10.0 AS sx, (s_suppkey*29 % 1000)/10.0 AS sy FROM supplier)
      |WHERE sqrt((cx-sx)*(cx-sx)+(cy-sy)*(cy-sy)) <= 1.5
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** Shared CTE fragments (DuckDB): derived ways / lines / points. */
  private val ndsCte =
    """nds AS (SELECT l_orderkey AS way,
      |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS s,
      |  l_partkey AS node FROM lineitem),
      |sz AS (SELECT way, count(*) AS n FROM nds GROUP BY way)""".stripMargin

  private val lineCte =
    """sp AS (SELECT s_nationkey % 5 AS nk,
      |  row_number() OVER (PARTITION BY s_nationkey % 5 ORDER BY s_suppkey) AS seq,
      |  (s_suppkey*13 % 1000)/10.0 AS x, (s_suppkey*29 % 1000)/10.0 AS y FROM supplier),
      |ln AS (SELECT nk, count(*) AS nv FROM sp GROUP BY nk HAVING count(*) >= 2),
      |seg AS (SELECT a.nk, CAST(a.seq - 1 AS INT) AS seg0, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by2
      |        FROM sp a JOIN sp b ON a.nk = b.nk AND b.seq = a.seq + 1 JOIN ln ON ln.nk = a.nk),
      |cust AS (SELECT c_custkey, c_nationkey % 5 AS nk,
      |  (c_custkey*13 % 1000)/10.0 AS px2, (c_custkey*29 % 1000)/10.0 AS py2 FROM customer),
      |cand AS (SELECT c.c_custkey, g.seg0, g.ax, g.ay, g.bx, g.by2, c.px2, c.py2,
      |    (g.bx - g.ax) AS dx, (g.by2 - g.ay) AS dy,
      |    ((g.bx - g.ax)*(g.bx - g.ax) + (g.by2 - g.ay)*(g.by2 - g.ay)) AS len2
      |  FROM cust c JOIN seg g ON c.nk = g.nk),
      |proj AS (SELECT *,
      |    least(greatest(CASE WHEN len2 = 0 THEN 0.0
      |      ELSE ((px2 - ax)*dx + (py2 - ay)*dy) / len2 END, 0.0), 1.0) AS t
      |  FROM cand),
      |cp AS (SELECT c_custkey, seg0, t, (ax + t*dx) AS cx, (ay + t*dy) AS cy,
      |    ((ax + t*dx) - px2)*((ax + t*dx) - px2) + ((ay + t*dy) - py2)*((ay + t*dy) - py2) AS d2,
      |    px2, py2
      |  FROM proj),
      |best AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d2, seg0) AS rn FROM cp) WHERE rn = 1)""".stripMargin
}

package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distance-based spatial join — the Spark re-expression of the
  * reference's PostGIS `ST_DWithin` intersection queries
  * (changegen/db.py:102-185). PostGIS gets an R-tree for free; on Spark
  * the scalable equivalent is a **grid-bucket equi-join**:
  *
  *   1. hash both sides into square cells of side = radius,
  *   2. replicate the left side to its cell + 8 neighbors (constant 9×
  *      blow-up, independent of data size),
  *   3. shuffle-join on cell id (plain equi-join: partial aggregation,
  *      AQE skew handling, and broadcast all apply),
  *   4. exact distance filter.
  *
  * Each right row lives in exactly one cell so no pair dedup is needed.
  * This is linear in |L|+|R| + output, never a cross join, and the
  * shuffle key (cell) is data-distribution-aligned — dense cells are
  * SALTED adaptively ([[pointPoint]]'s occupancy-derived subdivision),
  * so a skewed region (a city in OSM terms) spreads over finer join
  * keys instead of concentrating candidate work on one reducer.
  */
object DWithinJoin {

  /** Finest per-axis subdivision of one dense cell. */
  private val MaxSubdiv = 8

  /** Dense cells salted at most: the heaviest ones by occupancy, so the
    * dense-cell table always broadcasts. */
  private val MaxDenseCells = 100000

  /** Point-point within-radius join.
    * left: (leftId, lx, ly), right: (rightId, rx, ry) column names.
    * Output: leftId, rightId, dist (double).
    *
    * ADAPTIVE SALTING: on top of the base grid (cell side = radius),
    * cells whose RIGHT-side occupancy exceeds `occupancyTarget` are
    * subdivided f× per axis (f = ceil(sqrt(occ/target)), capped at
    * [[MaxSubdiv]]), so per-join-key candidate work is bounded ~target
    * everywhere — a city cell no longer pays occ_L × occ_R against a
    * uniform grid. The dense-cell table is derived from the data (one
    * aggregation over the right side, top-[[MaxDenseCells]] heaviest
    * cells → always broadcastable), joined broadcast onto both sides,
    * and every non-dense cell keeps f = 1 — with NO dense cells the
    * join degenerates to the plain base grid, candidate-for-candidate.
    * Exactness is grid-algebra, not sampling: a right point lives in
    * exactly one (coarse, fine) key; the left side enumerates every
    * fine key its radius box intersects inside each coarse replica, so
    * a within-radius pair meets exactly once at ANY subdivision. */
  def pointPoint(
      left: DataFrame,
      leftId: String,
      lx: String,
      ly: String,
      right: DataFrame,
      rightId: String,
      rx: String,
      ry: String,
      radius: Double,
      excludeEqual: Boolean = false,
      occupancyTarget: Int = 2048
  ): DataFrame = {
    require(occupancyTarget > 0, s"pointPoint occupancyTarget must be > 0, got $occupancyTarget")
    val cell = lit(radius)
    val offsets = -1 to 1
    // dense-cell table: (coarse cell) -> subdivision factor f.
    // Top-N by occupancy keeps it broadcastable no matter how
    // pathological the distribution; cells past the cap simply
    // stay coarse (correct, just unsalted).
    val dense = right
      .groupBy(floor(col(rx) / cell).cast("long").as("_dcx"),
        floor(col(ry) / cell).cast("long").as("_dcy"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > occupancyTarget)
      .orderBy(col("_n").desc)
      .limit(MaxDenseCells)
      .select(col("_dcx"), col("_dcy"),
        least(lit(MaxSubdiv),
          ceil(sqrt(col("_n") / lit(occupancyTarget.toDouble)))).cast("int").as("_f"))
    // right: exactly one (coarse, fine) key; f = 1 -> fine == coarse.
    // The fine index derives from the WITHIN-CELL offset, clamped
    // to [0, f), so float rounding at a cell boundary can never
    // place a point's fine key outside its coarse cell's range
    def fineIdx(v: Column, dc: Column, f: Column): Column =
      dc * f + least(f - 1, greatest(lit(0L),
        floor((v - dc * cell) * f / cell).cast("long")))
    val rKeyed = right
      .select(col(rightId), col(rx).as("_rx"), col(ry).as("_ry"),
        floor(col(rx) / cell).cast("long").as("_dcx"),
        floor(col(ry) / cell).cast("long").as("_dcy"))
      .join(broadcast(dense), Seq("_dcx", "_dcy"), "left")
      .withColumn("_f", coalesce(col("_f"), lit(1)))
      .select(col(rightId), col("_rx"), col("_ry"),
        struct(col("_dcx").as("cx"), col("_dcy").as("cy"),
          fineIdx(col("_rx"), col("_dcx"), col("_f")).as("fx"),
          fineIdx(col("_ry"), col("_dcy"), col("_f")).as("fy")).as("_cell"))
    // left: its cell + 8 neighbor replicas, then every fine key the
    // radius box intersects INSIDE each replica (clamped to the
    // replica's fine range; an empty clamp means the box only
    // grazes the replica boundary in float — no pair possible
    // there, so it drops)
    val r = lit(radius)
    val lKeyed = left
      .select(col(leftId), col(lx).as("_lx"), col(ly).as("_ly"),
        explode(array(
          (for (dx <- offsets; dy <- offsets)
            yield struct(
              (floor(col(lx) / cell) + dx).cast("long").as("ccx"),
              (floor(col(ly) / cell) + dy).cast("long").as("ccy")
            )): _*
        )).as("_cc"))
      .select(col(leftId), col("_lx"), col("_ly"),
        col("_cc.ccx").as("_dcx"), col("_cc.ccy").as("_dcy"))
      .join(broadcast(dense), Seq("_dcx", "_dcy"), "left")
      .withColumn("_f", coalesce(col("_f"), lit(1)))
      // box range padded ±1 fine cell: absorbs any single-ulp
      // disagreement with the right side's clamped fine index (the
      // exact dist filter below discards the extra candidates)
      .withColumn("_fxlo", greatest(col("_dcx") * col("_f"),
        floor((col("_lx") - r) * col("_f") / cell).cast("long") - 1))
      .withColumn("_fxhi", least(col("_dcx") * col("_f") + col("_f") - 1,
        floor((col("_lx") + r) * col("_f") / cell).cast("long") + 1))
      .withColumn("_fylo", greatest(col("_dcy") * col("_f"),
        floor((col("_ly") - r) * col("_f") / cell).cast("long") - 1))
      .withColumn("_fyhi", least(col("_dcy") * col("_f") + col("_f") - 1,
        floor((col("_ly") + r) * col("_f") / cell).cast("long") + 1))
      .withColumn("_cell", explode(flatten(transform(
        when(col("_fxlo") <= col("_fxhi"), sequence(col("_fxlo"), col("_fxhi")))
          .otherwise(array().cast("array<bigint>")),
        fx => transform(
          when(col("_fylo") <= col("_fyhi"), sequence(col("_fylo"), col("_fyhi")))
            .otherwise(array().cast("array<bigint>")),
          fy => struct(col("_dcx").as("cx"), col("_dcy").as("cy"),
            fx.as("fx"), fy.as("fy")))))))
      .select(col(leftId), col("_lx"), col("_ly"), col("_cell"))
    val joined = lKeyed.join(rKeyed, "_cell")
    val withDist = joined
      .withColumn("dist", Geo.dist(col("_lx"), col("_ly"), col("_rx"), col("_ry")))
      .filter(col("dist") <= radius)
    // `excludeEqual` is the reference's `not st_equals(n.geom, o.geom)`
    // (db.py:134): drop pairs whose GEOMETRIES coincide — two distinct
    // features at the same location do not intersect-report each
    // other. Point st_equals = exact coordinate equality.
    val excluded =
      if (excludeEqual) withDist.filter(!(col("_lx") === col("_rx") && col("_ly") === col("_ry")))
      else withDist
    excluded.select(col(leftId), col(rightId), col("dist"))
  }

  /** Point-linestring within-radius join: right side carries a
    * `array<struct<x,y>>` geometry. Same grid strategy; each linestring
    * is replicated to every cell its bounding box (padded by radius)
    * covers — for OSM-scale ways this is a small constant.
    * Output: leftId, rightId, dist, plus the closest point (cp_x, cp_y).
    */
  def pointLine(
      left: DataFrame,
      leftId: String,
      lx: String,
      ly: String,
      right: DataFrame,
      rightId: String,
      lineCol: String,
      radius: Double
  ): DataFrame = {
    val r = lit(radius)
    val xs = transform(col(lineCol), p => p.getField("x"))
    val ys = transform(col(lineCol), p => p.getField("y"))
    // replicate ONLY (id, cell) over the padded bbox — not the
    // geometry. A long line covers bbox_area/r² cells; carrying the
    // vertex array through that explosion multiplies the shuffle by
    // the line size (measured 320 MB for 5 lines at sf0.1). The
    // geometry is re-attached per candidate by id below (AQE
    // broadcasts it when small; plain equi-join otherwise).
    val rCells = right
      .select(
        col(rightId).as("_rid"),
        explode(
          flatten(
            transform(
              sequence(floor((array_min(xs) - r) / r).cast("long"), floor((array_max(xs) + r) / r).cast("long")),
              cx =>
                transform(
                  sequence(floor((array_min(ys) - r) / r).cast("long"), floor((array_max(ys) + r) / r).cast("long")),
                  cy => struct(cx.as("cx"), cy.as("cy"))
                )
            )
          )
        ).as("_cell")
      )
    val lCells = left.select(
      col(leftId),
      col(lx).as("_lx"),
      col(ly).as("_ly"),
      struct(floor(col(lx) / r).cast("long").as("cx"), floor(col(ly) / r).cast("long").as("cy")).as("_cell")
    )
    val geom = right.select(col(rightId), col(lineCol).as("_line"))
    val cp = Geo.closestOnLine(col("_line"), col("_lx"), col("_ly"))
    lCells
      .join(rCells, "_cell")
      .join(geom, col("_rid") === col(rightId))
      .withColumn("_cp", cp)
      .withColumn("dist", sqrt(col("_cp.d2")))
      .filter(col("dist") <= radius)
      .select(col(leftId), col(rightId), col("dist"), col("_cp.x").as("cp_x"), col("_cp.y").as("cp_y"))
    // no dedup needed: the point occupies exactly ONE cell, so a
    // (point, line) pair meets at most once however many cells the
    // line is replicated to
  }

  /** Line-linestring within-radius join — the reference's actual
    * `st_dwithin(new.geometry, old.geometry, buffer)` between
    * LINESTRING geometries (changegen/db.py:127-135). Both sides carry
    * `array<struct<x,y>>` geometry columns.
    *
    * Grid strategy: the left line replicates to every cell of its
    * radius-padded bbox, the right to its unpadded bbox cells; two
    * lines within `radius` always share at least one cell. Since BOTH
    * sides are replicated, a pair can meet in many cells — instead of
    * a distinct-shuffle, each side carries its bbox cell minima and
    * the pair is kept only in its canonical cell (the lexicographic
    * smallest common cell: elementwise max of the two minima), which
    * is exactly-once by construction.
    *
    * The exact predicate is the native `graft_line_dist2` (proper
    * segment crossing → 0, else endpoint-to-segment minima — true
    * segment distance, not densified). Output: leftId, rightId, dist.
    *
    * ID CONTRACT: `leftId` / `rightId` must be UNIQUE within their
    * side. The cell shuffle carries only (id, cell, bbox-min) and the
    * geometry re-attaches to each candidate pair by an id equi-join,
    * so a duplicated id would fan a candidate out over every row
    * sharing it (and cross-pair their geometries). Every caller here
    * derives the id from a per-feature key; assert uniqueness upstream
    * if yours does not. */
  def lineLine(
      left: DataFrame,
      leftId: String,
      leftLine: String,
      right: DataFrame,
      rightId: String,
      rightLine: String,
      radius: Double,
      excludeEqual: Boolean = false,
      keepLines: Boolean = false
  ): DataFrame = {
    require(leftId != rightId, s"lineLine needs distinct id column names, got '$leftId' twice")
    val r = lit(radius)
    def xs(c: Column) = transform(c, p => p.getField("x"))
    def ys(c: Column) = transform(c, p => p.getField("y"))
    // replicate ONLY (id, cell, bbox-min) over the bbox cells — not
    // the geometry (the pointLine lesson: carrying the vertex array
    // through the cell explosion multiplies the cell shuffle by the
    // line size; a corpus-scale feature table with long ways pays
    // that on BOTH sides here). Geometry re-attaches per CANDIDATE
    // PAIR by id after the canonical-cell filter, so the exact
    // predicate still runs once per pair on exactly-once rows.
    def cellsOf(df: DataFrame, id: String, lineCol: String, pad: Column,
                idOut: String, cxm: String, cym: String) = {
      val cxMin = floor((array_min(xs(col(lineCol))) - pad) / r).cast("long")
      val cxMax = floor((array_max(xs(col(lineCol))) + pad) / r).cast("long")
      val cyMin = floor((array_min(ys(col(lineCol))) - pad) / r).cast("long")
      val cyMax = floor((array_max(ys(col(lineCol))) + pad) / r).cast("long")
      df.select(col(id).as(idOut),
          cxMin.as(cxm), cyMin.as(cym), cxMax.as("_cxmax"), cyMax.as("_cymax"))
        .withColumn("_cell", explode(flatten(transform(
          sequence(col(cxm), col("_cxmax")),
          cx => transform(sequence(col(cym), col("_cymax")), cy => struct(cx.as("cx"), cy.as("cy")))))))
        .drop("_cxmax", "_cymax")
    }
    val lCells = cellsOf(left, leftId, leftLine, r, "_lid0", "_lcx0", "_lcy0")
    val rCells = cellsOf(right, rightId, rightLine, lit(0.0), "_rid0", "_rcx0", "_rcy0")
    val lGeom = left.select(col(leftId).as("_lid0"), col(leftLine).as("_lline"))
    val rGeom = right.select(col(rightId).as("_rid0"), col(rightLine).as("_rline"))
    val joined = lCells
      .join(rCells, "_cell")
      // canonical cell: exactly-once without a distinct shuffle
      .filter(col("_cell.cx") === greatest(col("_lcx0"), col("_rcx0")) &&
        col("_cell.cy") === greatest(col("_lcy0"), col("_rcy0")))
      .select(col("_lid0").as(leftId), col("_rid0").as(rightId))
      .join(lGeom.withColumnRenamed("_lid0", leftId), leftId)
      .join(rGeom.withColumnRenamed("_rid0", rightId), rightId)
      .withColumn("dist", sqrt(call_function("graft_line_dist2", col("_lline"), col("_rline"))))
      .filter(col("dist") <= radius)
    // reference's `not st_equals` (db.py:134) for linestrings:
    // vertex-array equality (same coords in the same order). Cheap —
    // it only runs on within-radius candidate pairs.
    val excluded =
      if (excludeEqual) joined.filter(!(col("_lline") === col("_rline")))
      else joined
    // keepLines: callers that derive a per-pair geometry (e.g. the
    // --self junction pass computes graft_line_closest on each
    // candidate pair) read the arrays straight off the join output
    // instead of re-joining both sides by id
    if (keepLines)
      excluded.select(col(leftId), col(rightId), col("dist"), col("_lline"), col("_rline"))
    else
      excluded.select(col(leftId), col(rightId), col("dist"))
  }
}

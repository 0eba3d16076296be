package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.WkbGeomExpr
import graft.operators.{SequentialIds, SnapshotDiff, WayOps}
import graft.osm.OsmChangeXml
import graft.spatial.DWithinJoin

/** End-to-end changefile generation — the reference's whole pipeline
  * (changegen/generator.py:496-873 + changewriter.py:92-191) as one
  * distributed dataflow over the driver testdata:
  *
  *   1. new linear features (per-group supplier linestrings) → nodes
  *      with sequential ids (configurable offset/direction, `_id_gen`)
  *   2. ways over those node ids, split at `maxNodesPerWay` with
  *      shared joiner nodes (`_make_ways`)
  *   3. junctions where new nodes fall within `radius` of existing
  *      way nodes (ST_DWithin) → junction node ids inserted into the
  *      existing ways, order preserved (`_modify_existing_way`)
  *   4. deletions expanded way→nodes with no double-delete
  *   5. `<create>/<modify>/<delete>` OsmChange XML, single gzip file
  *
  * Usage: runMain graft.ChangegenPipeline <sfDir|jdbcUrl> <out.osc[.gz]>
  *        [--key=value ...] — every option is a flag (see [[run]]),
  *        including `--poly-table` / `--line-table` / `--poly-epsg` for
  *        real-geometry (wkb_geometry) feature tables.
  * A `jdbc:` URL as the first argument runs the SAME dataflow off a
  * live database (the reference CLI's PostGIS input,
  * __main__.py:164-169): tables read partition-ranged via
  * [[Tables.jdbcTable]], deletion tables discovered from connection
  * metadata instead of a directory listing, and `--poly-table` /
  * `--line-table` reading WKB feature tables straight into the
  * polygon/linestring seams (MULTI* parts included).
  * `--shards=N` (N > 0) writes `out` as a DIRECTORY of
  * self-contained shard documents in parallel on the executors
  * (OsmChangeXml.writeSharded) instead of one driver-assembled file.
  */
object ChangegenPipeline {

  /** Junction radius among the new features themselves (`--self`). */
  private val SelfRadius = 0.5

  /** Every intermediate the pipeline writes or counts — returned so the
    * registered `cg_pipeline_counts` query oracle-checks the SAME
    * dataflow the main() serializes (not a re-derivation). */
  final case class Frames(
      nodes: DataFrame, splitWays: DataFrame, junctionAt: DataFrame,
      modified: DataFrame, deleteSet: DataFrame,
      nodeXml: DataFrame, wayXml: DataFrame, relXml: DataFrame,
      modifyXml: DataFrame, deleteXml: DataFrame,
      polyNodes: DataFrame, polyWays: DataFrame, polyRelations: DataFrame,
      pointNodes: DataFrame, selfJunctions: DataFrame)

  /** Table discovery by name suffix — the reference's `_get_db_tables`
    * (`table_name LIKE '%suffix'`, __main__.py:55-68), used for BOTH
    * deletion tables (`--deletion-suffix`) and new-feature tables
    * (`--suffix`, __main__.py:73-83 — the reference's default way of
    * naming its inputs). In database mode (`dir` is a `jdbc:` URL)
    * the discovery runs against the connection's table metadata
    * instead of a directory listing — the reference's
    * information_schema query, verbatim semantics. */
  def discoverTables(dir: String, suffix: String): Seq[String] =
    if (dir.startsWith("jdbc:")) {
      val conn = java.sql.DriverManager.getConnection(dir)
      try {
        val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
        val names =
          try Iterator.continually(rs).takeWhile(_.next())
            .map(r => (Option(r.getString("TABLE_SCHEM")), r.getString("TABLE_NAME"))).toList
          finally rs.close()
        // SCHEMA-QUALIFY each discovered name: getTables scans every
        // schema, so an unqualified read-back would resolve through
        // search_path — a DIFFERENT (or missing) table than the one
        // discovered whenever the match lives outside it, and two
        // same-named tables in different schemas would collapse into
        // duplicate reads of one. Lowercase both parts: Derby (folds
        // unquoted ids UP) and Postgres (folds DOWN) each resolve an
        // unquoted lowercase identifier back to the stored one.
        names.collect {
          case (schem, n) if n.toLowerCase.endsWith(suffix.toLowerCase) =>
            schem.filter(_.nonEmpty).map(s => s"${s.toLowerCase}.").getOrElse("") +
              n.toLowerCase
        }.sorted
      } finally conn.close()
    } else {
      val d = new java.io.File(dir)
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(s"$suffix.parquet"))
        .map(_.getAbsolutePath).sorted
    }

  /** Read a feature table RAW (all columns, geometry undecoded):
    * jdbc mode via the partition-ranged PostGIS reader, directory
    * mode straight from parquet (`name` may be a discovered absolute
    * path or a bare table name). */
  def featureTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (dir.startsWith("jdbc:"))
      graft.sources.Snapshots.postgisTable(spark, dir, name,
        decodeGeom = false, hstoreCols = Nil)
    else if (name.endsWith(".parquet")) spark.read.parquet(name)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Geometry class of one WKB/hex-EWKB value: 1 = point, 2 = line,
    * 3 = polygon (MULTI* fold onto their base type), read through the
    * codec's [[WkbGeomExpr.readHeader]]; an unreadable header fails
    * naming it. Driver-side constant work — used
    * to route each DISCOVERED feature table to the point/line/polygon
    * seam from a single sampled row, the way the reference's OGR
    * layer loop branches on the feature's geometry type
    * (generator.py:604-686). imposm-style tables are homogeneous per
    * table, so one sample classifies the table. */
  def wkbClass(v: Any): Int = {
    val (head, bytes) = v match {
      case b: Array[Byte] => (b.take(9).map("%02x".format(_)).mkString, b)
      // the header is at most 9 bytes: byte order, type, EWKB SRID
      case s: String => (s.take(18), WkbGeomExpr.hexDecode(s.take(18)))
      case other => throw new IllegalArgumentException(
        s"unsupported wkb_geometry value type: ${other.getClass.getName}")
    }
    val h = if (bytes == null) null else WkbGeomExpr.readHeader(bytes, 0)
    require(h != null, s"unreadable WKB header '$head': needs hex digits (string values), " +
      "a 0/1 byte-order mark, a type code with ISO dimension 0-3, and the SRID when flagged")
    h.baseType match {
      case 1 | 4 => 1
      case 2 | 5 => 2
      case 3 | 6 => 3
      case x => throw new IllegalArgumentException(s"unsupported WKB geometry type $x")
    }
  }

  /** One sampled geometry class for a feature table (see [[wkbClass]]);
    * fails loudly on an all-null or empty geometry column. */
  def tableGeomClass(df: DataFrame, name: String): Int = {
    val sample = df.select(col("wkb_geometry"))
      .filter(col("wkb_geometry").isNotNull).head(1)
    require(sample.nonEmpty, s"feature table $name has no non-null wkb_geometry to classify")
    wkbClass(sample(0).get(0))
  }

  /** Feature tags (reference `_generate_tags_from_feature`,
    * generator.py:169-205): every table column except the geometry and
    * the hstore column itself, merged with the `hstoreCol` map, columns
    * winning on key conflicts. `osm_id` is a tag on create and left out
    * on modify, as the reference's modify branch filters it. */
  private def featureTags(df: DataFrame, hstoreCol: Option[String],
                          withOsmId: Boolean): org.apache.spark.sql.Column = {
    val excluded = Set("wkb_geometry") ++ hstoreCol.map(_.toLowerCase) ++
      (if (withOsmId) None else Some("osm_id"))
    val tagCols = df.columns.map(_.toLowerCase).filterNot(excluded.contains).toSeq.sorted
    val colTags = graft.operators.TagOps.tagsFromColumns(df, tagCols)
    hstoreCol
      .map(h => graft.operators.TagOps.mergeTags(colTags, graft.operators.TagOps.hstoreToMap(col(h))))
      .getOrElse(colTags)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    try run(args, spark) finally spark.stop()
  }

  /** `--debug` per-stage progress lines (reference __main__.py:72 —
    * its --debug flips the logger to DEBUG and the stages narrate).
    * The message is by-name, so disabled runs pay nothing. */
  private def dbg(enabled: Boolean, msg: => String): Unit =
    if (enabled) println(s"[changegen:debug] $msg")

  /** Lazy id-zone overflow guard: sequential ids assigned from
    * `offset` must stay within `window` ids (ascending, or descending
    * when `neg`) before they collide with the next zone. Checked per
    * ROW as the ids flow — the round-18 eager `count()` guards each
    * cost one extra driver job + a serialization barrier per build
    * (cg_pipeline_counts regressed 3.6 → 4.8 s on them) — and still
    * loud: index i ≥ window−1 ⟺ count ≥ window, exactly the old
    * `require(count < window)`, failing the job before any XML or
    * count leaves the overflowing frame. */
  private def zoneGuard(id: org.apache.spark.sql.Column, offset: Long, window: Long,
                        neg: Boolean, what: String): org.apache.spark.sql.Column = {
    val bad = if (neg) id <= lit(offset - (window - 1)) else id >= lit(offset + (window - 1))
    when(bad, raise_error(concat(
      lit(s"$what: assigned node id "), id.cast("string"),
      lit(s" overflows the fixed id zone ($window ids from $offset) — ids would collide with the next zone"))))
      .otherwise(id)
  }

  /** The full CLI dataflow on a caller-owned session — main() wraps
    * this with session lifecycle; the e2e spec drives it directly so
    * the database mode is proven through the exact argv path users
    * run. `args` = `<sfDir|jdbcUrl> <out>` then `--key=value` flags
    * (a bare `--key` means `true`); a further positional argument, an
    * unknown key or a repeated scalar key is an error. `sfDir` is a
    * parquet directory OR a `jdbc:` URL (the reference CLI points at
    * live PostGIS, __main__.py:164-169).
    *
    * Keys: max-nodes-per-way, id-offset, neg-ids, shards, osmsrc,
    * deletion-suffix, deletions, no-collisions, suffix (new-feature
    * table discovery, comma-separated), existing (junction-target
    * tables), modify-meta, hstore-tags, self, compress, debug — plus
    * the REAL-GEOMETRY inputs the reference's main() actually consumes
    * (its feature tables carry `wkb_geometry`): `--poly-table` /
    * `--line-table` name a table (jdbc mode) or a parquet file
    * (directory mode) of (id, wkb_geometry) rows feeding the
    * `polyWkb` / `lineWkb` seams — MULTI* parts included — and
    * `--poly-epsg` sets the polygon layer's source CRS. */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val (flagArgs, pos) = args.partition(_.startsWith("--"))
    val parsedFlags = flagArgs.map { f =>
      val a = f.stripPrefix("--").split("=", 2)
      a(0) -> (if (a.length > 1) a(1) else "true")
    }
    // the reference's -s/-d/-e options are REPEATABLE (multiple=True,
    // __main__.py:73-103): repeated occurrences of the list-valued
    // flags merge as comma lists. Any OTHER flag repeated is an error
    // — a silent last-wins would drop the earlier value (e.g. the
    // first --deletions table's <delete> entries)
    val repeatableFlags = Set("suffix", "existing", "deletions")
    val dupScalars = parsedFlags.groupBy(_._1)
      .collect { case (k, vs) if vs.length > 1 && !repeatableFlags(k) => k }
    require(dupScalars.isEmpty,
      s"flag(s) given more than once: ${dupScalars.toSeq.sorted.map("--" + _).mkString(", ")}" +
        s" — only ${repeatableFlags.toSeq.sorted.map("--" + _).mkString(", ")} are repeatable")
    val flags = parsedFlags.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).mkString(",")
    }
    // reject typo'd keys loudly: a silently-ignored --max-nodes=7
    // would fall back to the default and write a structurally valid
    // but WRONG changefile (the same failure mode check.py guards
    // its --only/--skip names against)
    val knownFlags = Set("max-nodes-per-way", "id-offset", "neg-ids",
      "shards", "osmsrc", "deletion-suffix", "no-collisions",
      "poly-table", "line-table", "poly-epsg",
      "modify-meta", "hstore-tags", "suffix", "existing",
      "self", "deletions", "compress", "debug")
    val unknownFlags = flags.keySet -- knownFlags
    require(unknownFlags.isEmpty,
      s"unknown flag(s): ${unknownFlags.toSeq.sorted.map("--" + _).mkString(", ")}" +
        s" — known flags: ${knownFlags.toSeq.sorted.map("--" + _).mkString(", ")}")
    require(pos.length <= 2,
      s"unexpected positional argument(s): ${pos.drop(2).mkString(" ")} — only " +
        "<sfDir|jdbcUrl> <out> are positional; every option is a --key=value flag")
    def arg(key: String): Option[String] = flags.get(key).filter(_.nonEmpty)
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (pos.length > 1) pos(1) else "/tmp/graft_demo.osc.gz"
    // "none" = no way splitting (the reference's `--max_nodes_per_way
    // none`, __main__.py:141-148) — modeled as an unreachable cap
    val maxNodes = arg("max-nodes-per-way")
      .map(v => if (v.equalsIgnoreCase("none")) Int.MaxValue else v.toInt)
      .getOrElse(500)
    val idOffset = arg("id-offset").map(_.toLong)
    val negIds = arg("neg-ids").exists(_.toBoolean)
    val shards = arg("shards").map(_.toInt).getOrElse(0)
    val osmSrc = arg("osmsrc")
    val deletionSuffix = arg("deletion-suffix")
    val noCollisions = arg("no-collisions").exists(_.toBoolean)
    // real-geometry feature tables (reference db.py:28-101 reads
    // wkb_geometry through OGR): first column = feature id, a
    // wkb_geometry column = the WKB/hex payload
    def geomFrame(name: String, groupCol: String): DataFrame = {
      val raw = featureTable(spark, sfDir, name)
      raw.select(col(raw.columns.head).cast("long").as(groupCol),
        col("wkb_geometry").as("wkb"))
    }
    val polyEpsg = flags.get("poly-epsg").map(_.toInt).getOrElse(4326)
    // reference __main__.py:104-117,152-163: --modify-meta turns the
    // suffix tables into <modify> elements (metadata only, geometry
    // untouched); --hstore-tags names the hstore column tags merge
    // from (table columns win). --suffix discovers new-feature tables
    // by name (multiple, comma-separated — the reference's repeatable
    // -s); --existing names the geometry tables eligible for junction
    // modification (__main__.py:95-103).
    val modifyMeta = flags.get("modify-meta").exists(_.toBoolean)
    val hstoreCol = flags.get("hstore-tags")
    val suffixes = flags.get("suffix").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val existingNames = flags.get("existing").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    // the reference's own incompatibility rule (__main__.py:229-230)
    require(!(modifyMeta && existingNames.nonEmpty),
      "--modify-meta cannot be used with --existing")
    // --self: junctions among the new features themselves
    // (__main__.py:131-140); --compress: force gzip output regardless
    // of the output extension (__main__.py:115, the reference default)
    val selfIntersect = flags.get("self").exists(_.toBoolean)
    val forceGzip = flags.get("compress").exists(_.toBoolean)
    // --debug: per-stage progress logging (the reference's --debug
    // flips its logger to DEBUG, __main__.py:72 — same role here)
    val debug = flags.get("debug").exists(_.toBoolean)

    // deletion tables: suffix-discovered (--deletion-suffix) plus
    // EXPLICITLY named (--deletions=a,b — the reference's repeatable
    // -d/--deletions option, __main__.py:84-93). A named table that
    // does not exist fails loudly here, before any work runs.
    val namedDeletions = flags.get("deletions")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      .map { n =>
        val resolved =
          if (sfDir.startsWith("jdbc:"))
            discoverTables(sfDir, n).filter(t => t == n || t.endsWith("." + n))
          else {
            val f = new java.io.File(sfDir, s"$n.parquet")
            if (f.isFile || f.isDirectory) Seq(f.getAbsolutePath) else Nil
          }
        require(resolved.nonEmpty, s"--deletions table not found: $n")
        require(resolved.size == 1,
          s"--deletions table '$n' is ambiguous: ${resolved.mkString(", ")}")
        resolved.head
      }
    val deletionTables =
      (deletionSuffix.map(discoverTables(sfDir, _)).getOrElse(Nil) ++ namedDeletions).distinct
    if (deletionSuffix.isDefined || namedDeletions.nonEmpty)
      println(s"[changegen] found deletion tables: ${deletionTables.mkString(", ")}")
    val discovered = suffixes.flatMap(discoverTables(sfDir, _)).distinct.sorted
    if (suffixes.nonEmpty) {
      require(discovered.nonEmpty,
        s"--suffix=${suffixes.mkString(",")} discovered no feature tables in $sfDir")
      println(s"[changegen] found feature tables: ${discovered.mkString(", ")}")
    }
    val discoveredFrames = discovered.map { n =>
      val df = featureTable(spark, sfDir, n)
      (n, df, tableGeomClass(df, n))
    }

    // injective feature key of the i-th discovered table: the table
    // ordinal in the high bits over the per-feature id, resolved BY
    // NAME (osm_id — the reference's id field), falling back to the
    // first column only when no osm_id exists. Non-numeric or null id
    // values RAISE at execution instead of casting to null — a null
    // group id would silently collapse every such feature into one way
    // (imposm column order over JDBC/parquet is not user-visible, so
    // "first column" alone is not a safe id heuristic).
    def featKey(df: DataFrame, name: String, i: Int): org.apache.spark.sql.Column = {
      val idc = df.columns.find(_.equalsIgnoreCase("osm_id")).getOrElse(df.columns.head)
      val c = col(idc)
      lit((i + 1).toLong << 40) + when(c.isNull || c.cast("long").isNull,
        raise_error(concat(lit(s"feature table $name: id column '$idc' has a null/non-numeric value: "),
          coalesce(c.cast("string"), lit("NULL")))))
        .otherwise(c.cast("long"))
    }
    val f =
      if (modifyMeta) buildModifyOnly(spark, sfDir, osmSrc, discoveredFrames, hstoreCol)
      else {
        // suffix-discovered tables route to the line/poly seams by
        // sampled geometry class; the table ordinal moves into the
        // group id's high bits so per-table feature ids stay
        // injective after the union (explicit --poly-table /
        // --line-table inputs keep their raw ids, ordinal 0)
        def seamUnion(cls: Int, explicitTbl: Option[String], groupCol: String): Option[DataFrame] = {
          val fromSuffix = discoveredFrames.filter(_._3 == cls)
          val all = explicitTbl.map(geomFrame(_, groupCol)).toSeq ++
            fromSuffix.zipWithIndex.map { case ((name, df, _), i) =>
              df.select(featKey(df, name, i).as(groupCol),
                col("wkb_geometry").as("wkb"))
            }
          all.reduceOption(_ unionByName _)
        }
        // point-class tables: v1 <create> nodes (reference
        // generator.py:622-631) — WGS84 coords + full
        // table-derived tags, one node per feature
        val pointFrames = discoveredFrames.filter(_._3 == 1)
        val pointWkb =
          if (pointFrames.isEmpty) None
          else Some(pointFrames.zipWithIndex.map { case ((name, df, _), i) =>
            df.select(featKey(df, name, i).as("pgrp"),
              featureTags(df, hstoreCol, withOsmId = true).as("ptags"),
              col("wkb_geometry").as("wkb"))
          }.reduce(_ unionByName _))
        val existingWkb =
          if (existingNames.isEmpty) None
          else {
            // node ids for the named geometries' vertices resolve by
            // position against the extract's way node lists — the
            // reference's own requirement (its --osmsrc is mandatory)
            require(osmSrc.isDefined,
              "--existing requires --osmsrc (node ids come from the extract)")
            Some(existingNames.map { n =>
              featureTable(spark, sfDir, n)
                .select(col("osm_id").cast("long").as("eway"), col("wkb_geometry").as("wkb"))
            }.reduce(_ unionByName _))
          }
        build(spark, sfDir, maxNodes, idOffset, negIds, osmSrc,
          deletionTables, noCollisions,
          seamUnion(3, flags.get("poly-table"), "pgroup"), polyEpsg,
          seamUnion(2, flags.get("line-table"), "lgroup"), existingWkb,
          pointWkb, selfIntersect = selfIntersect, debug = debug)
      }

    // 5. assemble the OsmChange document (creates = nodes then ways)
    dbg(debug, s"stage 5 (write): assembling OsmChange document -> $out" +
      s" (shards=$shards gzip=${forceGzip || out.endsWith(".gz")})")
    val tWrite0 = System.nanoTime()
    if (shards > 0) {
      def sec(df: DataFrame, s: String) = df.select(
        pmod(xxhash64(col("xml")), lit(shards)).cast("int").as("shard"), lit(s).as("section"), col("xml"))
      OsmChangeXml.writeSharded(out,
        sec(f.nodeXml, "create").unionByName(sec(f.wayXml, "create"))
          .unionByName(sec(f.relXml, "create"))
          .unionByName(sec(f.modifyXml, "modify")).unionByName(sec(f.deleteXml, "delete")),
        shards, gzip = forceGzip)
    } else
      OsmChangeXml.write(out, f.nodeXml.unionByName(f.wayXml).unionByName(f.relXml),
        Some(f.modifyXml), Some(f.deleteXml), gzip = forceGzip || out.endsWith(".gz"))
    dbg(debug, f"stage 5 (write): done in ${(System.nanoTime() - tWrite0) / 1e9}%.2f s")
    println(s"[changegen] wrote $out: nodes=${f.nodes.count()} ways=${f.splitWays.count()} " +
      s"points=${f.pointNodes.count()} self_junctions=${f.selfJunctions.count()} " +
      s"junctions=${f.junctionAt.count()} modified=${f.modified.count()} deletes=${f.deleteSet.count()}")
  }

  /** modify_only (reference generator.py:573,608,634-668): features
    * already exist in OSM and carry their id in an `osm_id` field —
    * emit them as version-2 `<modify>` elements with refreshed tags
    * and UNCHANGED geometry (no new nodes, no splitting, no junction
    * pass; "modify_only does not support modifying geometries"). Way
    * node lists come from the existing extract.
    *
    * `features` (the CLI's `--suffix`-discovered tables, raw frames +
    * sampled geometry class from [[tableGeomClass]]): each row's tags
    * come from its table columns, merged with the `hstoreCol` hstore
    * map when given — column keys take precedence and neither
    * `osm_id` nor the hstore column itself is emitted as a tag
    * (reference `_generate_tags_from_feature`, generator.py:169-205).
    * Line/polygon rows become way modifies (node lists joined from
    * the extract by `osm_id`); point rows become v2 nodes at their
    * own coordinates (generator.py:610-625). Without `features` the
    * synthetic demo derivation is unchanged. */
  def buildModifyOnly(spark: SparkSession, sfDir: String,
                      osmSrc: Option[String] = None,
                      features: Seq[(String, DataFrame, Int)] = Nil,
                      hstoreCol: Option[String] = None): Frames = {
    val empty = spark.emptyDataFrame.withColumn("xml", lit(""))
      .filter(lit(false)).select("xml")
    // "osm_id" analog: the feature's vertex key maps onto existing node
    // ids; features themselves map onto existing ways (feat → way id)
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val existingEdges = osmSrc match {
      case Some(p) => graft.osm.OsmPbf.ways(spark, p).toDF()
        .select(col("id").as("eway"), posexplode(col("nds")).as(Seq("seq", "enode")))
      case None => lineitem.select(
        col("l_orderkey").as("eway"), col("l_linenumber").as("seq"), col("l_partkey").as("enode"))
    }
    val existingWays = WayOps.wayNodeMap(existingEdges, "eway", "seq", "enode")
    val (modified, modifyXml) =
      if (features.isEmpty) {
        // synthetic demo derivation: every existing way refreshed
        val m = existingWays.withColumn("new_nds", col("nds")).persist()
        (m, m.select(
          OsmChangeXml.wayXml(col("eway"), lit(2), col("new_nds"),
            map(lit("surface"), lit("asphalt"),
              lit("ref"), concat(lit("W"), col("eway").cast("string")))).as("xml")))
      } else {
        val perTable = features.map { case (name, df, cls) =>
          val tags = featureTags(df, hstoreCol, withOsmId = false)
          if (cls == 1) {
            // point feature: v2 node at the feature's own coordinates
            val xml = df
              .withColumn("_v", element_at(call_function("graft_geom_parts", col("wkb_geometry")), 1))
              .select(OsmChangeXml.nodeXml(col("osm_id").cast("long"), lit(2),
                graft.text.TextAnalysis.fp(col("_v").getField("y"), 6),
                graft.text.TextAnalysis.fp(col("_v").getField("x"), 6), tags).as("xml"))
            (xml, None)
          } else {
            // line/polygon feature: v2 way, node list from the extract.
            // A feature whose osm_id is absent from the extract fails
            // LOUDLY before any XML is written — the reference raises
            // KeyError on existing_nodes_for_ways[existing_id]
            // (generator.py:634-650); an inner join would silently
            // drop the row from the changefile instead.
            val feats = df.select(col("osm_id").cast("long").as("eway"), tags.as("_tags"))
            val missing = feats.join(existingWays, Seq("eway"), "left_anti")
              .select("eway").limit(10).collect()
              .map(r => if (r.isNullAt(0)) "null/non-numeric" else r.getLong(0).toString)
            require(missing.isEmpty,
              s"feature table $name: osm_id(s) not present in the extract's ways: " +
                s"${missing.mkString(", ")} (reference fails with KeyError on a " +
                "feature whose osm_id is missing from osmsrc)")
            val ways = feats.join(existingWays, "eway")
            (ways.select(OsmChangeXml.wayXml(col("eway"), lit(2), col("nds"), col("_tags")).as("xml")),
              Some(ways.select(col("eway"), col("nds").as("new_nds"))))
          }
        }
        val m = perTable.flatMap(_._2)
          .reduceOption(_ unionByName _)
          .getOrElse(existingWays.select(col("eway"), col("nds").as("new_nds")).filter(lit(false)))
          .persist()
        (m, perTable.map(_._1).reduce(_ unionByName _))
      }
    val none = modified.filter(lit(false))
    Frames(none, none, none, modified, none.select(lit("way").as("elem_type"), col("eway").as("elem_id")),
      empty, empty, empty, modifyXml, empty, none, none, none, none, none)
  }

  /** Build the full dataflow. `idOffset = None` reproduces the CLI
    * default: offset 1000000 raised above the observed max node id.
    * `osmSrc` points the "existing data" side at a real `.osm.pbf`
    * extract (the reference CLI's `osmsrc` argument: way node lists
    * and max-id collision checks come from the extract,
    * generator.py:35-53 / __main__.py:26-53); without it, existing
    * ways derive synthetically from lineitem.
    *
    * `polyWkb`: optional REAL-geometry polygon source — a DataFrame
    * with columns `(pgroup: long, wkb: binary | hex string)`, the
    * shape a partitioned JDBC read of a PostGIS snapshot delivers
    * (db.py:28-101 reads `wkb_geometry` columns; over JDBC they
    * arrive as WKB bytes or hex EWKB). When present, the polygon
    * section decodes EVERY ring via `graft_geom_rings` — exterior →
    * outer way, each interior hole → its own closed way + an
    * inner-role member in the feature's multipolygon relation
    * (reference generator.py:683,719-753) — instead of synthesizing
    * rings from the part table. When absent, the synthetic
    * part-table derivation is unchanged.
    *
    * `lineWkb`: optional REAL-geometry linear source — `(lgroup:
    * long, wkb: binary | hex string)` rows, LineString OR
    * MultiLineString (the reference crashes on the latter,
    * generator.py:603-606). Each MULTI* part becomes its own feature
    * and flows through the same node-assignment / way-split /
    * junction dataflow as the synthetic derivation (WGS84 input —
    * reproject upstream via [[graft.spatial.Geo]] for other CRS).
    *
    * `existingWkb`: optional `(eway: long, wkb: binary | hex string)`
    * rows naming the EXISTING geometries eligible for junction
    * modification — the reference's `--existing` tables
    * (__main__.py:95-103: "Table of geometries to use when
    * determining whether existing features must be altered"). When
    * present, junction detection runs against these features'
    * vertices ONLY (coordinates decoded from the table's geometry,
    * node ids resolved positionally against the extract's way node
    * lists — so `osmSrc` is required), and only these ways are
    * spliced. Deletions still expand against the FULL extract: the
    * reference's deletion pass is independent of `--existing`.
    *
    * `pointWkb`: optional POINT feature source — `(pgrp: long
    * injective feature key, ptags: map<string,string>, wkb)` rows.
    * Each feature becomes ONE v1 `<create>` node at its (WGS84)
    * coordinates carrying its table-derived tags — the reference's
    * Point create branch (generator.py:622-631: `Node(id=next(ids),
    * version=1, lat, lon, tags=feat_tags)`). Points join no ways, no
    * junction pass, no relations — exactly the reference's seam.
    * MULTIPOINT rows contribute their FIRST point (the reference's
    * isinstance ladder silently drops MultiPoint features entirely —
    * handled here as one-node-per-feature instead of silent loss).
    *
    * `selfIntersect`: the reference's `--self` / `-si` flag
    * (__main__.py:131-140): junctions AMONG the new features
    * themselves. Closest points of feature pairs within [[SelfRadius]]
    * (`db.intersections(table, table)`, `not st_equals` excluded)
    * dedup at 6 decimals (COORDINATE_PRECISION,
    * _generate_intersection_db generator.py:136-143) into ONE
    * junction node per coordinate; way assembly then REUSES the
    * junction id for a 6dp-coincident vertex (generator.py:429-448)
    * and INSERTS the remaining junctions at their projection index
    * (generator.py:449-476) — so two crossing new features share one
    * node id in the changefile. */
  def build(spark: SparkSession, sfDir: String, maxNodes: Int = 500,
            idOffset: Option[Long] = None, negIds: Boolean = false,
            osmSrc: Option[String] = None,
            deletionTables: Seq[String] = Nil,
            noCollisions: Boolean = false,
            polyWkb: Option[DataFrame] = None,
            polySrcEpsg: Int = 4326,
            lineWkb: Option[DataFrame] = None,
            existingWkb: Option[DataFrame] = None,
            pointWkb: Option[DataFrame] = None,
            selfIntersect: Boolean = false,
            debug: Boolean = false): Frames = {
    require(existingWkb.isEmpty || osmSrc.isDefined,
      "existingWkb needs osmSrc: vertex node ids resolve positionally against the extract")
    val supplier = Tables.load(spark, sfDir, "supplier")
    val lineitem = Tables.load(spark, sfDir, "lineitem")

    // collision safety (reference __main__.py:26-53): never hand out an
    // id already present in the "existing" data — derive the node-id
    // offset from the observed max when the caller kept the default.
    // ONE combined agg job for both maxes (not two serial jobs).
    val maxRow = osmSrc match {
      case Some(p) =>
        graft.osm.OsmPbf.nodes(spark, p).toDF().agg(max("id"))
          .crossJoin(graft.osm.OsmPbf.ways(spark, p).toDF().agg(max("id"))).head()
      case None => lineitem.agg(max("l_partkey"), max("l_orderkey")).head()
    }
    val maxExistingNode = maxRow.getLong(0)
    val maxExistingWay = maxRow.getLong(1)
    dbg(debug, s"stage 0 (ids): existing max node id=$maxExistingNode, max way id=$maxExistingWay")
    // negative mode descends from -1 (never collides with positive OSM
    // ids); positive mode starts above both the flag and the observed max
    val nodeIdBase =
      if (negIds) -1L
      else idOffset.getOrElse(math.max(1000000L, maxExistingNode + 1))
    // pre-write collision validation (reference __main__.py:198-207):
    // an EXPLICIT offset at or below the observed max existing id
    // would hand out ids that already exist — warn, or stop the run
    // under noCollisions (the reference's --no_collisions fatal path)
    if (!negIds && idOffset.exists(off => off <= maxExistingNode || off <= maxExistingWay)) {
      val msg = s"Chosen ID offset ${idOffset.get} may cause collisions with existing " +
        s"OSM IDs (max node id: $maxExistingNode, max way id: $maxExistingWay)"
      if (noCollisions) throw new IllegalStateException(msg)
      else System.err.println(s"[changegen] WARNING: $msg")
    }

    // 1. new features: per-group linestrings — synthetically from
    // supplier points, or decoded from WKB when `lineWkb` is given.
    // In WKB mode each MULTI* part is its own feature (way), so a
    // MultiLineString's parts each become ways — exactly where the
    // reference raises NotImplementedError (generator.py:603-606).
    val verts = lineWkb match {
      case None => supplier.select(
        (col("s_nationkey") % 5).as("feat"),
        col("s_suppkey").as("vkey"),
        ((col("s_suppkey") * 13 % 1000) / 10.0).as("x"),
        ((col("s_suppkey") * 29 % 1000) / 10.0).as("y"))
      case Some(src) =>
        // persisted: SequentialIds runs multiple jobs over its input
        // (same live-JDBC re-read contract as the polyWkb branch)
        val dec = src.select(col("lgroup").cast("long").as("lg"),
            posexplode(call_function("graft_geom_parts", col("wkb"))).as(Seq("pos", "v")))
          .select(col("lg"), col("v.part").cast("long").as("part"),
            col("pos").cast("long").as("pos"), col("v.x").as("x"), col("v.y").as("y"))
          .persist()
        // dense feature id per (lgroup, part): a feature-count-sized
        // frame, assigned sequentially so downstream way-id arithmetic
        // ((feat·1000 + chunk) + base) needs no per-part bound
        val featSeq = SequentialIds.assign(
            dec.select(col("lg"), col("part")).distinct()
              .withColumn("fk", struct(col("lg"), col("part"))),
            "fk", "feat", 0L)
          .select(col("lg"), col("part"), col("feat"))
        dec.join(featSeq, Seq("lg", "part"))
          .select(col("feat"),
            struct(col("lg"), col("part"), col("pos")).as("vkey"),
            col("x"), col("y"))
    }

    // nodes: one per vertex, sequential ids from the configured offset.
    // assign materializes its sorted frame internally (localCheckpoint)
    // and counts every partition for the rank offsets, so the frame
    // needs no second persist layer and the way-id base's vertex count
    // is free — the former nodes.count() job is gone (round 19)
    val (nodes, nVerts) = SequentialIds.assignCounted(verts, "vkey", "node_id", nodeIdBase, negIds)
    // microdegrees ROUND half-up (the reference renders "%.6f", which
    // rounds) — identical to truncation for the exact-millionth 4326
    // inputs, and correct for reprojected layers whose doubles carry
    // series noise a hair below the exact value
    val latU = graft.text.TextAnalysis.fp(col("y"), 6)
    val lonU = graft.text.TextAnalysis.fp(col("x"), 6)

    // way ids: clear of the assigned node-id range AND the existing way
    // ids; 1000 chunks per feature keeps (feat, chunk) → id injective
    val wayIdBase =
      if (negIds) nVerts + 1 // nodes occupy -1 .. -nVerts
      else math.max(maxExistingWay + 1, nodeIdBase + nVerts + 1)
    // NODE-id zones beyond the line verts (node space only — way and
    // relation ids are separate OSM id spaces): poly nodes sit at
    // wayIdBase+1M (below), self-junction nodes at +5M, point-create
    // nodes at +6M; negative mode descends zone by zone
    val selfNodeOffset = if (negIds) -(nVerts + 2100000L) else wayIdBase + 5000000L
    val pointNodeOffset = if (negIds) -(nVerts + 4200000L) else wayIdBase + 6000000L
    // zone WIDTHS in node-id space (distance to the next zone in the
    // assignment direction) — counts are guarded against these below
    // so an overflow fails loudly instead of silently colliding node
    // ids across zones and corrupting the changefile
    val selfNodeWindow = if (negIds) 2100000L else 1000000L
    val polyNodeWindow = if (negIds) 2000000L else 4000000L
    dbg(debug, s"stage 1 (new features): $nVerts vertices; nodeIdBase=$nodeIdBase " +
      s"wayIdBase=$wayIdBase selfNodeOffset=$selfNodeOffset pointNodeOffset=$pointNodeOffset")

    // 1b. --self junction nodes among the new features (see Scaladoc):
    // candidate pairs from the grid-bucketed line-line ST_DWithin (no
    // all-pairs), closest points via the native graft_line_closest,
    // 6dp dedup to one node per coordinate, then vertex REUSE +
    // interior INSERT during way assembly. All windows are
    // feature-sized; the pair join is the same scale-safe grid join
    // the registered cg_dwithin_lineline uses.
    def fp6(c: org.apache.spark.sql.Column) = graft.text.TextAnalysis.fp(c, 6)
    val (wayVertSrc, emittedLineNodes, selfJunctions) =
      if (!selfIntersect)
        (nodes.select(col("feat").as("way"), col("vkey").as("seq"), col("node_id").as("node")),
          nodes.select(col("node_id"), col("x"), col("y")),
          nodes.select(col("node_id"), col("x"), col("y")).filter(lit(false)))
      else {
        val posW = org.apache.spark.sql.expressions.Window
          .partitionBy("feat").orderBy("vkey")
        val posed = nodes
          .withColumn("pos0", (row_number().over(posW) - 1).cast("double"))
          .persist()
        val lines = posed.groupBy("feat")
          .agg(array_sort(collect_list(struct(col("pos0"), struct(col("x"), col("y")).as("pt")))).as("_kv"))
          .select(col("feat"), transform(col("_kv"), x => x.getField("pt")).as("line"))
          .persist() // consumed by the pair join (twice) + insertion index
        val pairs = DWithinJoin.lineLine(
          lines.select(col("feat").as("lfeat"), col("line")), "lfeat", "line",
          lines.select(col("feat").as("rfeat"), col("line")), "rfeat", "line",
          SelfRadius, excludeEqual = true, keepLines = true)
          .filter(col("lfeat") =!= col("rfeat"))
        // closest point ON the left feature to the right; both ordered
        // pairs flow, so a non-crossing pair yields one point per side
        // while a crossing pair collapses onto one 6dp coordinate
        val ipts = pairs
          .select(col("lfeat").as("feat"),
            call_function("graft_line_closest", col("_lline"), col("_rline")).as("cp"))
          .select(col("feat"), fp6(col("cp.x")).as("jx6"), fp6(col("cp.y")).as("jy6"))
          .filter(col("jx6").isNotNull && col("jy6").isNotNull) // degenerate-line guard
          .distinct()
          .persist()
        // ONE junction node per distinct 6dp coordinate (the
        // reference's round(COORDINATE_PRECISION) dict dedup)
        val jn = SequentialIds.assign(
          ipts.select("jx6", "jy6").distinct()
            .withColumn("jkey", struct(col("jx6"), col("jy6"))),
          "jkey", "node_id", selfNodeOffset, negIds)
          .select(zoneGuard(col("node_id"), selfNodeOffset, selfNodeWindow, negIds,
              "--self junction nodes").as("node_id"),
            (col("jx6") / 1e6).as("x"), (col("jy6") / 1e6).as("y"),
            col("jx6"), col("jy6"))
          .persist()
        dbg(debug, s"stage 1b (--self): ${jn.count()} junction nodes at 6dp-distinct coordinates")
        // (a) vertex coincidence at 6dp: ANY feature's vertex at a
        // junction coordinate adopts the junction node id (the
        // reference's near-vertex rtree reuse, generator.py:429-440);
        // the original node is not emitted
        val replaced = posed
          .withColumn("jx6", fp6(col("x"))).withColumn("jy6", fp6(col("y")))
          .join(jn.select(col("jx6"), col("jy6"), col("node_id").as("jnode")),
            Seq("jx6", "jy6"), "left")
          .persist()
        // (b) interior insertion: a junction on its SOURCE feature that
        // matched none of that feature's vertices inserts at the
        // fractional projection index — idx - 0.5 sorts strictly
        // between the flanking integer vertex positions
        val toInsert = ipts
          .join(jn, Seq("jx6", "jy6"))
          .join(replaced.filter(col("jnode").isNotNull)
            .select(col("feat"), col("jnode").as("node_id")).distinct(),
            Seq("feat", "node_id"), "left_anti")
          .join(lines, Seq("feat"))
          .select(col("feat"),
            (graft.spatial.Geo.insertionIndex(col("line"), col("x"), col("y")).cast("double") - 0.5).as("pos0"),
            col("node_id"))
        val wv = replaced
          .select(col("feat"), col("pos0"), coalesce(col("jnode"), col("node_id")).as("node_id"))
          .unionByName(toInsert)
          .select(col("feat").as("way"), col("pos0").as("seq"), col("node_id").as("node"))
        val emitted = replaced.filter(col("jnode").isNull)
          .select(col("node_id"), col("x"), col("y"))
          .unionByName(jn.select(col("node_id"), col("x"), col("y")))
          .persist()
        (wv, emitted, jn.select(col("node_id"), col("x"), col("y")))
      }
    val nodeXml = emittedLineNodes.select(
      OsmChangeXml.nodeXml(col("node_id"), lit(1), latU, lonU,
        map(lit("source"), lit("graft"))).as("xml"))

    // 2. ways: ordered node-id lists per feature, split at maxNodes.
    // segmentLen = maxNodes-1 so a chunk plus its shared joiner node
    // never exceeds the maxNodesPerWay cap.
    val ways = WayOps.wayNodeMap(wayVertSrc, "way", "seq", "node")
    val wayId = (col("way") * 1000 + col("chunk_idx")) + lit(wayIdBase)
    val splitWays = WayOps.splitWay(ways, "nds", nodeLimit = maxNodes, segmentLen = math.max(1, maxNodes - 1))
      .withColumn("way_id", if (negIds) -wayId else wayId)
      .persist()
    val wayXml = splitWays.select(
      OsmChangeXml.wayXml(col("way_id"), lit(1), col("chunk_nds"),
        map(lit("highway"), lit("path"))).as("xml"))

    // 3. junctions: new nodes near existing way nodes → insert into
    // the existing ways' node lists (order-preserving). With osmSrc,
    // both the way→node lists and the node coordinates come from the
    // .pbf extract (lon→x, lat→y planar convention); synthetically,
    // from the lineitem edge table.
    val (existingEdges0, existingNodes0) = osmSrc match {
      case Some(p) =>
        val e = graft.osm.OsmPbf.ways(spark, p).toDF()
          .select(col("id").as("eway"), posexplode(col("nds")).as(Seq("seq", "enode")))
        val n = graft.osm.OsmPbf.nodes(spark, p).toDF()
          .select(col("id").as("enode"), col("lon").as("ex"), col("lat").as("ey"))
        (e, n)
      case None =>
        val e = lineitem.select(
          col("l_orderkey").as("eway"), col("l_linenumber").as("seq"), col("l_partkey").as("enode"))
        val n = e.select(
          col("enode"),
          ((col("enode") * 13 % 1000) / 10.0).as("ex"),
          ((col("enode") * 29 % 1000) / 10.0).as("ey")).distinct()
        (e, n)
    }
    // --existing restriction: junction targets are the NAMED tables'
    // features only — vertex coordinates from the table geometry
    // (db.py runs its ST_DWithin against the table, not the extract),
    // node ids joined positionally from the extract's way node lists
    val (existingEdges, existingNodes) = existingWkb match {
      case None => (existingEdges0, existingNodes0)
      case Some(ew) =>
        val ids = ew.select(col("eway")).distinct()
        val e = existingEdges0.join(ids, Seq("eway"), "left_semi")
        val verts = ew.select(col("eway"),
            posexplode(call_function("graft_geom_parts", col("wkb"))).as(Seq("seq", "v")))
          .select(col("eway"), col("seq"), col("v.x").as("ex"), col("v.y").as("ey"))
        val n = verts.join(e, Seq("eway", "seq"))
          .select(col("enode"), col("ex"), col("ey")).distinct()
        (e, n)
    }
    val junctions = DWithinJoin.pointPoint(
      emittedLineNodes, "node_id", "x", "y",
      existingNodes, "enode", "ex", "ey", 0.5)
    // one junction per existing node: deterministic min node_id
    val junctionAt = junctions.groupBy("enode").agg(min("node_id").as("jnode")).persist()
    // splice each junction after its matched node. Junctions attach to
    // the EDGE rows, then ONE way-keyed aggregation rebuilds the node
    // lists (round 19: the former wayNodeMap → posexplode → re-agg
    // shape paid two corpus-wide collect_list shuffles on the same key
    // to derive what one pass computes; (seq, node) is unique per way
    // — lineitem's PK / posexplode ordinals — so sorting the joined
    // edge rows by (seq, enode) is exactly the old explode-pos order)
    val modified = existingEdges
      .join(junctionAt, Seq("enode"), "left")
      .groupBy("eway")
      .agg(array_sort(collect_list(struct(col("seq"), col("enode"), col("jnode")))).as("pj"))
      .filter(exists(col("pj"), p => p.getField("jnode").isNotNull))
      .withColumn("new_nds", flatten(transform(col("pj"), p =>
        when(p.getField("jnode").isNotNull, array(p.getField("enode"), p.getField("jnode")))
          .otherwise(array(p.getField("enode"))))))
      .persist()
    val modifyXml = modified.select(
      OsmChangeXml.wayXml(col("eway"), lit(2), col("new_nds"), map()).as("xml"))

    // 4. deletions: snapshot diff on orders → ways + constituent nodes
    val orders = Tables.load(spark, sfDir, "orders")
    // pinned above: nodes (checkpointed in assign), splitWays/
    // junctionAt/modified/deleteSet (persisted) are each consumed
    // twice (XML write + summary counts) — no recompute
    val diffRemoved = SnapshotDiff.deletes(
      orders.select(col("o_orderkey")),
      orders.filter(col("o_orderkey") % 13 =!= 5).select(col("o_orderkey")),
      Seq("o_orderkey"))
    // discovered deletion tables (reference generate_deletions: each
    // carries an osm_id column naming removed ways) union into the
    // snapshot-diff-derived removals before node expansion
    val removedWays =
      if (deletionTables.isEmpty) diffRemoved // no extra distinct shuffle on the default path
      else deletionTables
        .map(p => (if (sfDir.startsWith("jdbc:")) Tables.jdbcTable(spark, sfDir, p)
                   else spark.read.parquet(p))
          .select(col("osm_id").cast("long").as("o_orderkey")))
        .foldLeft(diffRemoved)((acc, d) => acc.unionByName(d))
        .distinct()
    // deletions expand against the FULL extract's edge table, not the
    // --existing-restricted one (the reference's deletion pass is a
    // separate loop, independent of --existing). Derived straight from
    // the edge rows filtered to the removed ways (round 19): the
    // former path aggregated the WHOLE extract into way→nds arrays and
    // re-exploded them — two corpus-wide passes to compute the two
    // DISTINCT sets a removed-way-filtered edge scan yields directly.
    val delEdges = existingEdges0
      .join(removedWays.select(col("o_orderkey").as("eway")), Seq("eway"), "left_semi")
    val deleteSet = delEdges
      .select(lit("node").as("elem_type"), col("enode").cast("long").as("elem_id")).distinct()
      .unionByName(
        delEdges.select(lit("way").as("elem_type"), col("eway").cast("long").as("elem_id")).distinct())
      .persist()
    val deleteXml = deleteSet.select(
      when(col("elem_type") === "way",
        concat(lit("<way id=\""), col("elem_id"), lit("\" version=\"1\"/>")))
        .otherwise(concat(lit("<node id=\""), col("elem_id"), lit("\" version=\"1\" lat=\"0.000000\" lon=\"0.000000\"/>")))
        .as("xml"))

    // 4b. polygon features (reference generator.py:661-756: Polygon →
    // closed Way, or multipolygon Relation when the feature has a
    // hole): ring vertices from the part table, ordered by key; outer
    // ring = first ceil(2n/3) vertices, the rest is a hole IF it has
    // at least 3 vertices. Rings close by repeating the first node;
    // holed features get a relation with outer/inner way members.
    val polyNodeBase = if (negIds) 0L else wayIdBase + 1000000L
    val polyWayBase = if (negIds) 0L else polyNodeBase + 2000000L
    val polyNodeOffset = if (negIds) -(nVerts + 100000L) else polyNodeBase
    // ONE id transform for poly way ids, relation MEMBER refs, and
    // relation ids — in negIds mode all three negate-and-offset
    // together, so emitted <relation> members always reference way
    // ids that actually exist (refs from the positive base while way
    // ids negated was the round-2 referential-integrity bug)
    def polyId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (if (negIds) -c - nVerts - 200000L else c).cast("long")
    val (polyNodes0, polyWays, polyRelations) = polyWkb match {
      case None =>
        val pverts = Tables.load(spark, sfDir, "part").select(
          (col("p_partkey") % 20).as("pgroup"),
          col("p_partkey").as("pkey"),
          ((col("p_partkey") * 13 % 1000) / 10.0).as("x"),
          ((col("p_partkey") * 29 % 1000) / 10.0).as("y"))
        // no extra persist: assign checkpoints its frame internally
        val pn = SequentialIds.assign(pverts, "pkey", "node_id", polyNodeOffset, negIds)
        // persisted: grouped feeds outer rings, inner rings AND the
        // relation frame — un-pinned it recomputed its exchange 4×
        val grouped = pn
          .groupBy("pgroup")
          .agg(array_sort(collect_list(struct(col("pkey"), col("node_id")))).as("_kv"))
          .withColumn("ring_nds", transform(col("_kv"), x => x.getField("node_id")))
          .withColumn("n", size(col("ring_nds")))
          .withColumn("n_outer", ceil(col("n").cast("double") * 2 / 3).cast("int"))
          .persist()
        val outerRings = grouped.select(col("pgroup"), col("n"), col("n_outer"),
          expr("slice(ring_nds, 1, n_outer)").as("ring"), lit(0).as("ring_idx"))
        val innerRings = grouped.filter(col("n") - col("n_outer") >= 3)
          .select(col("pgroup"), col("n"), col("n_outer"),
            expr("slice(ring_nds, n_outer + 1, n - n_outer)").as("ring"), lit(1).as("ring_idx"))
        val pw = outerRings.unionByName(innerRings)
          .withColumn("closed_nds", concat(col("ring"), slice(col("ring"), 1, 1)))
          .withColumn("way_id", polyId(lit(polyWayBase) + col("pgroup") * 10 + col("ring_idx")))
          .persist()
        val pr = grouped.filter(col("n") - col("n_outer") >= 3)
          .select(col("pgroup"),
            array(
              struct(polyId(lit(polyWayBase) + col("pgroup") * 10).as("ref"), lit("way").as("mtype"), lit("outer").as("role")),
              struct(polyId(lit(polyWayBase) + col("pgroup") * 10 + 1).as("ref"), lit("way").as("mtype"), lit("inner").as("role"))
            ).as("members"))
          .persist()
        (pn, pw, pr)
      case Some(src) =>
        // REAL geometry: decode every ring columnar — through the
        // PART-preserving decoder, so MultiPolygon rows (where the
        // reference raises NotImplementedError, generator.py:603-606)
        // route each part's rings into ways and ONE multipolygon
        // relation per feature (multiple outer members is valid OSM).
        // PostGIS rings arrive closed (first vertex repeated last);
        // OSM closes a ring by re-REFERENCING the first node id, so
        // the closing duplicate vertex is dropped before node-id
        // assignment and the way re-closes below from the assigned
        // ids. All windows are ring-sized partitions — nothing
        // corpus-wide.
        val decodedRaw = src.select(col("pgroup").cast("long").as("pgroup"),
            posexplode(call_function("graft_geom_parts", col("wkb"))).as(Seq("pos", "v")))
          .select(col("pgroup"), col("pos").cast("long").as("pos"),
            col("v.part").as("part_idx"),
            col("v.ring").as("ring_idx"), col("v.x").as("x"), col("v.y").as("y"))
        // per-layer CRS (reference generator.py:69-78 builds its
        // transformer from the layer's declared EPSG): reproject the
        // decoded vertices to WGS84 before ring closing / id
        // assignment. 4326 input skips the step entirely — the plan
        // is unchanged for the already-geographic case. Ring-closing
        // equality below is preserved either way: reprojection is a
        // pure function, equal vertices stay equal.
        val decoded =
          if (polySrcEpsg == 4326) decodedRaw
          else decodedRaw
            .withColumn("_ll", graft.spatial.Geo.reproject(col("x"), col("y"), polySrcEpsg))
            .withColumn("x", col("_ll.lon")).withColumn("y", col("_ll.lat"))
            .drop("_ll")
        val ringW = org.apache.spark.sql.expressions.Window
          .partitionBy("pgroup", "part_idx", "ring_idx")
        // single consumer (the id assignment, which checkpoints its
        // input's result internally — ONE read of a live JDBC source)
        val open = decoded
          .withColumn("_f", min(struct(col("pos"), col("x"), col("y"))).over(ringW))
          .withColumn("_maxp", max("pos").over(ringW))
          .filter(!(col("pos") === col("_maxp") && col("pos") =!= col("_f").getField("pos") &&
            col("x") === col("_f").getField("x") && col("y") === col("_f").getField("y")))
          .drop("_f", "_maxp")
        // vertex → node id in (pgroup, pos) order — a STRUCT sort key,
        // so no arithmetic bound on vertices-per-feature (assign
        // checkpoints internally; no second persist layer)
        val pn = SequentialIds.assign(
            open.withColumn("okey", struct(col("pgroup"), col("pos"))),
            "okey", "node_id", polyNodeOffset, negIds)
          .drop("okey")
        val ringsDf = pn.groupBy("pgroup", "part_idx", "ring_idx")
          .agg(array_sort(collect_list(struct(col("pos"), col("node_id")))).as("_kv"))
          .withColumn("ring", transform(col("_kv"), x => x.getField("node_id")))
        // sequential way ids in (pgroup, part, ring) order — holes
        // beyond the first AND parts beyond the first are first-class
        // (a polygon may carry any number of interior rings; a
        // MultiPolygon any number of parts), so no per-feature id
        // arithmetic either
        val pw = SequentialIds.assign(
            ringsDf.withColumn("rkey", struct(col("pgroup"), col("part_idx"), col("ring_idx"))),
            "rkey", "way_seq", 0L)
          .withColumn("way_id", polyId(lit(polyWayBase) + col("way_seq")))
          .drop("rkey", "way_seq")
          .withColumn("closed_nds", concat(col("ring"), slice(col("ring"), 1, 1)))
          .persist()
        // reference generator.py:683: no interiors → plain closed
        // way; interiors → multipolygon relation, outer + one
        // inner-role member PER hole (generator.py:719-753).
        // MULTI* extension: a feature with MULTIPLE rings for ANY
        // reason — holes or parts — gets one multipolygon relation,
        // each part's exterior an outer member, each hole an inner
        // member, ordered (part, ring)
        val pr = pw.groupBy("pgroup")
          .agg(array_sort(collect_list(struct(col("part_idx"), col("ring_idx"), col("way_id")))).as("_rw"))
          .filter(size(col("_rw")) > 1)
          .withColumn("members", transform(col("_rw"), r =>
            struct(r.getField("way_id").as("ref"), lit("way").as("mtype"),
              when(r.getField("ring_idx") === 0, lit("outer")).otherwise(lit("inner")).as("role"))))
          .select(col("pgroup"), col("members"))
          .persist()
        (pn, pw, pr)
    }
    // zone guard rides the id column (see [[zoneGuard]] — the eager
    // count here was one extra job + materialization barrier per build)
    val polyNodes = polyNodes0.withColumn("node_id",
      zoneGuard(col("node_id"), polyNodeOffset, polyNodeWindow, negIds, "polygon ring nodes"))
    dbg(debug, s"stage 4b (polygons): ${polyNodes.count()} ring nodes")
    // 4c. point features (reference generator.py:622-631, the
    // non-modify Point branch): one v1 <create> node per feature at
    // its WGS84 coordinates, carrying the table-derived tags
    // (tags=feat_tags, UNFILTERED — unlike the modify branch, osm_id
    // stays a tag). No ways, no junctions, no relations.
    val pointNodes = pointWkb match {
      case None =>
        spark.range(0).select(col("id").as("node_id"),
          lit(0.0).as("x"), lit(0.0).as("y"),
          map().cast("map<string,string>").as("ptags"))
      case Some(src) =>
        val dec = src.select(col("pgrp").cast("long").as("pgrp"), col("ptags"),
            element_at(call_function("graft_geom_parts", col("wkb")), 1).as("_v"))
          // malformed WKB decodes to NULL — DROP the feature (the same
          // drop-don't-throw contract as the exploding line/poly seams,
          // where posexplode(null) yields zero rows)
          .filter(col("_v").isNotNull)
          .select(col("pgrp"), col("ptags"), col("_v.x").as("x"), col("_v.y").as("y"))
        // assign materializes its frame internally (ONE read of a live
        // JDBC source) — no second persist layer needed
        SequentialIds.assign(dec, "pgrp", "node_id", pointNodeOffset, negIds)
          .select(col("node_id"), col("x"), col("y"), col("ptags"))
    }
    val pointNodeXml = pointNodes.select(
      OsmChangeXml.nodeXml(col("node_id"), lit(1),
        graft.text.TextAnalysis.fp(col("y"), 6), graft.text.TextAnalysis.fp(col("x"), 6),
        col("ptags")).as("xml"))

    val polyNodeXml = polyNodes.select(
      OsmChangeXml.nodeXml(col("node_id"), lit(1),
        graft.text.TextAnalysis.fp(col("y"), 6), graft.text.TextAnalysis.fp(col("x"), 6),
        map(lit("source"), lit("graft"))).as("xml"))
    val polyWayXml = polyWays.select(
      OsmChangeXml.wayXml(col("way_id"), lit(1), col("closed_nds"),
        map(lit("area"), lit("yes"))).as("xml"))
    val polyRelBase = polyWayBase + 1000000L
    val relXml = polyRelations.select(
      OsmChangeXml.relationXml(polyId(lit(polyRelBase) + col("pgroup")), lit(1),
        col("members"), map(lit("type"), lit("multipolygon"))).as("xml"))

    Frames(nodes, splitWays, junctionAt, modified, deleteSet,
      nodeXml.unionByName(polyNodeXml).unionByName(pointNodeXml),
      wayXml.unionByName(polyWayXml), relXml,
      modifyXml, deleteXml,
      polyNodes, polyWays, polyRelations,
      pointNodes, selfJunctions)
  }
}

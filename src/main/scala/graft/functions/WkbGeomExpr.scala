package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Columnar WKB / EWKB geometry decode — the reference's ACTUAL input
  * format: its snapshot tables are PostGIS geometries read through OGR
  * (changegen/db.py:28-101), and a real PostGIS deployment delivers
  * them over JDBC as WKB bytes or hex-EWKB text. One expression serves
  * three SQL functions, which differ only in how many index fields
  * precede each vertex's x/y (`depth`):
  *
  *   - 0, `graft_geom_from_wkb(col)` → `array<struct<x,y>>`, the vertex
  *     layout every downstream graft operator (grid joins,
  *     closest-point, reproject, insertion-index) speaks. A Polygon
  *     keeps its EXTERIOR ring only (the dwithin/intersection rules
  *     test boundary proximity), and its later rings are never read.
  *   - 1, `graft_geom_rings(col)` → `array<struct<ring,x,y>>`: every
  *     polygon ring in storage order (0 = exterior, then the holes the
  *     reference's multipolygon branch turns into inner-role members,
  *     changegen/generator.py:683, 719-753).
  *   - 2, `graft_geom_parts(col)` → `array<struct<part,ring,x,y>>`:
  *     MultiPoint/MultiLineString/MultiPolygon too, where the
  *     reference raises `NotImplementedError` (generator.py:603-606),
  *     each member part 0..n-1 in storage order under its own header.
  *
  * Point and LineString decode as ring 0 and simple geometries as
  * part 0, so each layout is a superset of the one before. Ring
  * vertices come back exactly as stored (PostGIS rings are closed).
  *
  * Accepted input: BINARY (raw WKB/EWKB) or STRING (hex-encoded EWKB,
  * PostGIS's text wire form), either byte order, EWKB SRID/Z/M flag
  * bits (SRID skipped — reprojection is [[graft.spatial.Geo]]'s job;
  * extra ordinates read past) and ISO dimension codes (type +
  * 1000·{1=Z, 2=M, 3=ZM}). Anything else — unknown type, MULTI* below
  * depth 2, GeometryCollection, truncated buffer, bad byte-order mark,
  * odd-length or non-hex text — decodes to NULL, the drop-malformed
  * contract of the multimodal header parsers: one corrupt row must not
  * fail a 100 TB scan. Trailing bytes are ignored. The walk is one
  * pass per row with no Geometry object graph, so the decode rides
  * whole-stage codegen like any other projection.
  */
case class WkbGeomExpr(child: Expression, depth: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary (WKB) or string (hex EWKB), got $t")
  }

  override def dataType: DataType = ArrayType(StructType(
    Seq("part", "ring").takeRight(depth).map(StructField(_, IntegerType, nullable = false)) ++
      Seq("x", "y").map(StructField(_, DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = true
  override def prettyName: String = WkbGeomExpr.sqlNames(depth)
  // the name implies the depth, so plans print only the child
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  private def isHex = child.dataType == StringType

  override protected def nullSafeEval(input: Any): Any = {
    val bytes =
      if (isHex) WkbGeomExpr.hexDecode(input.asInstanceOf[UTF8String].toString)
      else input.asInstanceOf[Array[Byte]]
    if (bytes == null) null else WkbGeomExpr.decode(bytes, depth)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("wkb")
      val out = ctx.freshName("geom")
      val toBytes =
        if (isHex) s"graft.functions.WkbGeomExpr.hexDecode($c.toString())"
        else c
      s"""
         |byte[] $bytes = $toBytes;
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  $bytes == null ? null : graft.functions.WkbGeomExpr.decode($bytes, $depth);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The one WKB codec: [[hexDecode]], [[readHeader]] and [[decode]] read
  * the format; [[encode]], [[encodePolygon]] and [[encodeMulti]] write
  * it. */
object WkbGeomExpr {

  /** SQL name per depth, registered by [[GraftFunctions.register]]. */
  private[functions] val sqlNames = Seq("graft_geom_from_wkb", "graft_geom_rings", "graft_geom_parts")

  /** Hex string → bytes; null on odd length or a non-hex char (the
    * malformed-input contract, not an exception). */
  def hexDecode(s: String): Array[Byte] = {
    val n = s.length
    if (n % 2 != 0) return null
    val out = new Array[Byte](n / 2)
    var i = 0
    while (i < n) {
      val hi = Character.digit(s.charAt(i), 16)
      val lo = Character.digit(s.charAt(i + 1), 16)
      if (hi < 0 || lo < 0) return null
      out(i / 2) = ((hi << 4) | lo).toByte
      i += 2
    }
    out
  }

  private def readU32(b: Array[Byte], off: Int, le: Boolean): Long = {
    def u(i: Int) = b(off + i) & 0xffL
    if (le) u(0) | (u(1) << 8) | (u(2) << 16) | (u(3) << 24)
    else u(3) | (u(2) << 8) | (u(1) << 16) | (u(0) << 24)
  }

  private def readDouble(b: Array[Byte], off: Int, le: Boolean): Double = {
    var bits = 0L
    var i = 0
    while (i < 8) {
      val by = b(off + (if (le) 7 - i else i)) & 0xffL
      bits = (bits << 8) | by
      i += 1
    }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** A parsed WKB/EWKB header: byte order, base geometry type (ISO
    * dimension and EWKB flags stripped), first payload offset (past
    * any EWKB SRID), and per-vertex byte stride. */
  private[graft] final class Header(val le: Boolean, val baseType: Int,
                                    val off: Int, val stride: Int)

  /** The header at byte `at` of `b` — a whole geometry's, or a MULTI*
    * member's (each member carries its own) — or null when malformed:
    * short buffer, byte-order mark not 0/1, ISO dimension code > 3, or
    * an SRID flag without the SRID. */
  private[graft] def readHeader(b: Array[Byte], at: Int): Header = {
    if (b.length < at + 5) return null
    val le = b(at) match {
      case 1 => true
      case 0 => false
      case _ => return null
    }
    val rawType = readU32(b, at + 1, le)
    // EWKB flag bits (PostGIS)
    val hasSrid = (rawType & 0x20000000L) != 0
    val ewkbZ = (rawType & 0x80000000L) != 0
    val ewkbM = (rawType & 0x40000000L) != 0
    val masked = rawType & 0x0fffffffL
    // ISO dimension coding: base + 1000·{1=Z, 2=M, 3=ZM}
    val isoDim = (masked / 1000L).toInt
    if (isoDim > 3) return null
    val dims = 2 +
      (if (ewkbZ || isoDim == 1 || isoDim == 3) 1 else 0) +
      (if (ewkbM || isoDim == 2 || isoDim == 3) 1 else 0)
    val off = at + 5 + (if (hasSrid) 4 else 0)
    if (b.length < off) return null
    new Header(le, (masked % 1000L).toInt, off, dims * 8)
  }

  /** One bounds-checked walk → `depth` index fields + x/y per vertex
    * (see [[WkbGeomExpr]] for the three layouts), or null on any
    * malformation. Every count is checked against the buffer before a
    * row is made, so a corrupt count can't drive allocation. */
  def decode(b: Array[Byte], depth: Int): ArrayData = {
    val h = readHeader(b, 0)
    if (h == null) return null
    val rows = new ArrayBuffer[Any]()

    // one simple geometry under header `g` as `part`: its end offset,
    // or -1 when malformed
    def simple(g: Header, part: Int): Int = {
      def vertices(at: Int, n: Long, ring: Int): Int = {
        if (b.length < at + n * g.stride) return -1
        var i = 0
        while (i < n) {
          val p = at + i * g.stride
          val x = readDouble(b, p, g.le)
          val y = readDouble(b, p + 8, g.le)
          rows += (depth match {
            case 0 => InternalRow(x, y)
            case 1 => InternalRow(ring, x, y)
            case _ => InternalRow(part, ring, x, y)
          })
          i += 1
        }
        at + (n * g.stride).toInt
      }
      // a u32 vertex count at `at`, then the run
      def counted(at: Int, ring: Int): Int =
        if (at < 0 || b.length < at + 4) -1 else vertices(at + 4, readU32(b, at, g.le), ring)

      g.baseType match {
        case 1 => vertices(g.off, 1, 0)
        case 2 => counted(g.off, 0)
        case 3 => // u32 ring count, then one counted run per ring
          if (b.length < g.off + 4) return -1
          val nRings = readU32(b, g.off, g.le)
          if (nRings < 1) return -1
          val read = if (depth == 0) 1L else nRings
          var off = g.off + 4
          var r = 0
          while (r < read && off >= 0) {
            off = counted(off, r)
            r += 1
          }
          off
        case _ => -1
      }
    }

    val end = h.baseType match {
      case 1 | 2 | 3 => simple(h, 0)
      case 4 | 5 | 6 if depth == 2 && b.length >= h.off + 4 =>
        val nParts = readU32(b, h.off, h.le)
        var off = h.off + 4
        var p = 0
        while (p < nParts && off >= 0) {
          // members must be the container's simple type (WKB spec)
          val g = readHeader(b, off)
          off = if (g == null || g.baseType != h.baseType - 3) -1 else simple(g, p)
          p += 1
        }
        off
      case _ => -1
    }
    if (end < 0) null else new GenericArrayData(rows.toArray)
  }

  /** A little- or big-endian buffer of `size` bytes, filled by `fill`. */
  private def written(size: Int, bigEndian: Boolean)(fill: ByteBuffer => Unit): Array[Byte] = {
    val buf = ByteBuffer.allocate(size)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    fill(buf)
    buf.array()
  }

  private def headerSize(srid: Int): Int = 5 + (if (srid >= 0) 4 else 0)

  /** Byte-order mark, type (+ EWKB SRID flag and SRID when `srid` ≥ 0). */
  private def putHeader(buf: ByteBuffer, geomType: Int, srid: Int): Unit = {
    buf.put(if (buf.order == ByteOrder.LITTLE_ENDIAN) 1.toByte else 0.toByte)
    buf.putInt(if (srid >= 0) geomType | 0x20000000 else geomType)
    if (srid >= 0) buf.putInt(srid)
  }

  private def simpleSize(geomType: Int, rings: Array[Array[(Double, Double)]], srid: Int): Int =
    headerSize(srid) + (if (geomType == 3) 4 else 0) +
      rings.map(r => (if (geomType >= 2) 4 else 0) + 16 * r.length).sum

  /** The one geometry writer: header, then a Polygon's ring count and
    * per ring (a LineString's one run) a vertex count and vertices; a
    * Point is its vertices alone. */
  private def putSimple(buf: ByteBuffer, geomType: Int,
                        rings: Array[Array[(Double, Double)]], srid: Int): Unit = {
    putHeader(buf, geomType, srid)
    if (geomType == 3) buf.putInt(rings.length)
    rings.foreach { ring =>
      if (geomType >= 2) buf.putInt(ring.length)
      ring.foreach { case (x, y) => buf.putDouble(x); buf.putDouble(y) }
    }
  }

  /** JVM-side MULTI* encoder — tests and in-query synthesis only, the
    * container sibling of [[encode]]/[[encodePolygon]]. `baseType`
    * 4 = MultiPoint, 5 = MultiLineString, 6 = MultiPolygon;
    * `parts(p)(r)` is ring r of part p (MultiPoint/MultiLineString
    * parts carry exactly one "ring" — their vertex run). Each part is
    * written as a full WKB sub-geometry with its own header; `srid`
    * ≥ 0 adds the EWKB SRID on the CONTAINER only (PostGIS layout). */
  def encodeMulti(baseType: Int, parts: Array[Array[Array[(Double, Double)]]],
                  srid: Int = -1, bigEndian: Boolean = false): Array[Byte] = {
    require(baseType >= 4 && baseType <= 6, s"encodeMulti: baseType $baseType")
    val subType = baseType - 3
    // shape guard: an over-shaped part would not be valid WKB
    if (subType == 1) require(parts.forall(p => p.length == 1 && p(0).length == 1),
      "encodeMulti: MultiPoint parts must carry exactly one point")
    if (subType == 2) require(parts.forall(_.length == 1),
      "encodeMulti: MultiLineString parts must carry exactly one vertex run")
    written(headerSize(srid) + 4 + parts.map(simpleSize(subType, _, -1)).sum, bigEndian) { buf =>
      putHeader(buf, baseType, srid)
      buf.putInt(parts.length)
      parts.foreach(putSimple(buf, subType, _, -1))
    }
  }

  /** JVM-side multi-ring Polygon encoder — tests and in-query
    * synthesis only, the multi-ring sibling of [[encode]]: rings(0)
    * is the exterior, the rest are holes, each stored exactly as
    * given (pass closed rings for PostGIS fidelity). */
  def encodePolygon(rings: Array[Array[(Double, Double)]], srid: Int = -1,
                    bigEndian: Boolean = false): Array[Byte] =
    written(simpleSize(3, rings, srid), bigEndian)(putSimple(_, 3, rings, srid))

  /** JVM-side WKB ENCODER — tests and in-query synthesis only (the
    * production input arrives already encoded from PostGIS). `srid`
    * ≥ 0 adds the EWKB SRID header. `geomType` 1 = Point (pts must
    * have 1 element), 2 = LineString, 3 = Polygon (single exterior
    * ring). The geometry is followed by 4 zero bytes, which every
    * decoder ignores as trailing bytes. */
  def encode(geomType: Int, pts: Array[(Double, Double)], srid: Int = -1,
             bigEndian: Boolean = false): Array[Byte] =
    written(simpleSize(geomType, Array(pts), srid) + 4, bigEndian)(putSimple(_, geomType, Array(pts), srid))
}

package graft.lake

import java.math.BigInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fragment zonemap stats from parquet FOOTER metadata.
  *
  * The write path used to run a second full Spark job over every
  * just-staged file to compute per-fragment min/max/null-count stats — at
  * 100 TB that doubles write IO (guide §6). The staged files' own parquet
  * footers already carry exact column-chunk statistics for the types this
  * engine stores, so the stats pass becomes a driver-side metadata read.
  *
  * Strictly correctness-preserving by construction: a FILE whose footer
  * cannot reproduce the scan path's rendering EXACTLY returns None and the
  * caller falls back to the original stats-scan job for that file. That
  * covers: binary/string stats the writer dropped (values > 4 KB), float/
  * double chunks containing NaN (parquet omits min/max), INT96 timestamps
  * (no stats; only INT64 MICROS is served), non-atomic (array/map/struct)
  * fields, and any physical/logical type mismatch. Values render through
  * the same Catalyst `Cast` the scan path used, so manifest stat strings
  * are byte-identical where both paths apply.
  */
private[lake] object FooterStats {

  /** Stats for one staged file. `rows == 0` mirrors the scan path's
    * behavior for empty files (no stat row → no fragment adopted). */
  final case class FileStats(rows: Long, maxRowId: Option[Long],
      cols: Map[String, ColumnStats])

  def tryRead(hconf: Configuration, file: String, man: Manifest,
      zoneId: String): Option[FileStats] =
    // any footer this code did not foresee degrades to the scan path
    try read(hconf, file, man, zoneId) catch { case NonFatal(_) => None }

  private def read(hconf: Configuration, file: String, man: Manifest,
      zoneId: String): Option[FileStats] = {
    val footer = {
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HadoopPath(file), hconf))
      try r.getFooter finally r.close()
    }
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    if (rows == 0L) return Some(FileStats(0L, None, Map.empty))
    val chunks: Map[String, Seq[ColumnChunkMetaData]] = blocks
      .flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)

    // _rowid feeds nextRowId, so its exact max is required (every staged
    // file carries it — append/rewrite/merge all stamp the column).
    val rid = aggregate(chunks.getOrElse(LakeDataset.RowIdCol, Nil),
      blocks.size, LongType).getOrElse(return None)
    val maxRowId = rid._2.map(_.asInstanceOf[Long])

    val cols = man.fields.map { f =>
      val dt = DataType.fromJson(f.dataType)
      if (!atomic(dt)) return None
      val (mn, mx, nulls) =
        aggregate(chunks.getOrElse(LakeDataset.physName(f.id), Nil),
          blocks.size, dt).getOrElse(return None)
      f.id.toString -> ColumnStats(
        mn.map(render(_, dt, zoneId)), mx.map(render(_, dt, zoneId)), nulls)
    }.toMap
    Some(FileStats(rows, maxRowId, cols))
  }

  private def atomic(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
        FloatType | BooleanType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Merge one column's chunk stats across row groups into
    * (min, max, nullCount) as Catalyst-internal values. None = footer
    * can't serve this column exactly → caller falls back to the scan. */
  private def aggregate(cks: Seq[ColumnChunkMetaData], nBlocks: Int,
      dt: DataType): Option[(Option[Any], Option[Any], Long)] = {
    if (cks.size != nBlocks) return None // column missing in some group
    var nulls = 0L
    var mn: Option[Any] = None
    var mx: Option[Any] = None
    cks.foreach { ck =>
      val st = ck.getStatistics
      if (st == null || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      if (st.hasNonNullValue) {
        val (lo, hi) = convert(st, ck, dt).getOrElse(return None)
        if (mn.forall(m => lt(lo, m))) mn = Some(lo)
        if (mx.forall(m => lt(m, hi))) mx = Some(hi)
      } else if (st.getNumNulls != ck.getValueCount) {
        // values exist but the writer recorded no bounds (e.g. oversized
        // binary) — the scan path would have found real min/max
        return None
      }
    }
    Some((mn, mx, nulls))
  }

  /** Typed chunk bounds → Catalyst internal values, or None when the
    * physical/logical encoding can't reproduce the scan exactly. */
  private def convert(st: Statistics[_], ck: ColumnChunkMetaData,
      dt: DataType): Option[(Any, Any)] = {
    val pt = ck.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    def gmin = st.genericGetMin
    def gmax = st.genericGetMax
    def longs = (gmin.asInstanceOf[java.lang.Long].longValue,
      gmax.asInstanceOf[java.lang.Long].longValue)
    def ints = (gmin.asInstanceOf[java.lang.Integer].intValue,
      gmax.asInstanceOf[java.lang.Integer].intValue)
    (dt, pt.getPrimitiveTypeName) match {
      case (LongType, PrimitiveTypeName.INT64) => Some(longs)
      case (IntegerType, PrimitiveTypeName.INT32) => Some(ints)
      case (ShortType, PrimitiveTypeName.INT32) =>
        val (a, b) = ints; Some((a.toShort, b.toShort))
      case (ByteType, PrimitiveTypeName.INT32) =>
        val (a, b) = ints; Some((a.toByte, b.toByte))
      // ±0.0 bounds read as 0.0, as the scan path renders them (parquet
      // orders -0.0 below 0.0; Spark's min/max keep the first zero seen)
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        val a = gmin.asInstanceOf[java.lang.Double].doubleValue
        val b = gmax.asInstanceOf[java.lang.Double].doubleValue
        if (a.isNaN || b.isNaN) None
        else Some((if (a == 0.0) 0.0 else a, if (b == 0.0) 0.0 else b))
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        val a = gmin.asInstanceOf[java.lang.Float].floatValue
        val b = gmax.asInstanceOf[java.lang.Float].floatValue
        if (a.isNaN || b.isNaN) None
        else Some((if (a == 0.0f) 0.0f else a, if (b == 0.0f) 0.0f else b))
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        Some((gmin.asInstanceOf[java.lang.Boolean].booleanValue,
          gmax.asInstanceOf[java.lang.Boolean].booleanValue))
      case (StringType, PrimitiveTypeName.BINARY) =>
        Some((UTF8String.fromBytes(gmin.asInstanceOf[Binary].getBytes),
          UTF8String.fromBytes(gmax.asInstanceOf[Binary].getBytes)))
      case (BinaryType, PrimitiveTypeName.BINARY) =>
        Some((gmin.asInstanceOf[Binary].getBytes,
          gmax.asInstanceOf[Binary].getBytes))
      case (DateType, PrimitiveTypeName.INT32)
          if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        Some(ints)
      case (TimestampType, PrimitiveTypeName.INT64) => ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.isAdjustedToUTC && t.getUnit == TimeUnit.MICROS =>
          Some(longs)
        case _ => None
      }
      case (TimestampNTZType, PrimitiveTypeName.INT64) => ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if !t.isAdjustedToUTC && t.getUnit == TimeUnit.MICROS =>
          Some(longs)
        case _ => None
      }
      case (d: DecimalType,
          PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
          PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY) =>
        ann match {
          case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
              if a.getScale == d.scale =>
            def dec(v: Any): Decimal = v match {
              case i: java.lang.Integer =>
                Decimal(BigDecimal(BigInt(i.longValue), d.scale), d.precision, d.scale)
              case l: java.lang.Long =>
                Decimal(BigDecimal(BigInt(l.longValue), d.scale), d.precision, d.scale)
              case b: Binary =>
                Decimal(BigDecimal(new BigInteger(b.getBytes), d.scale),
                  d.precision, d.scale)
            }
            scala.util.Try((dec(gmin): Any, dec(gmax): Any)).toOption
          case _ => None
        }
      case _ => None
    }
  }

  /** Same ordering semantics the scan path's min/max aggregates used, on
    * Catalyst internal values. */
  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: Short, y: Short) => x < y
    case (x: Byte, y: Byte) => x < y
    case (x: Double, y: Double) => x < y
    case (x: Float, y: Float) => x < y
    case (x: Boolean, y: Boolean) => !x && y
    case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    case (x: Decimal, y: Decimal) => x.compareTo(y) < 0
    case (x: Array[Byte], y: Array[Byte]) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    case _ => throw new IllegalStateException(
      s"unorderable footer stat ${a.getClass}")
  }

  /** Render EXACTLY as the scan path did: TimestampType stats are epoch
    * micros (already the internal long); everything else goes through the
    * same Catalyst Cast-to-string the aggregate used. */
  private def render(v: Any, dt: DataType, zoneId: String): String = dt match {
    case TimestampType => v.asInstanceOf[Long].toString
    case _ =>
      val out = Cast(Literal(v, dt), StringType, Some(zoneId)).eval(null)
      if (out == null) null else out.toString
  }
}

package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EqualTo, EvalMode, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one reader of the manifest's zonemap stats (reference
  * storage2/zonemap_index.go:18-210): how a stat string decodes to a
  * Catalyst value, how values order, which fragments and chunks a predicate
  * may match, and how a chunk folds its fragments' bounds.
  *
  * The writers (the stats scan job, [[FooterStats]], value sets) render
  * TIMESTAMP values as epoch micros and everything else as a cast to
  * string. Reading back goes through Spark's own `Cast`, and values compare
  * in Spark's own interpreted order (`PhysicalDataType.ordering`: UTF-8
  * byte order for strings, NaN largest) — the order the writers' min/max
  * used. A stat that does not decode is unknown: the fragment is kept, so
  * pruning can lose IO but never rows. */
private[lake] object ZoneMaps extends PredicateHelper {

  private val EpochMicros = "-?\\d+".r

  /** Stat string → Catalyst value of `dt`; None = unknown. Built once per
    * pruning pass: the interpreted `Cast` may keep mutable scratch state, so a
    * decoder is not shared between threads. */
  def decoder(dt: DataType): String => Option[Any] = dt match {
    case TimestampType =>
      s => if (EpochMicros.matches(s)) s.toLongOption else None
    // types whose cast-to-string rendering casts back exactly
    case _: NumericType | _: StringType | BooleanType | DateType |
        TimestampNTZType =>
      val cast = Cast(BoundReference(0, StringType, nullable = true), dt,
        Some("UTC"), EvalMode.TRY)
      s => Option(cast.eval(InternalRow(UTF8String.fromString(s))))
    case _ => _ => None
  }

  private def ordering(dt: DataType): Ordering[Any] =
    PhysicalDataType.ordering(dt)

  /** The least (or `greatest`) of `stats` by value, with its stat string.
    * None when any stat does not decode; Some(None) when there are none. */
  def extreme(stats: Seq[String], dt: DataType,
      greatest: Boolean): Option[Option[(String, Any)]] = {
    val dec = decoder(dt)
    val vals = stats.map(s => dec(s).map(s -> _))
    if (vals.exists(_.isEmpty)) None
    else if (vals.isEmpty) Some(None)
    else {
      val ord = ordering(dt).on[(String, Any)](_._2)
      Some(Some(vals.flatten.reduce((a, b) =>
        if (greatest) ord.max(a, b) else ord.min(a, b))))
    }
  }

  /** One ColumnStats per field over a chunk's fragments: least min,
    * greatest max, summed null counts. A field is left out (unknown, never
    * pruned on) when a fragment lacks its stats or a bound does not
    * decode. */
  def chunkStats(fields: Seq[FieldDef],
      frags: Seq[Fragment]): Map[String, ColumnStats] =
    if (frags.isEmpty) Map.empty
    else fields.flatMap { f =>
      val key = f.id.toString
      val dt = DataType.fromJson(f.dataType)
      val per = frags.map(_.stats.get(key))
      if (per.exists(_.isEmpty)) None
      else {
        val ss = per.flatten
        for {
          mn <- extreme(ss.flatMap(_.min), dt, greatest = false)
          mx <- extreme(ss.flatMap(_.max), dt, greatest = true)
        } yield key ->
          ColumnStats(mn.map(_._1), mx.map(_._1), ss.map(_.nullCount).sum)
      }
    }.toMap

  /** One field's stats read as typed values. */
  private final class Zone(val field: FieldDef) {
    val key: String = field.id.toString
    private val dt = DataType.fromJson(field.dataType)
    private val dec = decoder(dt)
    private lazy val ord = ordering(dt)

    /** A literal this zone can decide: of the field's type, or null. */
    def accepts(l: Literal): Boolean = l.value == null || l.dataType == dt

    def value(stat: Option[String]): Option[Any] = stat.flatMap(dec)

    /** The bound (`upper` = max) compared with `v`, sign passed to `ok`;
      * unknown stats keep the fragment. */
    def bound(frag: Fragment, upper: Boolean, v: Any)(ok: Int => Boolean)
        : Boolean =
      frag.stats.get(key).forall(s =>
        value(if (upper) s.max else s.min).forall(b => ok(ord.compare(b, v))))

    /** Zonemap range, then the complete value set when the fragment has
      * one. */
    def mayEqual(frag: Fragment, v: Any): Boolean =
      frag.stats.get(key).forall(s => (for {
        mn <- value(s.min); mx <- value(s.max)
      } yield ord.lteq(mn, v) && ord.gteq(mx, v)).getOrElse(true)) &&
        frag.valueSets.get(key).forall(
          _.exists(e => dec(e).forall(ord.equiv(_, v))))
  }

  /** Compile a predicate into one fragment test over its conjuncts: false
    * only when the stats prove no row of the fragment can match. Literals
    * arrive cast to their column's type where the cast succeeds; one whose
    * cast fails stays as written and decides nothing. A written NULL
    * matches no row, as a SQL comparison with NULL is never true.
    * Shapes the stats cannot decide keep the fragment. `fieldOf` resolves
    * a column reference; `bloomMayContain` probes the fragment's bloom
    * sidecar for an equality value. A chunk is tested as a pseudo-fragment
    * of its aggregate stats. */
  def mayMatch(predicate: Expression,
      fieldOf: Expression => Option[FieldDef],
      bloomMayContain: (Fragment, FieldDef, Literal) => Boolean)
      : Fragment => Boolean = {
    def nulls(a: Expression)(keep: (Fragment, ColumnStats) => Boolean)
        : Option[Fragment => Boolean] =
      fieldOf(a).map { f =>
        val key = f.id.toString
        (frag: Fragment) => frag.stats.get(key).forall(keep(frag, _))
      }
    def zone(a: Expression, ls: Seq[Literal]): Option[Zone] =
      fieldOf(a).map(new Zone(_)).filter(z => ls.forall(z.accepts))
    def range(a: Expression, l: Literal, upper: Boolean)(
        ok: Int => Boolean): Option[Fragment => Boolean] =
      zone(a, Seq(l)).map { z =>
        (frag: Fragment) =>
          l.value != null && z.bound(frag, upper, l.value)(ok)
      }
    // one equality probe per value: zonemap, value set, then bloom (IO)
    def equal(a: Expression, ls: Seq[Literal]): Option[Fragment => Boolean] =
      zone(a, ls).map { z =>
        (frag: Fragment) => ls.exists(l => l.value != null &&
          z.mayEqual(frag, l.value) && bloomMayContain(frag, z.field, l))
      }
    val tests = splitConjunctivePredicates(predicate).flatMap {
      case IsNull(a) => nulls(a)((_, s) => s.nullCount > 0)
      case IsNotNull(a) => nulls(a)((frag, s) =>
        frag.rowCount == 0 || s.nullCount < frag.rowCount)
      case EqualTo(a, l: Literal) => equal(a, Seq(l))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        equal(a, vs.map(_.asInstanceOf[Literal]))
      case GreaterThan(a, l: Literal) => range(a, l, upper = true)(_ > 0)
      case GreaterThanOrEqual(a, l: Literal) =>
        range(a, l, upper = true)(_ >= 0)
      case LessThan(a, l: Literal) => range(a, l, upper = false)(_ < 0)
      case LessThanOrEqual(a, l: Literal) =>
        range(a, l, upper = false)(_ <= 0)
      case _ => None // unsupported shape: never prune on it
    }
    frag => tests.forall(_(frag))
  }
}

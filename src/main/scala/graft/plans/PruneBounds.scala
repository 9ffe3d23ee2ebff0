package graft.plans

import graft.operators.VersionedStore.ColZone
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one predicate → bounds → surviving-files path every pruner
  * shares: [[ZoneMapPruneRule]] and [[BloomSkipRule]] (per-file
  * registrations), [[graft.sources.GroupZoneFileIndex]] (store scans)
  * and the store's key pruning (`VersionedStore.candidateFids` and its
  * callers). The decision lives here, so a pruning fix reaches every
  * caller at once. So does the zone format: the store's commit
  * records and the zone-map rule hold the same [[ColZone]]s, built by
  * [[zoneAggs]] and [[zonesOf]] and tested by [[admits]]. Only the
  * Bloom rule keeps storage of its own, its md5 bit filters.
  *
  * Zone space: an "l" zone holds Longs (integral columns; dates as
  * days since the epoch), an "s" zone Strings in UTF8 binary order —
  * the order Spark's string min/max aggregates and DuckDB's default
  * collation use. A conjunct is recognized when it pins an attribute
  * (bare, or under an integral-widening cast) against non-NULL
  * literals of the attribute's own family:
  *  - `=` and `<=>`, literal on either side: [v, v], eq = {v};
  *  - `<`, `<=`, `>`, `>=`, literal on either side: one side of the
  *    range. A strict integral/date bound tightens by one and is
  *    dropped at the Long extremes, where ±1 would wrap and invert
  *    it; string bounds stay inclusive;
  *  - `IN` and `InSet` (a long IN list after the optimizer's set
  *    conversion): the values' hull, eq = the values;
  *  - `StartsWith` (`LIKE 'p%'`) of a pure-ASCII prefix p:
  *    [p, p with its last char incremented].
  * Any other conjunct — another shape, a NULL literal, a TIMESTAMP or
  * floating column, a literal of the other family — is ignored. That
  * is sound: an ignored conjunct only shrinks the matching rows, so
  * a file outside the recognized bounds holds none of them.
  */
object PruneBounds extends PredicateHelper {

  /** Inclusive bounds on one column in zone space (`t` = "l" or "s").
    * `eq` is the finite value set an `=`/`<=>`/IN pins the column to.
    */
  final case class Bound(t: String, lo: Option[Any] = None,
      hi: Option[Any] = None, eq: Option[Set[Any]] = None)

  /** The zone family of a column type: "l" for integral and date,
    * "s" for string, None for anything else (no zone, no pruning).
    */
  def zoneType(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      Some("l")
    case StringType => Some("s")
    case _ => None
  }

  /** Column types a Bloom filter is probed on: the integral and string
    * members of a zone family — a date's zone value (a day number) is
    * not the string its filter was built from.
    */
  def bloomable(dt: DataType): Boolean =
    dt != DateType && zoneType(dt).isDefined

  /** UTF8 binary order for strings, numeric order for Longs. */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case _ => UTF8String.fromString(a.toString)
      .compareTo(UTF8String.fromString(b.toString))
  }

  /** Can a zone of family `t` spanning [zlo, zhi] hold a row `b`
    * admits? A zone of the other family never prunes.
    */
  def overlaps(b: Bound, t: String, zlo: Any, zhi: Any): Boolean =
    b.t != t ||
      (b.lo.forall(cmp(zhi, _) >= 0) && b.hi.forall(cmp(zlo, _) <= 0))

  /** [[overlaps]] for a commit-record zone ("l" bounds are decimal). */
  def overlaps(b: Bound, z: ColZone): Boolean =
    if (z.t == "l") overlaps(b, z.t, z.lo.toLong, z.hi.toLong)
    else overlaps(b, z.t, z.lo, z.hi)

  /** Can a file or group with `zones` hold a row meeting one
    * conjunction's `bounds`? A zone matches a bounded column by name,
    * ignoring case; a column without a zone never prunes.
    */
  def admits(zones: Seq[ColZone], bounds: Map[String, Bound]): Boolean =
    bounds.forall { case (c, b) =>
      zones.filter(_.c.equalsIgnoreCase(c)).forall(overlaps(b, _))
    }

  /** The columns of `cols` that have a zone family in `df`, each with
    * its family.
    */
  def zoned(df: DataFrame, cols: Seq[String]): Seq[(String, String)] =
    cols.flatMap(c => zoneType(df.schema(c).dataType).map(c -> _))

  /** `df`'s column `c` in zone space — a date's day number, a string
    * as is, any other zoned type as a long: the one encoding zones are
    * written in and key spans compared in.
    */
  def zoneValue(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case DateType => F.unix_date(F.col(c)).cast("long")
      case StringType => F.col(c)
      case _ => F.col(c).cast("long")
    }

  /** min/max aggregate pair for one zone column, named `_zlo_<c>` and
    * `_zhi_<c>` — aggregated in the column's OWN order (never on a
    * stringified form, which would be lexicographic for numbers), then
    * rendered to the portable string encoding.
    */
  def zoneAggs(df: DataFrame, c: String): Seq[Column] = {
    val v = zoneValue(df, c)
    Seq(F.min(v).cast("string").as(s"_zlo_$c"),
      F.max(v).cast("string").as(s"_zhi_$c"))
  }

  /** The zones of one file or group of `n` rows from its [[zoneAggs]]
    * results over the [[zoned]] columns `zcs` (`agg` looks a result up
    * by name). An empty or all-NULL column gets no zone (the file
    * stays a candidate for any range), never a bogus hull — the
    * parquet-footer convention.
    */
  def zonesOf(zcs: Seq[(String, String)], n: Long,
      agg: String => Any): Seq[ColZone] =
    zcs.flatMap { case (c, t) =>
      val lo = agg(s"_zlo_$c")
      if (n == 0 || lo == null) None
      else Some(ColZone(c, t, lo.asInstanceOf[String],
        agg(s"_zhi_$c").asInstanceOf[String]))
    }

  /** The bound `col = v` of a driver-side probe value: integral →
    * "l", String → "s"; None for any other type.
    */
  def point(v: Any): Option[Bound] = v match {
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      Some(pin("l", n.asInstanceOf[Number].longValue))
    case s: String => Some(pin("s", s))
    case _ => None
  }

  private def pin(t: String, v: Any): Bound =
    Bound(t, Some(v), Some(v), Some(Set(v)))

  /** Per-column bounds of the conjuncts of `cond` on attributes
    * `accept` admits; two conjuncts on one column intersect.
    */
  def conjunction(cond: Expression,
      accept: Attribute => Boolean): Map[String, Bound] =
    splitConjunctivePredicates(cond).flatMap(conjunct(_, accept))
      .foldLeft(Map.empty[String, Bound]) { case (m, (c, b)) =>
        m.updated(c, m.get(c).fold(b)(and(_, b)))
      }

  /** The OR combinator: survivors of `cond`, where `one` gives a
    * caller's survivors for one conjunction's bounds (None = nothing
    * there it can prune by). The conjunction's survivors intersect,
    * for every top-level OR whose disjuncts are all recognized, the
    * union of the disjuncts' survivors: a row meeting the OR meets
    * some disjunct and lies in its survivors. An OR with an
    * unrecognized disjunct is ignored. None when nothing is
    * recognized.
    */
  def survivors[F](cond: Expression, accept: Attribute => Boolean)(
      one: Map[String, Bound] => Option[Set[F]]): Option[Set[F]] = {
    val plain = Some(conjunction(cond, accept)).filter(_.nonEmpty)
      .flatMap(one)
    splitConjunctivePredicates(cond).foldLeft(plain) {
      case (acc, o: Or) =>
        val ds = splitDisjunctivePredicates(o)
          .map(survivors(_, accept)(one))
        if (ds.exists(_.isEmpty)) acc
        else {
          val u = ds.flatten.flatten.toSet
          Some(acc.fold(u)(_ intersect u))
        }
      case (acc, _) => acc
    }
  }

  private def max(x: Any, y: Any): Any = if (cmp(x, y) >= 0) x else y
  private def min(x: Any, y: Any): Any = if (cmp(x, y) <= 0) x else y

  private def and(a: Bound, b: Bound): Bound =
    if (a.t != b.t) a
    else Bound(a.t, (a.lo ++ b.lo).reduceOption(max),
      (a.hi ++ b.hi).reduceOption(min),
      (a.eq ++ b.eq).reduceOption(_ intersect _))

  private val width: Map[DataType, Int] =
    Map(ByteType -> 1, ShortType -> 2, IntegerType -> 4, LongType -> 8)

  /** (column, family) behind a comparison side: an admitted attribute
    * of a zone family, or an integral-widening cast of an integral
    * one (`int_col = 5L` plans as `CAST(int_col AS BIGINT) = 5`),
    * whose order the cast preserves.
    */
  private def attr(e: Expression,
      accept: Attribute => Boolean): Option[(String, String)] = e match {
    case a: Attribute if accept(a) =>
      zoneType(a.dataType).map(a.name -> _)
    case c: Cast => c.child match {
      case a: Attribute if accept(a) && width.contains(a.dataType) &&
          width.get(c.dataType).exists(_ >= width(a.dataType)) =>
        Some(a.name -> "l")
      case _ => None
    }
    case _ => None
  }

  /** A Catalyst value of type `dt` in zone space with its family. */
  private def value(v: Any, dt: DataType): Option[(String, Any)] =
    (v, zoneType(dt)) match {
      case (n: Number, Some("l")) => Some("l" -> n.longValue)
      case (s: UTF8String, Some("s")) => Some("s" -> s.toString)
      case _ => None
    }

  private def lit(e: Expression): Option[(String, Any)] = e match {
    case Literal(v, dt) => value(v, dt)
    case _ => None
  }

  /** The hull of a value list of family `t`; None unless every value
    * is of that family.
    */
  private def hull(t: String,
      vs: Seq[Option[(String, Any)]]): Option[Bound] =
    if (vs.isEmpty || vs.exists(!_.exists(_._1 == t))) None
    else {
      val xs = vs.flatten.map(_._2)
      Some(Bound(t, Some(xs.reduce(min)), Some(xs.reduce(max)),
        Some(xs.toSet)))
    }

  /** Exclusive successor of an ASCII prefix (byte and char order agree
    * there); None for an empty or non-ASCII prefix.
    */
  private def asciiNextPrefix(p: String): Option[String] =
    if (p.isEmpty || !p.forall(_ < 0x80.toChar)) None
    else Some(p.init + (p.last + 1).toChar)

  /** `attr op v` for an attribute of family `t` on the left; None
    * for a literal of another family or an overflowing strict
    * integral bound. String bounds stay inclusive.
    */
  private def range(t: String, op: String,
      lv: (String, Any)): Option[Bound] = {
    val v = lv._2
    def step(d: Long): Option[Any] = v match {
      case x: Long =>
        if (x == (if (d > 0) Long.MaxValue else Long.MinValue)) None
        else Some(x + d)
      case _ => Some(v)
    }
    if (lv._1 != t) None
    else op match {
      case "=" | "<=>" => Some(pin(t, v))
      case ">=" => Some(Bound(t, lo = Some(v)))
      case "<=" => Some(Bound(t, hi = Some(v)))
      case ">" => step(1).map(w => Bound(t, lo = Some(w)))
      case "<" => step(-1).map(w => Bound(t, hi = Some(w)))
      case _ => None
    }
  }

  private val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<",
    ">=" -> "<=", "=" -> "=", "<=>" -> "<=>")

  /** The one map from a Catalyst conjunct to a column bound. */
  private def conjunct(e: Expression,
      accept: Attribute => Boolean): Option[(String, Bound)] = {
    def on(a: Expression)(f: String => Option[Bound]) =
      attr(a, accept).flatMap { case (c, t) => f(t).map(c -> _) }
    def side(a: Expression, l: Expression, op: String) =
      lit(l).flatMap(lv => on(a)(range(_, op, lv)))
    e match {
      case c: BinaryComparison =>
        side(c.left, c.right, c.symbol).orElse(
          flip.get(c.symbol).flatMap(side(c.right, c.left, _)))
      case In(a, vs) => on(a)(hull(_, vs.map(lit)))
      case s: InSet =>
        on(s.child)(hull(_, s.hset.toSeq.map(value(_, s.child.dataType))))
      case StartsWith(a, Literal(p: UTF8String, StringType)) =>
        on(a)(t => Option.when(t == "s")(
          Bound(t, Some(p.toString), asciiNextPrefix(p.toString))))
      case _ => None
    }
  }
}

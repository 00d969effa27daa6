package graft.sources

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EmptyRow, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WHERE-shape classifier: recognizes a conjunction of bounds on ONE
  * integral or string column and rewrites it as the equivalent
  * inclusive [[Snapshots.BandRange]]. A classified range never
  * chooses a code path; it only prunes and prices:
  *  - the copy-on-write DELETE/UPDATE ([[Snapshots.deleteWhereCond]],
  *    [[Snapshots.updateWhereCond]], so SQL `DELETE FROM` and
  *    `UPDATE` too) prune their candidate entries by its `_stats`
  *    bands before the exact attribution scan;
  *  - [[GraftCatalog]]'s filtered `count(*)` prices the count from
  *    the sidecar band walk ([[Snapshots.countWhere]]).
  * Anything the classifier cannot PROVE equivalent returns None and
  * the caller reads every entry: a range never changes which rows
  * match (a range cannot match NULL, and the conditions coalesce
  * NULL to false).
  *
  * Recognized conjuncts (all on the same column): `=`, `>`, `>=`,
  * `<`, `<=`, `BETWEEN` (arrives as two bounds), plus the
  * `IS NOT NULL` Spark injects alongside a range (absorbed — a
  * range already cannot match NULL). Strict long bounds tighten by
  * ±1 (overflow refuses); a strict string LOWER bound tightens to
  * the binary-order successor `v + '\u0000'`; a strict string upper
  * bound has no predecessor and refuses. Date/timestamp and
  * floating columns refuse (their filter values would need the
  * band's epoch encoding).
  */
private[sources] object BandRoute {
  import Snapshots.{BandRange, LongRange, StrRange}

  /** (field, op, value) conjunct; op ∈ =,>,>=,<,<=,nn. */
  private type Conj = (String, String, Any)

  /** Classify a resolved catalyst predicate (a DML condition
    * resolved by [[Snapshots.bandOf]], or a filtered `count(*)`'s
    * condition with its attributes renamed to the relation columns
    * they read). Attribute types
    * come from the expression itself (resolved against the pinned
    * logical schema); the value side accepts any FOLDABLE
    * expression (an analyzer-inserted Cast around a literal has not
    * been constant-folded yet at resolution time). */
  def ofExpr(e: Expression): Option[BandRange] = {
    val conjs = Seq.newBuilder[Conj]
    var fieldType: Map[String, DataType] = Map.empty
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference =>
        fieldType.get(a.name) match {
          case Some(dt) if dt != a.dataType => None
          case _ => fieldType += a.name -> a.dataType; Some(a.name)
        }
      case _ => None
    }
    def value(x: Expression): Option[Any] =
      if (x.foldable) Option(x.eval(EmptyRow)) else None
    def walk(x: Expression): Boolean = x match {
      case And(l, r) => walk(l) && walk(r)
      case EqualTo(a, v) if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, "=", value(v).get)); true
      case EqualTo(v, a) if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, "=", value(v).get)); true
      case GreaterThan(a, v)
          if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, ">", value(v).get)); true
      case GreaterThan(v, a)
          if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, "<", value(v).get)); true
      case GreaterThanOrEqual(a, v)
          if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, ">=", value(v).get)); true
      case GreaterThanOrEqual(v, a)
          if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, "<=", value(v).get)); true
      case LessThan(a, v) if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, "<", value(v).get)); true
      case LessThan(v, a) if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, ">", value(v).get)); true
      case LessThanOrEqual(a, v)
          if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, "<=", value(v).get)); true
      case LessThanOrEqual(v, a)
          if attr(a).isDefined && value(v).isDefined =>
        conjs += ((attr(a).get, ">=", value(v).get)); true
      case IsNotNull(a) if attr(a).isDefined =>
        conjs += ((attr(a).get, "nn", null)); true
      case _ => false
    }
    if (!walk(e) || fieldType.size != 1) return None
    val (field, dt) = fieldType.head
    val cs = conjs.result()
    // at least one real bound: a bare IS NOT NULL is not a range
    if (!cs.exists(_._2 != "nn")) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        var lo = Long.MinValue
        var hi = Long.MaxValue
        cs.foreach { case (_, op, v0) =>
          val v = v0 match {
            case n: java.lang.Number => n.longValue
            case null => 0L // nn conjunct — unused
            case _ => return None
          }
          op match {
            case "=" => lo = math.max(lo, v); hi = math.min(hi, v)
            case ">=" => lo = math.max(lo, v)
            case "<=" => hi = math.min(hi, v)
            case ">" =>
              if (v == Long.MaxValue) return None
              lo = math.max(lo, v + 1)
            case "<" =>
              if (v == Long.MinValue) return None
              hi = math.min(hi, v - 1)
            case "nn" => ()
          }
        }
        Some(LongRange(field, lo, hi))
      case StringType =>
        var lo = ""
        var hi: String = null // null = unbounded above (refuses)
        def str(v0: Any): Option[String] = v0 match {
          case s: String => Some(s)
          case u: UTF8String => Some(u.toString)
          case _ => None
        }
        val ord = Snapshots.BandKey.StrKey.ord
        def minCp(a: String, b: String): String =
          if (a == null) b else ord.min(a, b)
        cs.foreach { case (_, op, v0) =>
          op match {
            case "nn" => ()
            case _ =>
              val v = str(v0).getOrElse(return None)
              op match {
                case "=" => lo = ord.max(lo, v); hi = minCp(hi, v)
                case ">=" => lo = ord.max(lo, v)
                case "<=" => hi = minCp(hi, v)
                // binary-order successor: t > v  ⟺  t >= v+""
                case ">" => lo = ord.max(lo, v + '\u0000')
                // no string predecessor exists — no band
                case "<" => return None
              }
          }
        }
        if (hi == null) None else Some(StrRange(field, lo, hi))
      case _ => None // date/timestamp/float/etc — no band
    }
  }
}

package graft.core

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one metadata-pruning walk of the txlog layer: can a live file
  * hold a row where a predicate is TRUE, judged from its log-recorded
  * metadata alone? Every front calls it — the path connector's
  * [[graft.sources.TxLogFileIndex]] (resolved data filters), the
  * merge-on-read [[graft.sources.TxLogRelation]] (pushed `sources.Filter`s converted
  * to Columns) and the DML writers ([[TxLog]]'s `classifyByPredicate`,
  * `pruneSnapshot`, `prunePartitions`) — so the fronts cannot drift.
  *
  * The metadata is what the writers record on the add line:
  *   - partition values (`p:` markers), `cast(col AS string)` renderings;
  *   - integral zone maps, `[min, max]` of `cast(col AS long)`;
  *   - string zone maps (`s:` markers), `[min, max]` in binary UTF8 order.
  *
  * Three-valued and conservative: only a provably-false file drops, and
  * any unrecognized shape keeps the file. A literal prunes only when its
  * type is one the writer rendered exactly — integral or string against
  * zone maps; integral, string or boolean against partition markers —
  * and only when the column's type, when known, is of the same kind.
  * DATE, TIMESTAMP, decimal and floating-point literals keep every file:
  * their internal values (days, microseconds) are not what the writer
  * recorded (`cast(d AS string)`, `cast(ts AS long)` in seconds). */
private[graft] object FilePrune {

  /** Spark's dynamic-partition rendering of NULL and of the empty
    * string: a recorded sentinel is ambiguous, so it never prunes and
    * never proves. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** One live file's recorded partition values, integral zone maps and
    * string zone maps. */
  final case class FileMeta(pv: Map[String, String],
      zm: Map[String, (Long, Long)], sm: Map[String, (String, String)])

  /** The files, in order, that may hold a row where every one of
    * `preds` is TRUE. `types` gives the column types of unresolved
    * attributes (resolved ones carry their own). */
  def surviving(files: Seq[(String, FileMeta)], preds: Seq[Expression],
      types: Map[String, DataType] = Map.empty): Seq[String] = {
    val ps = preds.map(normalize)
    files.collect { case (f, m) if ps.forall(survives(m, _, types)) => f }
  }

  /** The DML split: (files where EVERY row makes `pred` TRUE, files that
    * may hold a TRUE row). A file in neither list holds no TRUE row. */
  def classify(files: Seq[(String, FileMeta)], pred: Expression,
      types: Map[String, DataType] = Map.empty): (Seq[String], Seq[String]) = {
    val p = normalize(pred)
    val (proven, candidates) = files
      .filter { case (_, m) => survives(m, p, types) }
      .partition { case (_, m) => provesAll(m, p, types) }
    (proven.map(_._1), candidates.map(_._1))
  }

  /** The Column DSL never builds binary comparison nodes — `=== < > &&
    * isin` all arrive as catalyst `UnresolvedFunction` calls that only
    * the analyzer would rewrite. Fold the shapes this walk knows back
    * into real nodes; anything else stays as-is (and keeps the file). */
  private def normalize(e: Expression): Expression = e match {
    case f: UnresolvedFunction if f.nameParts.size == 1 && !f.isDistinct =>
      val args = f.arguments.map(normalize)
      (f.nameParts.head.toLowerCase(java.util.Locale.ROOT), args) match {
        case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
        case ("<", Seq(l, r)) => LessThan(l, r)
        case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
        case (">", Seq(l, r)) => GreaterThan(l, r)
        case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
        case ("and", Seq(l, r)) => And(l, r)
        case ("or", Seq(l, r)) => Or(l, r)
        case ("in", v +: rest) if rest.nonEmpty => In(v, rest)
        case ("isnull", Seq(v)) => IsNull(v)
        case ("isnotnull", Seq(v)) => IsNotNull(v)
        case _ => f
      }
    case other => other.mapChildren(normalize)
  }

  private sealed trait Kind
  private case object Integral extends Kind
  private case object Str extends Kind
  private case object Bool extends Kind

  /** The kinds the writers render exactly; collated strings compare
    * outside binary order, so they are not one of them. */
  private def kindOf(t: DataType): Option[Kind] = t match {
    case ByteType | ShortType | IntegerType | LongType => Some(Integral)
    case s: StringType if s.collationId == StringType.collationId =>
      Some(Str)
    case BooleanType => Some(Bool)
    case _ => None
  }

  /** A column compared with a non-null literal of a rendered kind. */
  private final case class Operand(col: String, kind: Kind, value: Any) {
    def rendered: String = value.toString
  }

  /** An attribute's name, with its type when resolved or given. */
  private def column(e: Expression, types: Map[String, DataType])
      : Option[(String, Option[DataType])] = e match {
    case a: AttributeReference => Some(a.name -> Some(a.dataType))
    case u: UnresolvedAttribute if u.nameParts.size == 1 =>
      Some(u.nameParts.head -> types.get(u.nameParts.head))
    case _ => None
  }

  private def operand(a: Expression, l: Expression,
      types: Map[String, DataType]): Option[Operand] = l match {
    case Literal(v, t) if v != null =>
      for {
        (c, colType) <- column(a, types)
        k <- kindOf(t)
        if colType.forall(kindOf(_).contains(k))
      } yield Operand(c, k, v)
    case _ => None
  }

  /** The signs of (file min − value, file max − value) from the zone
    * map of the operand's kind, when the file has one. */
  private def bounds(m: FileMeta, o: Operand): Option[(Int, Int)] =
    o.kind match {
      case Integral =>
        val x = o.value.asInstanceOf[Number].longValue
        m.zm.get(o.col).map { case (lo, hi) => (lo.compare(x), hi.compare(x)) }
      case Str =>
        val u = o.value.asInstanceOf[UTF8String]
        m.sm.get(o.col).map { case (lo, hi) =>
          (UTF8String.fromString(lo).compareTo(u).sign,
            UTF8String.fromString(hi).compareTo(u).sign) }
      case Bool => None
    }

  private def partition(m: FileMeta, o: Operand): Option[String] =
    m.pv.get(o.col).filter(_ != NullPartition)

  private def eqSurvives(m: FileMeta, o: Option[Operand]): Boolean =
    o.forall { o =>
      bounds(m, o).forall { case (lo, hi) => lo <= 0 && hi >= 0 } &&
        partition(m, o).forall(_ == o.rendered)
    }

  /** `col <op> value` against the zone map; `op` sees the signs of
    * (min − value, max − value). */
  private def boundSurvives(m: FileMeta, o: Option[Operand])
      (op: (Int, Int) => Boolean): Boolean =
    o.forall(bounds(m, _).forall(op.tupled))

  /** Can the file hold a row where `e` is TRUE? */
  private def survives(m: FileMeta, e: Expression,
      t: Map[String, DataType]): Boolean = e match {
    case And(l, r) => survives(m, l, t) && survives(m, r, t)
    case Or(l, r) => survives(m, l, t) || survives(m, r, t)
    case EqualTo(a, l: Literal) => eqSurvives(m, operand(a, l, t))
    case EqualTo(l: Literal, a) => eqSurvives(m, operand(a, l, t))
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.isEmpty || vs.exists(v => eqSurvives(m, operand(a, v, t)))
    case GreaterThan(a, l: Literal) =>
      boundSurvives(m, operand(a, l, t))((_, hi) => hi > 0)
    case GreaterThanOrEqual(a, l: Literal) =>
      boundSurvives(m, operand(a, l, t))((_, hi) => hi >= 0)
    case LessThan(a, l: Literal) =>
      boundSurvives(m, operand(a, l, t))((lo, _) => lo < 0)
    case LessThanOrEqual(a, l: Literal) =>
      boundSurvives(m, operand(a, l, t))((lo, _) => lo <= 0)
    case GreaterThan(l: Literal, a) => // v > col ≡ col < v
      boundSurvives(m, operand(a, l, t))((lo, _) => lo < 0)
    case GreaterThanOrEqual(l: Literal, a) =>
      boundSurvives(m, operand(a, l, t))((lo, _) => lo <= 0)
    case LessThan(l: Literal, a) =>
      boundSurvives(m, operand(a, l, t))((_, hi) => hi > 0)
    case LessThanOrEqual(l: Literal, a) =>
      boundSurvives(m, operand(a, l, t))((_, hi) => hi >= 0)
    case IsNull(a) =>
      // a non-sentinel recorded partition value means NO nulls
      column(a, t).forall { case (c, _) =>
        m.pv.get(c).forall(_ == NullPartition) }
    case _ => true
  }

  /** Is `e` TRUE for EVERY row of the file? Partition-value equality
    * only — the single per-file fact strong enough to prove it. */
  private def provesAll(m: FileMeta, e: Expression,
      t: Map[String, DataType]): Boolean = e match {
    case And(l, r) => provesAll(m, l, t) && provesAll(m, r, t)
    case Or(l, r) => provesAll(m, l, t) || provesAll(m, r, t)
    case EqualTo(a, l: Literal) => provedEq(m, operand(a, l, t))
    case EqualTo(l: Literal, a) => provedEq(m, operand(a, l, t))
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => provedEq(m, operand(a, v, t)))
    case _ => false
  }

  private def provedEq(m: FileMeta, o: Option[Operand]): Boolean =
    o.exists(o => partition(m, o).contains(o.rendered))
}

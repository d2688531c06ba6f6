package graft.sources.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, BindReferences, Expression, IsNotNull, Not, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{BooleanType, StructType}

/** CHECK constraints (Delta's `ALTER TABLE … ADD CONSTRAINT` feature,
  * spelled as `check.<name>` table properties): a SQL boolean
  * expression over the table's columns that every row must satisfy —
  * SQL semantics, so NULL passes and only a provably FALSE row
  * violates.
  *
  * Three consumers, in order of importance:
  *
  *   - WRITE-TIME ENFORCEMENT ([[LakeWriterFactory]]): every row-
  *     writing path in the engine funnels through the one writer
  *     (INSERT/CTAS, streaming epochs, copy-on-write rewrites, the
  *     delta writer's MOR insert/update post-images, transactional
  *     stageAppend), and each row is evaluated against every resolved
  *     constraint before it is encoded — a violating row fails the
  *     WRITE loud (task abort → no partial files published), never
  *     lands;
  *   - ALTER-TIME VALIDATION ([[GraftCatalog.alterTable]]): adding a
  *     constraint to a non-empty table scans the CURRENT rows once and
  *     fails with the violation count if any existing row breaks it
  *     (Delta's semantics) — so a declared constraint is a table-wide
  *     GUARANTEE from the moment it exists, not a forward-only hope;
  *   - SCAN-TIME CONTRADICTION ([[LakeScanBuilder]]): a pushed filter
  *     that provably contradicts a constraint (WHERE qty < 0 on a
  *     table guaranteeing qty >= 0) plans ZERO files — the guarantee
  *     turns a full scan into driver arithmetic. Lifted best-effort
  *     from comparison-shaped conjuncts over exactly-ordered types
  *     (integral, decimal, string, date); anything unliftable simply
  *     never prunes.
  *
  * Contract boundary (same stance as Delta): the guarantee covers
  * rows written through the engine. A raw external commit that
  * bypasses the catalog voids it — the engine's own surfaces (SQL DML,
  * DataFrame writes, streams, multi-table tx) all enforce.
  */
object LakeChecks {

  /** Property prefix: `check.<name>` → constraint SQL text. */
  val Prefix = "check."

  /** Engine-owned sibling: `checkmeta.<name>` → the MAIN version at
    * which the constraint's table-wide guarantee was ESTABLISHED
    * (0 at CREATE — before any data; the validated head at ALTER).
    * What it buys: contradiction PRUNING must know the guarantee
    * covers every live row, and a `rollback` / `fast_forward` can
    * graft pre-validation state back into head — [[pruneArmed]]
    * compares this watermark against the log's history-graft marker
    * and disarms pruning (enforcement continues) when any graft
    * postdates any validation. Re-running ALTER SET on the constraint
    * re-validates and re-arms. Not user-settable (not in the knob
    * allow-list); note "checkmeta." does not match the `check.`
    * prefix test, so these entries are never parsed as constraints.
    */
  val MetaPrefix = "checkmeta."

  /** May the scan-time contradiction prune fire? Only when every
    * declared constraint carries a validation watermark AND no
    * history graft (rollback / fast_forward) postdates the oldest one.
    * Any uncertainty — legacy constraint without a watermark,
    * unreadable marker — disarms (the scan runs; merely slower).
    */
  def pruneArmed(dir: String)(implicit lfs: LakeFs): Boolean = {
    val props = LakeTableIO.tableProps(dir)
    val checks = fromProps(props)
    if (checks.isEmpty) return false
    val metas = checks.map { case (name, _) =>
      props.get(MetaPrefix + name).flatMap(_.toLongOption) }
    if (metas.exists(_.isEmpty)) return false
    val minValidated = metas.flatten.min
    LakeLog.historyGraftVersion(dir).forall(_ <= minValidated)
  }

  /** Declared constraints of a table: (name, SQL text), name-sorted. */
  def configured(dir: String)(implicit lfs: LakeFs): Seq[(String, String)] =
    fromProps(LakeTableIO.tableProps(dir))

  /** [[configured]] over the STRICT props reader: a torn/unreadable
    * properties file THROWS instead of yielding "no constraints" — the
    * enforcement consumer must fail the write loud rather than
    * silently un-enforce a declared guarantee.
    */
  def configuredStrict(dir: String)(
      implicit lfs: LakeFs): Seq[(String, String)] =
    fromProps(LakeTableIO.tablePropsStrict(dir))

  /** The constraint set a write was PLANNED under, as a full
    * name → text map — what the commit-time guard compares against.
    */
  def planSet(dir: String)(implicit lfs: LakeFs): Map[String, String] =
    configuredStrict(dir).toMap

  /** Commit-time guard: fail loud when the live constraint set differs
    * from the planned one in a way that would publish UNENFORCED rows —
    * an ADDED name, or a CHANGED text (`ALTER … SET check.x = '<new>'`
    * replacing a constraint mid-write: rows staged under the old text
    * would land under the new declaration unvalidated). A DROPPED
    * constraint is benign (the staged rows were over-enforced).
    * Compares full entries, never just names.
    */
  def requireUnchangedForWrite(dir: String,
                               atPlan: Map[String, String])(
      implicit lfs: LakeFs): Unit = {
    val now = configuredStrict(dir).toMap
    val offending = now.collect {
      case (n, t) if !atPlan.get(n).contains(t) => n
    }
    if (offending.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"graft_lake: check constraint(s) " +
          s"${offending.toSeq.sorted.mkString(", ")} were added or " +
          s"re-declared on $dir while this write was in flight — the " +
          "staged rows were not enforced against them; retry the write")
  }

  private def fromProps(props: Map[String, String]): Seq[(String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith(Prefix) && k.length > Prefix.length =>
        (k.substring(Prefix.length), v)
    }.sortBy(_._1)

  /** Column names referenced by the constraint text (parse only — used
    * to reject RENAME/DROP of a referenced column).
    */
  def referencedColumns(spark: SparkSession, text: String): Seq[String] = {
    val parsed = spark.sessionState.sqlParser.parseExpression(text)
    parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }.distinct
  }

  /** Parse + analyze + type-check `text` against `schema`. Returns the
    * RESOLVED boolean condition (attribute references into `schema`'s
    * attribute order). Fails loud on unresolvable names, non-boolean
    * type, non-determinism, or subquery/aggregate shapes — the
    * CREATE/ALTER-grade validation.
    */
  def resolve(spark: SparkSession, schema: StructType, name: String,
              text: String): Expression = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(text)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"graft_lake: check constraint '$name' does not parse: " +
            s"$text (${e.getMessage})")
      }
    val attrs = DataTypeUtils.toAttributes(schema)
    val qe = spark.sessionState.executePlan(
      LFilter(parsed, LocalRelation(attrs)))
    try qe.assertAnalyzed()
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"graft_lake: check constraint '$name' does not resolve " +
          s"against the table schema: $text (${e.getMessage})")
    }
    val cond = qe.analyzed.asInstanceOf[LFilter].condition
    require(cond.dataType == BooleanType,
      s"graft_lake: check constraint '$name' is not boolean: $text")
    require(cond.deterministic,
      s"graft_lake: check constraint '$name' must be deterministic: " +
        text)
    require(cond.collectFirst {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => s
        case a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression => a
      }.isEmpty,
      s"graft_lake: check constraint '$name' cannot contain " +
        s"subqueries or aggregates: $text")
    // re-bind against the LocalRelation's attribute output so exprIds
    // line up with `schema` order for the caller's bindReference
    cond
  }

  /** Driver-resolved, executor-evaluable VIOLATION predicate: true iff
    * the constraint evaluates to FALSE for the row (NULL passes — SQL
    * CHECK). The bound expression serializes with the writer factory.
    */
  def violationExpr(spark: SparkSession, schema: StructType,
                    name: String, text: String): Expression = {
    val cond = resolve(spark, schema, name, text)
    val attrs = DataTypeUtils.toAttributes(schema)
    // the analyzed condition references the LocalRelation attrs built
    // from the same schema in resolve() — rebuilding them here yields
    // DIFFERENT exprIds, so bind by NAME instead: swap each reference
    // for the position of its name in the write schema
    val byName = schema.fieldNames.zipWithIndex.toMap
    val positional = cond.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        val i = byName.getOrElse(a.name, throw new IllegalStateException(
          s"graft_lake: constraint '$name' references '${a.name}' " +
            "missing from the write schema"))
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, a.dataType, a.nullable)
    }
    And(IsNotNull(positional), Not(positional))
  }

  /** Compiled per-task predicate (codegen with interpreted fallback). */
  def compile(violation: Expression)
      : org.apache.spark.sql.catalyst.expressions.BasePredicate =
    Predicate.create(violation)

  /** Driver-resolved, executor-evaluable ROW predicate: true iff `text`
    * evaluates to TRUE for the row (NULL reads as false — the match
    * semantics a tombstone predicate wants). Same CREATE-grade
    * validation and positional binding as [[violationExpr]]; the
    * upsert sink's `upsert.tombstone` compiles through this.
    */
  def rowPredicate(spark: SparkSession, schema: StructType,
                   name: String, text: String): Expression = {
    val cond = resolve(spark, schema, name, text)
    val byName = schema.fieldNames.zipWithIndex.toMap
    val positional = cond.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        val i = byName.getOrElse(a.name, throw new IllegalStateException(
          s"graft_lake: predicate '$name' references '${a.name}' " +
            "missing from the write schema"))
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, a.dataType, a.nullable)
    }
    And(IsNotNull(positional), positional)
  }

  // ----------------------------------------------------- contradiction

  /** Best-effort domain interval [lo, hi] a constraint proves for one
    * column, in an exactly-comparable value domain (BigDecimal for
    * integral/decimal/date-days, String-as-UTF8 for strings). Bounds
    * are None when unbounded on that side.
    */
  final case class Dom(lo: Option[(BigDecimal, Boolean)],
                       hi: Option[(BigDecimal, Boolean)],
                       sLo: Option[(String, Boolean)],
                       sHi: Option[(String, Boolean)],
                       // an explicit `col IS NOT NULL` conjunct — the
                       // ONLY shape that proves non-nullness (a range
                       // constraint does NOT: NULL passes SQL CHECK)
                       notNull: Boolean = false)

  /** Lift the comparison-shaped conjuncts of every declared constraint
    * into per-column domains. Parse-only (no analyzer — the scan may
    * plan off-session); anything not an obvious
    * `column <cmp> literal` over an exact type lifts to nothing.
    */
  def domains(spark: SparkSession, texts: Seq[String])
      : Map[String, Dom] = {
    import org.apache.spark.sql.catalyst.{expressions => E}
    val empty = Dom(None, None, None, None)
    var doms = Map.empty[String, Dom].withDefaultValue(empty)
    def markNotNull(col: String): Unit =
      doms = doms.updated(col, doms(col).copy(notNull = true))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def num(l: E.Literal): Option[BigDecimal] = l.value match {
      case null => None
      case i: java.lang.Integer => Some(BigDecimal(i.intValue()))
      case j: java.lang.Long    => Some(BigDecimal(j.longValue()))
      case s: java.lang.Short   => Some(BigDecimal(s.intValue()))
      case b: java.lang.Byte    => Some(BigDecimal(b.intValue()))
      case d: org.apache.spark.sql.types.Decimal =>
        Some(BigDecimal(d.toJavaBigDecimal))
      case _ => None // double/float/other: never lifted (NaN/rounding)
    }
    def str(l: E.Literal): Option[String] = l.value match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    def colOf(e: Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    def tightenLo(d: Dom, v: BigDecimal, incl: Boolean): Dom =
      d.lo match {
        case Some((cur, ci)) if cur > v || (cur == v && !ci) => d
        case _ => d.copy(lo = Some((v, incl)))
      }
    def tightenHi(d: Dom, v: BigDecimal, incl: Boolean): Dom =
      d.hi match {
        case Some((cur, ci)) if cur < v || (cur == v && !ci) => d
        case _ => d.copy(hi = Some((v, incl)))
      }
    def tightenSLo(d: Dom, v: String, incl: Boolean): Dom =
      d.sLo match {
        case Some((cur, ci))
            if utf8Cmp(cur, v) > 0 || (cur == v && !ci) => d
        case _ => d.copy(sLo = Some((v, incl)))
      }
    def tightenSHi(d: Dom, v: String, incl: Boolean): Dom =
      d.sHi match {
        case Some((cur, ci))
            if utf8Cmp(cur, v) < 0 || (cur == v && !ci) => d
        case _ => d.copy(sHi = Some((v, incl)))
      }
    def apply1(col: String, op: String, lit: E.Literal): Unit = {
      val d = doms(col)
      num(lit) match {
        case Some(v) =>
          val nd = op match {
            case ">"  => tightenLo(d, v, incl = false)
            case ">=" => tightenLo(d, v, incl = true)
            case "<"  => tightenHi(d, v, incl = false)
            case "<=" => tightenHi(d, v, incl = true)
            case "="  => tightenHi(tightenLo(d, v, incl = true),
              v, incl = true)
          }
          doms = doms.updated(col, nd)
        case None => str(lit).foreach { v =>
          val nd = op match {
            case ">"  => tightenSLo(d, v, incl = false)
            case ">=" => tightenSLo(d, v, incl = true)
            case "<"  => tightenSHi(d, v, incl = false)
            case "<=" => tightenSHi(d, v, incl = true)
            case "="  => tightenSHi(tightenSLo(d, v, incl = true),
              v, incl = true)
          }
          doms = doms.updated(col, nd)
        }
      }
    }
    texts.foreach { text =>
      val parsed =
        try spark.sessionState.sqlParser.parseExpression(text)
        catch { case scala.util.control.NonFatal(_) => return doms }
      conjuncts(parsed).foreach {
        case E.GreaterThan(c, l: E.Literal) =>
          colOf(c).foreach(apply1(_, ">", l))
        case E.GreaterThan(l: E.Literal, c) =>
          colOf(c).foreach(apply1(_, "<", l))
        case E.GreaterThanOrEqual(c, l: E.Literal) =>
          colOf(c).foreach(apply1(_, ">=", l))
        case E.GreaterThanOrEqual(l: E.Literal, c) =>
          colOf(c).foreach(apply1(_, "<=", l))
        case E.LessThan(c, l: E.Literal) =>
          colOf(c).foreach(apply1(_, "<", l))
        case E.LessThan(l: E.Literal, c) =>
          colOf(c).foreach(apply1(_, ">", l))
        case E.LessThanOrEqual(c, l: E.Literal) =>
          colOf(c).foreach(apply1(_, "<=", l))
        case E.LessThanOrEqual(l: E.Literal, c) =>
          colOf(c).foreach(apply1(_, ">=", l))
        case E.EqualTo(c, l: E.Literal) =>
          colOf(c).foreach(apply1(_, "=", l))
        case E.EqualTo(l: E.Literal, c) =>
          colOf(c).foreach(apply1(_, "=", l))
        case E.IsNotNull(c) => colOf(c).foreach(markNotNull)
        case _ => () // unliftable conjunct: enforcement-only
      }
    }
    doms
  }

  private def utf8Cmp(a: String, b: String): Int =
    org.apache.parquet.io.api.Binary.fromString(a)
      .compareTo(org.apache.parquet.io.api.Binary.fromString(b))

  /** Normalize a pushed-filter literal to the numeric domain. */
  private def filterNum(v: Any): Option[BigDecimal] = v match {
    case i: Int                 => Some(BigDecimal(i))
    case l: Long                => Some(BigDecimal(l))
    case s: Short               => Some(BigDecimal(s.toInt))
    case b: Byte                => Some(BigDecimal(b.toInt))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: scala.math.BigDecimal => Some(d)
    case d: java.sql.Date       => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case _ => None // double/float/string handled apart; others unlifted
  }

  /** Does `f` provably contradict the column domains? True only when
    * NO value inside the domain can satisfy the filter — the scan then
    * plans zero files. Any uncertainty (unliftable literal, no domain
    * for the column) keeps the scan.
    *
    * NOTE the date mapping: constraint literals of DateType carry
    * epoch-day Ints (parse-time typed literals), filter literals carry
    * java Date/LocalDate — both normalize to epoch days.
    */
  def contradicts(doms: Map[String, Dom], filters: Array[Filter])
      : Boolean = {
    def numOutside(d: Dom, v: BigDecimal): Boolean =
      d.lo.exists { case (lo, incl) => v < lo || (v == lo && !incl) } ||
      d.hi.exists { case (hi, incl) => v > hi || (v == hi && !incl) }
    def strOutside(d: Dom, v: String): Boolean =
      d.sLo.exists { case (lo, incl) =>
        utf8Cmp(v, lo) < 0 || (v == lo && !incl) } ||
      d.sHi.exists { case (hi, incl) =>
        utf8Cmp(v, hi) > 0 || (v == hi && !incl) }
    def eqImpossible(col: String, v: Any): Boolean = {
      val d = doms.getOrElse(col, return false)
      filterNum(v).map(numOutside(d, _)).orElse(v match {
        case s: String => Some(strOutside(d, s))
        case _         => None
      }).getOrElse(false)
    }
    def one(f: Filter): Boolean = f match {
      case EqualTo(c, v) if v != null       => eqImpossible(c, v)
      case EqualNullSafe(c, v) if v != null => eqImpossible(c, v)
      // a guaranteed-non-null column can't satisfy IS NULL / <=> NULL
      case org.apache.spark.sql.sources.IsNull(c) =>
        doms.get(c).exists(_.notNull)
      case EqualNullSafe(c, null) =>
        doms.get(c).exists(_.notNull)
      case In(c, vs) =>
        val nn = vs.filter(_ != null)
        nn.nonEmpty && nn.forall(eqImpossible(c, _))
      case GreaterThan(c, v) =>
        val d = doms.getOrElse(c, return false)
        filterNum(v).exists(fv => d.hi.exists { case (hi, _) =>
          hi < fv || hi == fv }) || (v match {
          case s: String => d.sHi.exists { case (hi, _) =>
            utf8Cmp(hi, s) < 0 || hi == s }
          case _ => false
        })
      case GreaterThanOrEqual(c, v) =>
        val d = doms.getOrElse(c, return false)
        filterNum(v).exists(fv => d.hi.exists { case (hi, incl) =>
          hi < fv || (hi == fv && !incl) }) || (v match {
          case s: String => d.sHi.exists { case (hi, incl) =>
            utf8Cmp(hi, s) < 0 || (hi == s && !incl) }
          case _ => false
        })
      case LessThan(c, v) =>
        val d = doms.getOrElse(c, return false)
        filterNum(v).exists(fv => d.lo.exists { case (lo, _) =>
          lo > fv || lo == fv }) || (v match {
          case s: String => d.sLo.exists { case (lo, _) =>
            utf8Cmp(lo, s) > 0 || lo == s }
          case _ => false
        })
      case LessThanOrEqual(c, v) =>
        val d = doms.getOrElse(c, return false)
        filterNum(v).exists(fv => d.lo.exists { case (lo, incl) =>
          lo > fv || (lo == fv && !incl) }) || (v match {
          case s: String => d.sLo.exists { case (lo, incl) =>
            utf8Cmp(lo, s) > 0 || (lo == s && !incl) }
          case _ => false
        })
      case _ => false
    }
    filters.exists(one)
  }
}

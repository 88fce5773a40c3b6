package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/**
 * Hidden-partitioning transforms — the Iceberg partition-spec model
 * (Iceberg spec §"Partition Transforms"; the reference's tables are
 * Iceberg-in-S3-Tables, whose `PARTITIONED BY (days(ts))` layouts are
 * produced by exactly this machinery). A [[PartField]] derives a
 * PHYSICAL partition value from a SOURCE column; the derived column
 * never appears in the table schema — queries filter on the source
 * column and the engine maps predicates onto partitions itself.
 *
 * One Catalyst expression definition per transform serves every
 * consumer, which is what makes the three sites provably consistent:
 *  - the bulk write path derives partition columns on the DataFrame
 *    ([[derive]] — the same expression, analyzed/codegen'd);
 *  - the file writer ([[TableWriter]]) evaluates it per row over a
 *    [[BoundReference]] when the rows do not carry the derived column;
 *  - scan pruning evaluates it over a pushed literal
 *    ([[renderLiteral]]) and compares against stored partition values.
 *
 * All transforms RENDER AS STRINGS (zero-padded date patterns, decimal
 * integers), so the directory name, the snapshot's `partitionValues`,
 * and every comparison share one canonical form. Date-family patterns
 * are fixed-width, so lexicographic order equals chronological order —
 * that is what lets range predicates on the source column prune
 * transformed partitions ([[monotonic]]).
 */
object PartitionTransform {

  val Identity = "identity"
  /** transform name → whether source ranges map to partition ranges */
  private val DatePatterns = Map(
    "year" -> "yyyy", "month" -> "yyyy-MM", "day" -> "yyyy-MM-dd",
    "hour" -> "yyyy-MM-dd-HH")

  val Names: Set[String] =
    DatePatterns.keySet ++ Set(Identity, "bucket", "truncate")

  /** The effective spec: explicit when stored, else one identity field
    * per partition column (pre-transform logs and identity tables). */
  def resolve(s: Snapshot): Seq[PartField] =
    if (s.partitionSpec.nonEmpty) s.partitionSpec
    else s.partitionColumns.map(c => PartField(c, Identity, c))

  def hasTransforms(s: Snapshot): Boolean = s.partitionSpec.exists(!_.isIdentity)

  /** Validate a spec against a table schema at CREATE time. */
  def validate(spec: Seq[PartField], schema: StructType): Unit = {
    require(spec.map(_.name).distinct.size == spec.size,
      s"duplicate partition field names in ${spec.map(_.name).mkString(", ")}")
    spec.foreach { f =>
      require(Names.contains(f.transform), s"unknown transform '${f.transform}'")
      require(schema.fieldNames.contains(f.source),
        s"partition source column '${f.source}' is not in the table schema")
      if (f.isIdentity) {
        require(f.name == f.source,
          s"identity partition field '${f.name}' must be named after its source")
      } else {
        require(!schema.fieldNames.contains(f.name),
          s"derived partition field '${f.name}' collides with a schema column")
        val dt = schema(f.source).dataType
        f.transform match {
          case "bucket" =>
            require(f.param > 0, s"bucket(${f.param}) requires a positive count")
          case "truncate" =>
            require(f.param > 0, s"truncate(${f.param}) requires a positive width")
            require(dt == StringType || integral(dt),
              s"truncate source '${f.source}' must be string or integral, got $dt")
          case _ =>
            require(dt == TimestampType || dt == DateType,
              s"${f.transform} source '${f.source}' must be timestamp/date, got $dt")
        }
      }
    }
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** Source ranges map to partition-value ranges (string compare):
    * date patterns are fixed-width; integral truncate is order-
    * preserving numerically but NOT lexicographically as strings, so
    * only date transforms qualify. */
  def monotonic(f: PartField): Boolean = DatePatterns.contains(f.transform)

  /**
   * The ONE definition of each transform: a Catalyst expression over
   * `child` (whose type is `childType`) producing the string partition
   * value. Resolved expressions only (explicit casts, bound zone), so
   * interpreted `eval` works without an analyzer pass.
   */
  def exprFor(f: PartField, child: Expression, childType: DataType,
      zoneId: String): Expression = f.transform match {
    case Identity => identity(child, zoneId)
    case t if DatePatterns.contains(t) =>
      val ts = childType match {
        case TimestampType => child
        case DateType      => Cast(child, TimestampType, Option(zoneId))
        case other => throw new IllegalArgumentException(
          s"$t transform needs a timestamp/date source, got $other")
      }
      DateFormatClass(ts, Literal(DatePatterns(t)), Option(zoneId))
    case "bucket" =>
      // xxhash64 (seed 42, Spark's SQL function) mod n — deterministic
      // across the write path, the row writer, and pruning
      Cast(Pmod(new XxHash64(Seq(child)), Literal(f.param.toLong)), StringType)
    case "truncate" =>
      childType match {
        case StringType => Substring(child, Literal(1), Literal(f.param))
        case dt if integral(dt) =>
          // floor-to-width via pmod (non-negative remainder), the
          // Iceberg truncate semantics for negatives: -7 trunc 5 = -10
          Cast(Subtract(child, Pmod(child, Cast(Literal(f.param), dt))), StringType)
        case other => throw new IllegalArgumentException(
          s"truncate transform needs a string/integral source, got $other")
      }
    case other => throw new IllegalArgumentException(s"unknown transform '$other'")
  }

  /** The identity transform: Spark's own cast to string in the session
    * zone — the rendering Spark's V1 file writer names its partition
    * directories with, so tables it wrote keep matching. */
  def identity(child: Expression, zoneId: String): Expression =
    Cast(child, StringType, Option(zoneId))

  /** Column form of [[exprFor]] over an arbitrary source column
    * (alias-qualified in join contexts). */
  def columnOver(f: PartField, source: Column, childType: DataType,
      zoneId: String): Column =
    ColumnBridge.column(
      exprFor(f, ColumnBridge.expression(source), childType, zoneId))

  /** Column form of [[exprFor]] for the bulk write path. */
  def columnFor(f: PartField, childType: DataType, zoneId: String): Column =
    columnOver(f, col(f.source), childType, zoneId)

  /** Append each DERIVED (non-identity) partition column missing from
    * `df` — identity fields are already real columns. Idempotent, so
    * callers may invoke it defensively. */
  def derive(df: DataFrame, spec: Seq[PartField], schema: StructType,
      zoneId: String): DataFrame =
    spec.filterNot(_.isIdentity).foldLeft(df) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, columnFor(f, schema(f.source).dataType, zoneId))
    }

  /** Parse one partition-spec item from a SQL call shape —
    * `days(ts)` / `day(ts)` / `bucket(16, id)` / `truncate(4, code)` /
    * `identity(c)` — into a [[PartField]] (derived fields named
    * `<source>_<transform>`, the Iceberg naming). Shared by the V2
    * catalog's Transform mapping and the text-DDL parser so both
    * surfaces mint identical specs. */
  def fromCall(fn: String, args: Seq[String]): PartField = {
    def one: String = {
      require(args.length == 1, s"$fn(col) expects 1 argument, got $args")
      args.head
    }
    def paramAndCol: (Int, String) = {
      require(args.length == 2 && args.head.forall(_.isDigit),
        s"$fn(n, col) expects (int, column), got $args")
      (args.head.toInt, args(1))
    }
    fn.toLowerCase match {
      case "identity"         => PartField(one, Identity, one)
      case "year" | "years"   => PartField(s"${one}_year", "year", one)
      case "month" | "months" => PartField(s"${one}_month", "month", one)
      case "day" | "days"     => PartField(s"${one}_day", "day", one)
      case "hour" | "hours"   => PartField(s"${one}_hour", "hour", one)
      case "bucket" =>
        val (n, c) = paramAndCol; PartField(s"${c}_bucket", "bucket", c, n)
      case "truncate" =>
        val (n, c) = paramAndCol; PartField(s"${c}_trunc", "truncate", c, n)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' (supported: identity, " +
          "year(s), month(s), day(s), hour(s), bucket(n, col), truncate(n, col))")
    }
  }

  /** Parse a comma-separated spec list — bare columns (identity) and
    * transform calls (`month(ts)`, `bucket(8, id)`) — the procedure-
    * argument form of the DDL's PARTITIONED BY list. Top-level-comma
    * split only (bucket/truncate carry a nested one). */
  def parseSpecList(list: String): Seq[PartField] = {
    val items = scala.collection.mutable.Buffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    list.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => items += sb.toString; sb.clear()
      case c => sb += c
    }
    if (sb.nonEmpty) items += sb.toString
    val CallRe = """(?is)^\s*(\w+)\s*\((.*)\)\s*$""".r
    def clean(s: String) = s.trim.stripPrefix("`").stripSuffix("`")
    items.map(_.trim).filter(_.nonEmpty).map {
      case CallRe(fn, args) =>
        fromCall(fn, args.split(",").map(clean).toSeq)
      case bare =>
        val c = clean(bare)
        PartField(c, Identity, c)
    }.toSeq
  }

  /** A spec field as Spark's V2 connector `Transform` (what
    * `Table.partitioning()` and SPJ `KeyGroupedPartitioning` report).
    * Param-first argument order for bucket/truncate — the Iceberg
    * `system.bucket(n, col)` convention. */
  def toV2(f: PartField)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    f.transform match {
      case Identity   => Expressions.identity(f.name)
      case "year"     => Expressions.years(f.source)
      case "month"    => Expressions.months(f.source)
      case "day"      => Expressions.days(f.source)
      case "hour"     => Expressions.hours(f.source)
      case "bucket"   => Expressions.bucket(f.param, f.source)
      case "truncate" => Expressions.apply("truncate",
        Expressions.literal(f.param), Expressions.column(f.source))
      case other => throw new IllegalStateException(s"unknown transform $other")
    }
  }

  /** Render the partition value a source-column literal (CATALYST-
    * internal representation) falls into — the pruning primitive. None
    * when the transform cannot evaluate the value (pruning is then
    * skipped for that conjunct, never wrong). */
  def renderLiteral(f: PartField, internalValue: Any, dt: DataType,
      zoneId: String): Option[String] =
    try {
      val v = exprFor(f, Literal(internalValue, dt), dt, zoneId)
        .eval(InternalRow.empty)
      Option(v).map(PartitionRender.stored)
    } catch { case _: Exception => None }

  /**
   * Project pushed data predicates on a transform's SOURCE column onto
   * its stored partition values — Iceberg's predicate projection
   * ("Scan Planning" in the spec): `WHERE ts >= X` prunes `day(ts)`
   * partitions, `WHERE id = k` prunes `bucket(id)` partitions, with no
   * partition column ever named in the query. Extraction is
   * conservative: only null-rejecting comparisons whose literal type
   * matches the source column exactly (a bucket hash over a differently
   * -typed literal would be a DIFFERENT hash — wrong pruning), and
   * range bounds only for transforms whose rendering preserves order.
   */
  def constraintsFor(spec: Seq[PartField],
      filters: Seq[Expression], zoneId: String): Seq[PartConstraint] =
    spec.filterNot(_.isIdentity).flatMap { f =>
      var allowed: Option[Set[String]] = None
      var lo: Option[String] = None
      var hi: Option[String] = None
      def addEq(vs: Set[String]): Unit =
        allowed = Some(allowed.map(_ intersect vs).getOrElse(vs))
      def addLo(v: String): Unit =
        lo = Some(lo.filter(_ >= v).getOrElse(v))
      def addHi(v: String): Unit =
        hi = Some(hi.filter(_ <= v).getOrElse(v))
      // literal type must equal the column type — comparisons arrive
      // post-analysis, so Spark has already cast the literal when the
      // query wrote a different type
      def render(a: AttributeReference, v: Any, dt: DataType): Option[String] =
        if (a.name != f.source || v == null || dt != a.dataType) None
        else renderLiteral(f, v, dt, zoneId)
      // strict upper bound: `ts < X` admits no row AT X, so project
      // day(X − 1µs) — this is what lets `ts < next-midnight` exclude
      // that whole day (Iceberg's strict projection)
      def strictHi(v: Any, dt: DataType): Any = dt match {
        case TimestampType => v.asInstanceOf[Long] - 1L
        case DateType      => v.asInstanceOf[Int] - 1
        case _             => v
      }
      filters.foreach {
        case EqualTo(a: AttributeReference, Literal(v, dt)) =>
          render(a, v, dt).foreach(r => addEq(Set(r)))
        case EqualTo(Literal(v, dt), a: AttributeReference) =>
          render(a, v, dt).foreach(r => addEq(Set(r)))
        case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall {
              case Literal(x, _) => x != null
              case _             => false
            } =>
          val rs = vs.map { case Literal(x, dt) => render(a, x, dt) }
          if (rs.forall(_.isDefined)) addEq(rs.flatten.toSet)
        case InSet(a: AttributeReference, vs)
            if a.name == f.source && vs.nonEmpty && !vs.contains(null) =>
          val rs = vs.toSeq.map(v => render(a, v, a.dataType))
          if (rs.forall(_.isDefined)) addEq(rs.flatten.toSet)
        case GreaterThan(a: AttributeReference, Literal(v, dt)) if monotonic(f) =>
          render(a, v, dt).foreach(addLo)
        case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) if monotonic(f) =>
          render(a, v, dt).foreach(addLo)
        case LessThan(a: AttributeReference, Literal(v, dt)) if monotonic(f) =>
          render(a, strictHi(v, dt), dt).foreach(addHi)
        case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) if monotonic(f) =>
          render(a, v, dt).foreach(addHi)
        case GreaterThan(Literal(v, dt), a: AttributeReference) if monotonic(f) =>
          render(a, strictHi(v, dt), dt).foreach(addHi)
        case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) if monotonic(f) =>
          render(a, v, dt).foreach(addHi)
        case LessThan(Literal(v, dt), a: AttributeReference) if monotonic(f) =>
          render(a, v, dt).foreach(addLo)
        case LessThanOrEqual(Literal(v, dt), a: AttributeReference) if monotonic(f) =>
          render(a, v, dt).foreach(addLo)
        case _ => ()
      }
      if (allowed.isEmpty && lo.isEmpty && hi.isEmpty) None
      else Some(PartConstraint(f.name, allowed, lo, hi))
    }
}

/**
 * The ONE rendering of a partition value, as the writer names its
 * directories and the snapshot records it in `partitionValues`: the
 * partition field's transform output ([[PartitionTransform.exprFor]]),
 * with null and the empty string both stored as Hive's default-partition
 * name. Every comparison against stored values — MERGE's touched
 * partitions, static overwrite, delete and runtime pruning — renders its
 * value here.
 */
object PartitionRender {
  val Default = "__HIVE_DEFAULT_PARTITION__"

  /** A rendered transform output (a string, or null) as stored. */
  def stored(rendered: Any): String =
    if (rendered == null || rendered.toString.isEmpty) Default
    else rendered.toString

  /** The stored value of Catalyst-internal value `v` of type `dt`. */
  def apply(v: Any, dt: DataType, zoneId: String): String =
    stored(PartitionTransform.identity(Literal(v, dt), zoneId)
      .eval(InternalRow.empty))
}

/**
 * File-level constraint on one derived partition field. `permits` is
 * conservative: a file with no stored value for the field (pre-spec
 * commit) is kept; the null partition (`__HIVE_DEFAULT_PARTITION__`)
 * is droppable because every extracted comparison is null-rejecting.
 * Range bounds are INCLUSIVE at partition granularity — `ts > X` admits
 * day(X) itself (rows later the same day), so strictness never tightens
 * the partition bound.
 */
final case class PartConstraint(field: String, allowed: Option[Set[String]],
    lo: Option[String], hi: Option[String]) {
  def permits(stored: Option[String]): Boolean = stored match {
    case None => true
    case Some(v) =>
      if (v == "__HIVE_DEFAULT_PARTITION__") false
      else allowed.forall(_.contains(v)) && lo.forall(v >= _) && hi.forall(v <= _)
  }
}

package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import scala.jdk.CollectionConverters._

/**
 * Per-file column statistics for data skipping, harvested from parquet
 * footers at commit time (no extra scan — the writer already computed
 * row-group min/max; we fold them per file and record them in the
 * snapshot).
 *
 * At 100 TB this is what turns a point/range query on a non-partition
 * column into a scan of a handful of files: the driver filters the
 * snapshot's file list against [min, max] intervals before Spark ever
 * lists or opens anything — the same mechanism as Delta/Iceberg file
 * skipping (Armbrust et al., VLDB'20 §4.2).
 *
 * min/max are stored as strings with a type tag so snapshots stay
 * JSON-portable; comparisons at skip time are numeric for numeric tags
 * and lexicographic for strings.
 */
object FileStats {

  /** Footer metadata for one file: exact row count plus min/max stats
    * for scalar orderable columns — top-level AND leaf columns nested
    * under plain STRUCT groups, the latter recorded under their dotted
    * path ("transaction_metadata.merchant_id"). The reference's own
    * schema carries two STRUCT columns whose fields the flagship query
    * filters on (kfs/scripts/update_metadata.py:100-112,
    * kfs/README.md:177-179) — without leaf stats those predicates skip
    * nothing at file or manifest level. One footer read serves both. */
  def collect(file: Path, conf: Configuration): (Long, Map[String, ColStats]) =
    collect(HadoopInputFile.fromPath(file, conf))

  /** The [[DataFile]] record of the file at `status`, from its footer.
    * An unreadable footer leaves the file without stats (row count -1);
    * a fatal error (OOM, interrupt) propagates. */
  def describe(path: String, partitionValues: Map[String, String],
      status: FileStatus, conf: Configuration): DataFile = {
    val (rowCount, stats) =
      try {
        val (rc, st) = collect(HadoopInputFile.fromStatus(status, conf))
        (rc, Some(st))
      } catch { case scala.util.control.NonFatal(_) => (-1L, None) }
    DataFile(path, partitionValues, rowCount = rowCount,
      sizeBytes = status.getLen, stats = stats)
  }

  private def collect(file: HadoopInputFile): (Long, Map[String, ColStats]) = {
    val reader = ParquetFileReader.open(file)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val rowCount = footer.getBlocks.asScala.map(_.getRowCount).sum
      val acc = scala.collection.mutable.Map[String, (Any, Any, Long, String)]()
      // nulls from chunks that record NO value bounds (all-null row
      // groups): folded into the column's nullCount at emit — without
      // this a multi-row-group file with one all-null group recorded
      // nullCount 0 and IS NULL pruning wrongly skipped it (ADVICE r18)
      val extraNulls = scala.collection.mutable.Map[String, Long]()
      // conservative kill switch: any chunk whose statistics cannot be
      // trusted (absent, null-count-less, NaN bounds) drops the whole
      // column for THIS file — the file is then always read for
      // predicates on it, never wrongly skipped
      val poisoned = scala.collection.mutable.Set[String]()
      val topLevel = schema.getFields.asScala.map(_.getName).toSet
      import org.apache.parquet.schema.Type.Repetition.REPEATED
      // The stats key for a chunk path: the bare name for top-level
      // scalars; the dotted path for a leaf whose every enclosing group
      // is a plain non-repeated STRUCT (no LIST/MAP annotation, no
      // repetition — under repetition, num_nulls and per-value bounds
      // count LIST SLOTS, not rows, and GetStructField semantics no
      // longer line up with the chunk's definition levels).
      def statName(parts: Array[String]): Option[String] =
        if (parts.length == 1) Some(parts(0))
        else if (parts.exists(_.contains('.'))) {
          // a FIELD NAME containing a literal dot makes the dotted key
          // ambiguous (struct a with field "b.c" and struct a.b with
          // field c both render "a.b.c") — poison the rendering so no
          // other chunk's stats can serve this column's predicates
          poisoned += parts.mkString("."); None
        } else {
          val structsOk = (1 until parts.length).forall { i =>
            val t = schema.getType(parts.take(i): _*)
            !t.isPrimitive && t.getRepetition != REPEATED &&
              t.getLogicalTypeAnnotation == null
          }
          val leafOk =
            schema.getType(parts: _*).getRepetition != REPEATED
          if (!structsOk || !leafOk) None
          else {
            val dotted = parts.mkString(".")
            if (topLevel.contains(dotted)) {
              // a literal top-level column named "a.b" would alias this
              // struct leaf in the stats map — poison BOTH readings so
              // neither can serve the other's predicate
              poisoned += dotted; None
            } else Some(dotted)
          }
        }
      footer.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { chunk =>
          val pathParts = chunk.getPath.toArray
          statName(pathParts).foreach { name =>
            val stats = chunk.getStatistics
            if (stats == null) poisoned += name
            else if (!stats.hasNonNullValue) {
              // no bounds recorded: PROVABLY all-null (or empty) only
              // when num_nulls accounts for every value in the chunk —
              // otherwise the writer dropped the bounds (oversized
              // binary stats, NaN policies) and the chunk hides VALUES
              // outside other chunks' bounds, so nothing about the
              // column is knowable for this file
              if (stats.isNumNullsSet &&
                  stats.getNumNulls == chunk.getValueCount) {
                extraNulls(name) =
                  extraNulls.getOrElse(name, 0L) + stats.getNumNulls
              } else poisoned += name
            } else if (!stats.isNumNullsSet) {
              // bounds without a null count: IS NULL pruning would
              // trust a number that was never written
              poisoned += name
            } else {
              val primitive =
                schema.getType(pathParts: _*).asPrimitiveType()
              val logical = primitive.getLogicalTypeAnnotation
              // Logical annotations change the VALUE ENCODING of the
              // physical type: a Decimal-annotated INT64 stores unscaled
              // units, a Timestamp-annotated INT64 stores micros/millis.
              // Recording those as plain longs would make readWhere
              // compare unscaled file stats against scaled query bounds
              // and silently skip matching files — so only plain ints,
              // Date, floating point, and UTF8 strings carry stats;
              // anything else is conservatively left stat-less (= the
              // file is always read).
              val tagAndVals: Option[(String, Any, Any)] =
                (primitive.getPrimitiveTypeName, logical) match {
                  case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
                    Some(("date",
                      stats.genericGetMin.asInstanceOf[Number].intValue(),
                      stats.genericGetMax.asInstanceOf[Number].intValue()))
                  case (INT32 | INT64, l)
                      if l == null || l.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                    Some(("long",
                      stats.genericGetMin.asInstanceOf[Number].longValue(),
                      stats.genericGetMax.asInstanceOf[Number].longValue()))
                  case (DOUBLE | FLOAT, _) =>
                    val mnD = stats.genericGetMin.asInstanceOf[Number].doubleValue()
                    val mxD = stats.genericGetMax.asInstanceOf[Number].doubleValue()
                    if (mnD.isNaN || mxD.isNaN) { poisoned += name; None }
                    else
                      // widen signed zeros: a writer may record one zero
                      // sign while the file holds the other; Double
                      // .compareTo at probe time distinguishes them, so
                      // an exact -0.0 max would wrongly exclude +0.0
                      Some(("double",
                        if (mnD == 0.0d) -0.0d else mnD,
                        if (mxD == 0.0d) 0.0d else mxD))
                  case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                    Some(("string",
                      stats.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                      stats.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
                  case _ => None
                }
              tagAndVals.foreach { case (tag, mn, mx) =>
                val merged = acc.get(name) match {
                  case None => (mn, mx, stats.getNumNulls, tag)
                  case Some((omn, omx, on, t)) =>
                    (minOf(t, omn, mn), maxOf(t, omx, mx),
                      on + stats.getNumNulls, t)
                }
                acc(name) = merged
              }
            }
          }
        }
      }
      (rowCount, acc.iterator
        .filterNot { case (name, _) => poisoned.contains(name) }
        .map { case (name, (mn, mx, nulls, tag)) =>
          name -> ColStats(tag, mn.toString, mx.toString,
            nulls + extraNulls.getOrElse(name, 0L))
        }.toMap)
    } finally reader.close()
  }

  private def minOf(tag: String, a: Any, b: Any): Any = tag match {
    case "double" => math.min(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "string" =>
      if (a.asInstanceOf[String] <= b.asInstanceOf[String]) a else b
    case "date" => math.min(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case _ => math.min(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }
  private def maxOf(tag: String, a: Any, b: Any): Any = tag match {
    case "double" => math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "string" =>
      if (a.asInstanceOf[String] >= b.asInstanceOf[String]) a else b
    case "date" => math.max(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case _ => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** Can a file with these stats contain a value in [lo, hi] (either
    * bound optional, inclusive)? Unknown columns → must read (true).
    * NaN is unprovable either way: a NaN probe bound can hit rows a
    * NaN-ignoring writer left outside its min/max (Spark's NaN = NaN
    * is TRUE), and a stored NaN bound (legacy stats collected before
    * NaN poisoning) orders above everything under Double.compareTo —
    * both cases answer "may contain" instead of skipping. */
  def mayContainRange(stats: Map[String, ColStats], column: String,
      lo: Option[Any], hi: Option[Any]): Boolean =
    stats.get(column) match {
      case None => true
      case Some(cs) =>
        def nanProbe(v: Any): Boolean = v match {
          case d: java.lang.Double => d.isNaN
          case f: java.lang.Float  => f.isNaN
          case _ => false
        }
        // the probe guard is tag-INDEPENDENT: a NaN literal can reach
        // a "long"-tagged column too (int files under a widened double
        // schema), where the exact-decimal compare would throw on
        // BigDecimal(NaN) at plan time
        if (lo.exists(nanProbe) || hi.exists(nanProbe) ||
            (cs.tag == "double" &&
             (cs.min == "NaN" || cs.max == "NaN"))) true
        else {
          val loOk = hi.forall(h => compare(cs.tag, cs.min, h) <= 0)
          val hiOk = lo.forall(l => compare(cs.tag, cs.max, l) >= 0)
          loOk && hiOk
        }
    }

  private def compare(tag: String, stored: String, v: Any): Int = tag match {
    case "double" => stored.toDouble.compareTo(toDouble(v))
    case "string" => stored.compareTo(v.toString)
    case "date" => stored.toInt.compareTo(toDays(v))
    case _ =>
      // integral bounds compare exactly as longs — routing them through
      // Double would lose precision above 2^53 and could skip a file
      // whose true max exceeds the rounded bound (e.g. 2^62-scale ids);
      // fractional bounds compare via BigDecimal (exact for any double)
      v match {
        case n @ (_: java.lang.Long | _: java.lang.Integer |
                  _: java.lang.Short | _: java.lang.Byte) =>
          java.lang.Long.compare(stored.toLong, n.asInstanceOf[Number].longValue())
        case b: BigInt =>
          BigDecimal(stored).compare(BigDecimal(b))
        case b: java.math.BigInteger =>
          new java.math.BigDecimal(stored).compareTo(new java.math.BigDecimal(b))
        // decimal bounds compare exactly (a widened int→decimal column
        // probes "long"-tagged stats from pre-widening files; routing
        // through Double could false-skip above 2^53)
        case d: java.math.BigDecimal =>
          new java.math.BigDecimal(stored).compareTo(d)
        case d: BigDecimal =>
          BigDecimal(stored).compare(d)
        case d: org.apache.spark.sql.types.Decimal =>
          BigDecimal(stored).compare(d.toBigDecimal)
        case other =>
          // new BigDecimal(double) is the exact binary value, so no
          // double-rounding sneaks in on either side
          new java.math.BigDecimal(stored)
            .compareTo(new java.math.BigDecimal(toDouble(other)))
      }
  }

  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toDouble
    case other => other.toString.toDouble
  }

  private def toDays(v: Any): Int = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case s: String => java.time.LocalDate.parse(s).toEpochDay.toInt
    case n: Number => n.intValue()
  }
}

/** JSON-portable per-column file statistics. */
final case class ColStats(tag: String, min: String, max: String, nullCount: Long)

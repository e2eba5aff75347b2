package graft.output

import java.sql.{Date, Timestamp}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.types._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.core.FlatTable

/** Driver-side table spec emitter (reference TableSpecBuilder,
  * output/html/tablespec.py:14-265): reads the (presentation-sized)
  * FlatTable's collected rows ([[FlatTable.presented]], shared with the
  * xlsx writer) and produces the JSON shape consumed by the
  * `flatbread-wc-table-display` web component:
  * `{values, columns: {values,names,dtypes,formatOptions},
  *   index: {values,names,dtypes,formatOptions}}`.
  * This is the one deliberately non-distributed step (SURVEY.md §3 E3).
  */
object TableSpec {

  private val mapper = new ObjectMapper()

  /** dtype simplification, mirroring config.defaults.json:54-71. */
  def simpleDtype(dt: DataType): String = dt match {
    case StringType                       => "str"
    case BooleanType                      => "bool"
    case _: DecimalType                   => "float"
    case DoubleType | FloatType           => "float"
    case ByteType | ShortType | IntegerType | LongType => "int"
    case TimestampType | DateType         => "datetime"
    // intervals render as strings (reference tablespec.py:261-262 maps
    // pd.Interval -> str(interval))
    case _: DayTimeIntervalType | _: YearMonthIntervalType | CalendarIntervalType => "str"
    case _                                => "str"
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** Scalar JSON serialization with the reference's coercions
    * (tablespec.py:243-265): timestamps ISO-8601 with date-only collapsed,
    * decimals to float, NaN/NA to null. */
  private def putValue(arr: ArrayNode, v: Any): Unit = v match {
    case null                  => arr.addNull()
    case d: Double if d.isNaN  => arr.addNull()
    case d: Double             => arr.add(d)
    case f: Float              => if (f.isNaN) arr.addNull() else arr.add(f.toDouble)
    case i: Int                => arr.add(i)
    case l: Long               => arr.add(l)
    case s: Short              => arr.add(s.toInt)
    case b: Byte               => arr.add(b.toInt)
    case b: Boolean            => arr.add(b)
    case d: java.math.BigDecimal => arr.add(d.doubleValue())
    case d: Date               => arr.add(d.toString)
    // interval scalars -> ISO-8601 strings (Duration "PT26H3M", Period "P1Y2M");
    // CalendarInterval uses its SQL-ish "1 days 2 hours" rendering
    case d: java.time.Duration => arr.add(d.toString)
    case p: java.time.Period   => arr.add(p.toString)
    case i: org.apache.spark.unsafe.types.CalendarInterval => arr.add(i.toString)
    case t: Timestamp          =>
      val ldt = t.toLocalDateTime
      if (ldt.toLocalTime == java.time.LocalTime.MIDNIGHT)
        arr.add(ldt.toLocalDate.toString)
      else arr.add(ldt.format(tsFmt))
    case other                 => arr.add(other.toString)
  }

  /** Build the spec from a FlatTable (canonical order, truncated). */
  def build(ft: FlatTable, maxRows: Int = 1000,
            formats: Map[String, Map[String, Any]] = Map.empty): ObjectNode = {
    val meta = ft.meta
    val schema = ft.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val rows = ft.presented(maxRows)

    val root = mapper.createObjectNode()

    val values = root.putArray("values")
    rows.foreach { r =>
      val arr = values.addArray()
      meta.valueCols.foreach { c =>
        putValue(arr, r.get(r.fieldIndex(c)))
      }
    }

    val columns = root.putObject("columns")
    val colVals = columns.putArray("values")
    meta.columns.foreach { ck =>
      if (meta.nColLevels == 1) colVals.add(ck.key.last)
      else {
        val k = colVals.addArray()
        ck.key.foreach(k.add)
      }
    }
    val colNames = columns.putArray("names")
    meta.colNames.foreach(n => if (n.isDefined) colNames.add(n.get) else colNames.addNull())
    val colDtypes = columns.putArray("dtypes")
    meta.valueCols.foreach(c => colDtypes.add(simpleDtype(schema(c))))
    // one entry per column, aligned with `values` (reference
    // tablespec.py:71-73 emits a list, not a keyed object)
    val colFmts = columns.putArray("formatOptions")
    meta.columns.foreach { ck =>
      FormatResolver.resolve(ck.key, formats.get(ck.physical)) match {
        case Some(opts) => putOptions(colFmts.addObject(), opts)
        case None       => colFmts.addNull()
      }
    }

    val index = root.putObject("index")
    val idxVals = index.putArray("values")
    rows.foreach { r =>
      if (meta.nLevels == 1)
        putValue(idxVals.addArray(), r.get(r.fieldIndex(meta.indexLevels.head)))
      else {
        val k = idxVals.addArray()
        meta.indexLevels.foreach(l => putValue(k, r.get(r.fieldIndex(l))))
      }
    }
    val idxNames = index.putArray("names")
    meta.indexLevels.foreach(idxNames.add)
    val idxDtypes = index.putArray("dtypes")
    meta.indexLevels.foreach(l => idxDtypes.add(simpleDtype(schema(l))))
    // per-level format options (reference tablespec.py:81-83)
    val idxFmts = index.putArray("formatOptions")
    meta.indexLevels.foreach { l =>
      FormatResolver.resolve(Seq(l), formats.get(l)) match {
        case Some(opts) => putOptions(idxFmts.addObject(), opts)
        case None       => idxFmts.addNull()
      }
    }

    root
  }

  private[output] def putOptions(o: ObjectNode, opts: Map[String, Any]): Unit =
    opts.foreach {
      case (k, v: Int)     => o.put(k, v)
      case (k, v: Double)  => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, v)          => o.put(k, v.toString)
    }

  def toJson(ft: FlatTable, maxRows: Int = 1000,
             formats: Map[String, Map[String, Any]] = Map.empty): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(build(ft, maxRows, formats))
}

/** Per-column display-format resolution (reference output/formats.py:59-84 +
  * tablespec.py:85-90): explicit format first, then "smart" substring
  * detection of an output-format label in the lowercased column text (`pct` →
  * percent style, `diff` → signed). No dtype fallback — a column with no
  * explicit or smart format renders with the component's locale defaults,
  * exactly like the reference. */
object FormatResolver {

  def resolve(keyParts: Seq[String],
              explicit: Option[Map[String, Any]]): Option[Map[String, Any]] =
    explicit.orElse(Formats.smartFor(keyParts).map(_.htmlOptions))
}

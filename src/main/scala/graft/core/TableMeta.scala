package graft.core

/** Axis algebra mirroring the reference's `0|'index'`, `1|'columns'`, `2|'both'`
  * (reference: types.py:3, axes.py:29-54).
  */
sealed abstract class Axis(val code: Int)
object Axis {
  case object Rows extends Axis(0)
  case object Cols extends Axis(1)
  case object Both extends Axis(2)
  def of(i: Int): Axis = i match {
    case 0 => Rows
    case 1 => Cols
    case 2 => Both
    case _ => throw new IllegalArgumentException(s"axis must be 0, 1 or 2; got $i")
  }
  def of(s: String): Axis = s match {
    case "index" | "rows" => Rows
    case "columns"        => Cols
    case "both"           => Both
    case other            => throw new IllegalArgumentException(s"unknown axis '$other'")
  }
}

/** Level addressing mirroring the reference's `Level = int | str`
  * (types.py:4, axes.py:11-26): by position (negatives count from the end)
  * or by level name. Implicit conversions keep call sites literal:
  * `addSubagg("sum", level = 0)` and `addSubagg("sum", level = "region")`
  * both work. */
sealed trait Level
object Level {
  final case class Pos(i: Int) extends Level
  final case class Named(name: String) extends Level
  import scala.language.implicitConversions
  implicit def fromInt(i: Int): Level = Pos(i)
  implicit def fromName(s: String): Level = Named(s)
}

/** One *value* column of a [[FlatTable]]: its flat physical name in the Spark
  * schema plus its hierarchical key on the column axis (the pandas column
  * MultiIndex has no Spark analogue, so the hierarchy lives here as metadata;
  * see SURVEY.md §1.3 and reference tooling.py:31-43).
  */
final case class ColKey(physical: String, key: Seq[String]) {
  def leaf: String = key.last
}

/** A label introduced by a margin-producing transform, with the transform kind
  * that introduced it (reference: attrs['flatbread']['labels'], chaining.py:73-82).
  * Order of introduction is significant: it drives margin placement in the
  * canonical row order (reference keeps physical append order; axes.py:118-125).
  */
final case class MarginLabel(kind: String, label: String)

/** One key of an explicit row order carried in [[TableMeta.rowOrder]]. */
final case class SortKey(column: String, ascending: Boolean = true)

/** Side-channel metadata carried alongside the wrapped DataFrame — the Spark
  * re-expression of `df.attrs['flatbread']` + the index/column structure that
  * pandas keeps on its axes (SURVEY.md §1.3).
  *
  * @param indexLevels ordered names of the columns that form the row index
  * @param columns     ordered value columns with their column-axis hierarchy
  * @param colNames    names of the column-axis levels (pandas `columns.names`)
  * @param marginLabels labels introduced by margin ops, in introduction order
  * @param rowOrder    optional explicit row order (e.g. value_counts' pandas
  *                    count-descending contract) that overrides the canonical
  *                    index sort in [[FlatTable.ordered]]; margin rows stay
  *                    pinned last regardless
  * @param pctBase     the `base` the table's percentage values were computed
  *                    with (1 = fractions, the reference default; 100 =
  *                    0–100-scaled), recorded by the percentage transforms so
  *                    presentation sinks can pick a format matching the DATA
  *                    (Excel's true-percent code re-scales by 100 and is only
  *                    correct for fractions); None = no percentage op ran
  */
final case class TableMeta(
    indexLevels: Seq[String],
    columns: Seq[ColKey],
    colNames: Seq[Option[String]] = Seq(None),
    marginLabels: Seq[MarginLabel] = Nil,
    rowOrder: Seq[SortKey] = Nil,
    pctBase: Option[Int] = None
) {
  require(indexLevels.nonEmpty, "a FlatTable needs at least one index level")

  def valueCols: Seq[String] = columns.map(_.physical)
  def nLevels: Int = indexLevels.size
  def nColLevels: Int = columns.map(_.key.size).foldLeft(1)(math.max)

  /** Distinct margin labels in first-introduction order. */
  def marginLabelSeq: Seq[String] = marginLabels.map(_.label).distinct

  /** Labels introduced by the given transform kinds. */
  def labelsOf(kinds: String*): Seq[String] =
    marginLabels.filter(m => kinds.contains(m.kind)).map(_.label).distinct

  def withMargin(kind: String, label: String): TableMeta =
    copy(marginLabels = marginLabels :+ MarginLabel(kind, label))

  /** Resolve a level given by position (negatives allowed, pandas-style) —
    * reference axes.py:11-26. */
  def resolveLevel(level: Int): Int = {
    val n = nLevels
    val i = if (level < 0) level + n else level
    require(i >= 0 && i < n, s"level $level out of range for $n index levels")
    i
  }
  def resolveLevel(name: String): Int = {
    val i = indexLevels.indexOf(name)
    require(i >= 0, s"no index level named '$name' (have ${indexLevels.mkString(", ")})")
    i
  }
  def resolveLevel(l: Level): Int = l match {
    case Level.Pos(i)      => resolveLevel(i)
    case Level.Named(name) => resolveLevel(name)
  }

  /** Column-axis margin test: a value column is a margin/derived column if any
    * part of its hierarchical key matches a tracked label by equality or string
    * prefix (mirror of the row-side rule, chaining.py:32-47). */
  def colIsMargin(ck: ColKey, extraIgnore: Seq[String] = Nil): Boolean = {
    val labels = (marginLabelSeq ++ extraIgnore).distinct
    ck.key.exists(part => labels.exists(l => part == l || part.startsWith(l)))
  }

  /** Value columns that are plain data (not margins/pct/derived). */
  def dataColumns(extraIgnore: Seq[String] = Nil): Seq[ColKey] =
    columns.filterNot(ck => colIsMargin(ck, extraIgnore))
}

/** JSON (de)serialization of [[TableMeta]] for persistence in
  * `StructField.metadata` (SURVEY §1.3): a written-then-reread table keeps
  * its margin tracking, column hierarchy, and explicit row order instead of
  * degrading to a plain DataFrame. Uses the Jackson shipped with Spark. */
object TableMetaCodec {

  /** StructField.metadata key carrying the serialized TableMeta. */
  val Key = "graft.flatbread"

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def toJson(meta: TableMeta): String = {
    val m = mapper
    val root = m.createObjectNode()
    val il = root.putArray("indexLevels")
    meta.indexLevels.foreach(il.add)
    val cols = root.putArray("columns")
    meta.columns.foreach { ck =>
      val c = cols.addObject()
      c.put("physical", ck.physical)
      val k = c.putArray("key")
      ck.key.foreach(k.add)
    }
    val cn = root.putArray("colNames")
    meta.colNames.foreach {
      case Some(n) => cn.add(n)
      case None    => cn.addNull()
    }
    val ml = root.putArray("marginLabels")
    meta.marginLabels.foreach { l =>
      val o = ml.addObject()
      o.put("kind", l.kind)
      o.put("label", l.label)
    }
    val ro = root.putArray("rowOrder")
    meta.rowOrder.foreach { k =>
      val o = ro.addObject()
      o.put("column", k.column)
      o.put("ascending", k.ascending)
    }
    meta.pctBase.foreach(b => root.put("pctBase", b))
    m.writeValueAsString(root)
  }

  def fromJson(json: String): TableMeta = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(json)
    def arr(name: String) = root.get(name).elements().asScala.toSeq
    TableMeta(
      indexLevels = arr("indexLevels").map(_.asText()),
      columns = arr("columns").map(c => ColKey(c.get("physical").asText(),
        c.get("key").elements().asScala.map(_.asText()).toSeq)),
      colNames = arr("colNames").map(n => if (n.isNull) None else Some(n.asText())),
      marginLabels = arr("marginLabels").map(l =>
        MarginLabel(l.get("kind").asText(), l.get("label").asText())),
      rowOrder = arr("rowOrder").map(k =>
        SortKey(k.get("column").asText(), k.get("ascending").asBoolean())),
      // absent in metadata written before the field existed -> None, and
      // sinks fall back to the config base. For tables persisted in the
      // pre-field era (when the engine default was 100) set `"base": 100`
      // in .flatbread.json so their values format correctly — the recorded
      // base of a legacy file is not recoverable from the data.
      pctBase = Option(root.get("pctBase")).map(_.asInt())
    )
  }
}

package graft.output

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.core.FlatTable

/** Excel export (reference `export_excel`, output/excel/excel.py:100-209 —
  * note the reference's own implementation is broken, SURVEY.md A22; this one
  * re-expresses the intended semantics). Zero-dependency XLSX writer: an
  * .xlsx is a zip of OOXML parts, emitted with inline strings via
  * `java.util.zip` — no POI needed.
  *
  * Formatting follows the reference's auto + override model
  * (excel.py:147-155): number formats auto-detected from the smart labels
  * of [[Formats.outputFormats]], then merged with the user's
  * `numberFormats` map (user wins); border accents are derived from the
  * table's margin labels and merged with the user's `borderSpecs`
  * (`"rows"` / `"columns"` → labels). Styles (number formats, bold, border
  * combinations) are emitted dynamically — only the combinations actually
  * used land in styles.xml.
  */
object Excel {

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private val contentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
      |</Types>""".stripMargin

  private val rootRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin

  private def workbook(sheetName: String) =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
       |<sheets><sheet name="${xmlEscape(sheetName)}" sheetId="1" r:id="rId1"/></sheets>
       |</workbook>""".stripMargin

  private val workbookRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin

  /** One cell-style combination; deduplicated into cellXfs on demand. */
  private case class Sty(fmtCode: Option[String], bold: Boolean,
                         top: Boolean, left: Boolean)

  private final class StyleBook {
    private val xfs = mutable.LinkedHashMap[Sty, Int]()
    xfs += Sty(None, bold = false, top = false, left = false) -> 0 // plain
    xfs += Sty(None, bold = true, top = false, left = false) -> 1  // header

    def id(s: Sty): Int = xfs.getOrElseUpdate(s, xfs.size)

    /** styles.xml with only the used combinations. */
    def xml: String = {
      val builtin = Map("General" -> 0, "0.00" -> 2)
      val customs = xfs.keys.flatMap(_.fmtCode).filterNot(builtin.contains)
        .toSeq.distinct
      val fmtId: Map[String, Int] =
        builtin ++ customs.zipWithIndex.map { case (c, i) => c -> (164 + i) }
      val numFmts =
        if (customs.isEmpty) ""
        else customs.map(c =>
          s"""<numFmt numFmtId="${fmtId(c)}" formatCode="${xmlEscape(c)}"/>""")
          .mkString(s"""<numFmts count="${customs.size}">""", "", "</numFmts>")
      // borders: index by (top, left)
      val borderCombos = Seq((false, false), (true, false), (false, true), (true, true))
      val borderId = borderCombos.zipWithIndex.toMap
      val borders = borderCombos.map { case (t, l) =>
        "<border>" +
          (if (l) """<left style="thin"/>""" else "") +
          (if (t) """<top style="thin"/>""" else "") +
          "</border>"
      }.mkString(s"""<borders count="${borderCombos.size}">""", "", "</borders>")
      val cellXfs = xfs.keys.map { s =>
        val nf = s.fmtCode.map(fmtId).getOrElse(0)
        val b = borderId((s.top, s.left))
        val f = if (s.bold) 1 else 0
        val applies =
          (if (nf != 0) """ applyNumberFormat="1"""" else "") +
            (if (b != 0) """ applyBorder="1"""" else "")
        s"""<xf numFmtId="$nf" fontId="$f" borderId="$b"$applies/>"""
      }.mkString(s"""<cellXfs count="${xfs.size}">""", "", "</cellXfs>")
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |$numFmts
         |<fonts count="2"><font><sz val="11"/></font><font><b/><sz val="11"/></font></fonts>
         |<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
         |$borders
         |<cellStyleXfs count="1"><xf/></cellStyleXfs>
         |$cellXfs
         |</styleSheet>""".stripMargin
    }
  }

  private def colRef(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def cell(r: Int, c: Int, v: Any, style: Int): String = {
    val ref = s"${colRef(c)}${r + 1}"
    v match {
      case null => ""
      case n: Number =>
        s"""<c r="$ref" s="$style"><v>$n</v></c>"""
      case b: Boolean =>
        s"""<c r="$ref" s="$style" t="b"><v>${if (b) 1 else 0}</v></c>"""
      case other =>
        s"""<c r="$ref" s="$style" t="inlineStr"><is><t xml:space="preserve">${xmlEscape(other.toString)}</t></is></c>"""
    }
  }

  /** `_matches_label` (excel.py:90-98): any key level equals the label. */
  private def matches(keyParts: Seq[String], label: String): Boolean =
    keyParts.contains(label)

  /** Write the FlatTable as an .xlsx.
    *
    * @param title         optional title written bold in row 1, merged across
    *                      the table width, with header + data shifted down one
    *                      row (reference excel.py:104,130)
    * @param numberFormats user overrides: column label → Excel format code,
    *                      merged OVER the auto-detected smart formats
    *                      (excel.py:151-152)
    * @param borderSpecs   user border specs: `"rows"`/`"columns"` → labels
    *                      whose matching rows (top border) / columns (left
    *                      border) get accents, merged with the auto margin
    *                      borders (excel.py:153-155)
    */
  def write(ft: FlatTable, path: String, sheetName: String = "flatbread",
            title: Option[String] = None,
            maxRows: Int = 100000,
            numberFormats: Map[String, String] = Map.empty,
            borderSpecs: Map[String, Seq[String]] = Map.empty): Unit = {
    val meta = ft.meta
    val schema = ft.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val rows = ft.presented(maxRows)
    val marginLabels = meta.marginLabelSeq

    // auto number formats from smart labels (excel.py:11-45). Excel's true
    // percent code ("0.0%") RE-SCALES by 100 at display — correct only for
    // fraction data (base = 1, the reference default). For 0-100-scaled data
    // the code becomes a literal-%. The scale is read from the TABLE's
    // recorded pctBase (set by the percentage transforms per call), falling
    // back to config for tables whose pct columns were produced elsewhere.
    val effectiveBase = meta.pctBase
      .getOrElse(graft.config.FlatbreadConf.current.pctBase)
    def excelCode(d: FormatDef): Option[String] =
      d.excelFormat.map { code =>
        // Excel's true-percent code is only correct for base = 1 (fractions):
        // it re-scales by 100 at display. ANY other recorded base (100, or a
        // custom per-call base like 1000) means the data is already scaled,
        // so the % becomes a literal suffix
        if (d.htmlOptions.get("style").contains("percent") && effectiveBase != 1)
          code.replace("%", "\"%\"")
        else code
      }
    def autoFormat(ck: graft.core.ColKey): Option[String] =
      Formats.smartFor(ck.key).flatMap(excelCode)
    def userFormat(ck: graft.core.ColKey): Option[String] =
      numberFormats.collectFirst {
        case (label, code) if matches(ck.key, label) || ck.physical == label => code
      }
    def dtypeFormat(physical: String): Option[String] = schema(physical) match {
      case DoubleType | FloatType | _: DecimalType => Some("0.00")
      case _                                       => None
    }
    val colFormat: Map[String, Option[String]] = meta.columns.map { ck =>
      ck.physical ->
        userFormat(ck).orElse(autoFormat(ck)).orElse(dtypeFormat(ck.physical))
    }.toMap

    // row-level formats: the reference also matches number-format labels
    // against INDEX values (excel.py:23-28) — a row labeled e.g. "pct" gets
    // the percent format across its value cells, overriding column formats
    def rowFormat(indexValues: Seq[String]): Option[String] =
      indexValues.flatMap { v =>
        numberFormats.get(v).orElse(
          Formats.outputFormats
            .find(_.smartLabels.exists(l => v == l || v.startsWith(l)))
            .flatMap(excelCode))
      }.headOption

    // border labels: auto margins + user specs
    val rowBorderLabels = marginLabels ++ borderSpecs.getOrElse("rows", Nil)
    val colBorderLabels = marginLabels ++ borderSpecs.getOrElse("columns", Nil)
    val leftBorderCols: Set[String] = meta.columns.collect {
      case ck if colBorderLabels.exists(l => matches(ck.key, l) ||
        ck.key.exists(_.startsWith(l))) => ck.physical
    }.toSet

    val styles = new StyleBook
    val nCols = meta.nLevels + meta.valueCols.size
    // title row shifts header + data down one row (excel.py:104,130)
    val off = if (title.isDefined) 1 else 0
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    sb ++= "\n<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>"
    title.foreach { t =>
      sb ++= "<row r=\"1\">"
      sb ++= cell(0, 0, t, 1) // style 1 = bold header font
      sb ++= "</row>"
    }
    // header
    sb ++= s"""<row r="${off + 1}">"""
    (meta.indexLevels ++ meta.columns.map(_.key.mkString(" / ")))
      .zipWithIndex.foreach { case (h, c) => sb ++= cell(off, c, h, 1) }
    sb ++= "</row>"
    rows.zipWithIndex.foreach { case (row, i) =>
      val idxVals = meta.indexLevels.flatMap(l =>
        Option(row.get(row.fieldIndex(l))).map(_.toString))
      val isMargin = idxVals.exists(v => rowBorderLabels.exists(v.startsWith))
      val rowFmt = rowFormat(idxVals)
      sb ++= s"""<row r="${off + i + 2}">"""
      meta.indexLevels.zipWithIndex.foreach { case (l, c) =>
        val sty = Sty(None, bold = isMargin, top = isMargin, left = false)
        sb ++= cell(off + i + 1, c, row.get(row.fieldIndex(l)), styles.id(sty))
      }
      meta.valueCols.zipWithIndex.foreach { case (vc, j) =>
        val sty = Sty(rowFmt.orElse(colFormat(vc)), bold = isMargin,
          top = isMargin, left = leftBorderCols.contains(vc))
        sb ++= cell(off + i + 1, meta.nLevels + j, row.get(row.fieldIndex(vc)),
          styles.id(sty))
      }
      sb ++= "</row>"
    }
    sb ++= "</sheetData>"
    // the title spans the full table width
    if (title.isDefined)
      sb ++= s"""<mergeCells count="1"><mergeCell ref="A1:${colRef(nCols - 1)}1"/></mergeCells>"""
    sb ++= "</worksheet>"

    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook(sheetName))
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/styles.xml", styles.xml)
      put("xl/worksheets/sheet1.xml", sb.toString)
    } finally zos.close()
  }
}

package graft

import java.nio.file.Files
import java.util.zip.ZipFile

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Axis
import graft.output.{DisplayConfig, Excel, FormatDef, FormatResolver, Formats, Html, TableSpec}
import graft.testing.MakeTestDf
import graft.TestSpark.jobsOf

/** Presentation sinks: table-spec JSON shape (golden structure), smart format
  * resolution, the fluent display surface, HTML embedding, the
  * zero-dependency XLSX writer with user format/border overrides, and the
  * one rendered-rows snapshot per table that all three sinks share.
  */
class OutputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  private def table = MakeTestDf(spark).addTotals(Axis.Both)
    .addPercentages(Axis.Cols, ndigits = 1)

  /** The data rows of sheet 1 of an .xlsx (header row skipped), each as
    * cell text by column index; a null value writes no cell. */
  private def xlsxRows(path: String, nCols: Int): Seq[Seq[Option[String]]] = {
    val zip = new ZipFile(path)
    val sheet = try new String(zip.getInputStream(
      zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
      finally zip.close()
    val rowRx = "(?s)<row r=\"\\d+\">(.*?)</row>".r
    val cellRx = "(?s)<c r=\"([A-Z]+)\\d+\"[^>]*>(.*?)</c>".r
    val textRx = "(?s)<(?:v|t[^>]*)>(.*?)</(?:v|t)>".r
    rowRx.findAllMatchIn(sheet).drop(1).map { row =>
      val cells = cellRx.findAllMatchIn(row.group(1)).map { c =>
        val col = c.group(1).foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
        col -> textRx.findFirstMatchIn(c.group(2)).get.group(1)
      }.toMap
      (0 until nCols).map(cells.get)
    }.toSeq
  }

  /** First-level index labels of a table spec, in row order. */
  private def indexLabels(json: String): Seq[String] = {
    val idx = mapper.readTree(json).get("index").get("values")
    (0 until idx.size()).map(i => idx.get(i).get(0).asText())
  }

  private def text(n: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    if (n.isNull) None else Some(n.asText())

  test("one render: getJson + html + xlsx run the jobs of getJson alone") {
    val path = Files.createTempFile("flatbread", ".xlsx").toString
    jobsOf(table.display.getJson()) // warm: first-use planning and classes
    val once = jobsOf(table.display.getJson())
    val all = jobsOf {
      val ft = table // 6 rows, inside both the display and the xlsx limit
      ft.display.getJson()
      ft.display.html()
      Excel.write(ft, path)
    }
    assert(once > 0)
    assert(all == once, s"three sinks ran $all jobs, one sink $once")
  }

  test("snapshot reuse: a larger maxRows collects again and returns every row, a smaller one reuses") {
    val ft = MakeTestDf(spark, nRows = 12)
    val everyRow = ft.ordered.collect().map(_.getString(0)).toSeq
    def rendered(n: Int) = indexLabels(TableSpec.toJson(ft, n))
    assert(jobsOf(assert(rendered(5) == everyRow.take(5))) > 0)
    // 20 > 5: the 5-row snapshot cannot answer, so it collects again
    assert(jobsOf(assert(rendered(20) == everyRow)) > 0)
    // 3 <= 20, and 100 > 20 but the 20-row request held all 12 rows
    assert(jobsOf(assert(rendered(3) == everyRow.take(3))) == 0)
    assert(jobsOf(assert(rendered(100) == everyRow)) == 0)
  }

  test("snapshot is per instance: addTotals on a rendered table renders its margin row") {
    val ft = MakeTestDf(spark)
    val before = indexLabels(ft.display.getJson())
    assert(!before.contains("Totals"))
    val withTotals = indexLabels(ft.addTotals(Axis.Rows).display.getJson())
    assert(withTotals == before :+ "Totals")
    assert(indexLabels(ft.display.getJson()) == before)
  }

  test("the JSON spec and the xlsx data rows agree row for row") {
    val ft = MakeTestDf(spark, nRows = 8, idxDupes = Seq(2, 1))
      .addSubtotals(Axis.Rows, Seq(0)).addTotals(Axis.Rows)
    val spec = mapper.readTree(ft.display.setMaxRows(100).getJson())
    val path = Files.createTempFile("flatbread", ".xlsx").toString
    Excel.write(ft, path)
    val nLevels = ft.meta.nLevels
    val sheet = xlsxRows(path, nLevels + ft.meta.valueCols.size)
    val idx = spec.get("index").get("values")
    val vals = spec.get("values")
    assert(idx.size() == 8 + 4 + 1 && sheet.size == idx.size())
    sheet.zipWithIndex.foreach { case (row, i) =>
      val specRow = (0 until nLevels).map(j => text(idx.get(i).get(j))) ++
        (0 until vals.get(i).size()).map(j => text(vals.get(i).get(j)))
      assert(row == specRow, s"row $i")
    }
  }

  test("spec JSON has the reference shape: values/columns/index with names+dtypes+formatOptions (tablespec.py:22-37)") {
    val spec = mapper.readTree(TableSpec.toJson(table))
    assert(spec.has("values") && spec.has("columns") && spec.has("index"))
    assert(spec.get("values").size() == 6) // 5 data + totals row
    assert(spec.get("columns").get("values").size() == 10) // (n,pct) x 5
    // two column levels -> each column key is a 2-element array
    assert(spec.get("columns").get("values").get(0).size() == 2)
    assert(spec.get("index").get("names").get(0).asText() == "R0")
    val dtypes = (0 until spec.get("columns").get("dtypes").size())
      .map(spec.get("columns").get("dtypes").get(_).asText()).toSet
    assert(dtypes == Set("int", "float")) // n block int, pct block float
    // formatOptions are LISTS aligned with columns / index levels
    // (tablespec.py:71-73, 81-83)
    val colFmts = spec.get("columns").get("formatOptions")
    assert(colFmts.isArray && colFmts.size() == 10)
    val idxFmts = spec.get("index").get("formatOptions")
    assert(idxFmts.isArray && idxFmts.size() == 1 && idxFmts.get(0).isNull)
  }

  test("NaN and margin serialization: margin row present, nulls preserved") {
    import spark.implicits._
    val ft = graft.core.FlatTable(
      Seq(("r0", Some(1.0)), ("r1", None)).toDF("R0", "c0"), 1)
      .addTotals(Axis.Rows)
    val spec = mapper.readTree(TableSpec.toJson(ft))
    assert(spec.get("values").get(1).get(0).isNull)
    assert(spec.get("index").get("values").get(2).get(0).asText() == "Totals")
  }

  test("smart format resolution mirrors output_formats (config.defaults.json:38-66)") {
    // pct smart label -> percentage output format
    val pct = FormatResolver.resolve(Seq("pct", "c0"), None)
    assert(pct.exists(_("style") == "percent"))
    assert(pct.exists(_("maximumFractionDigits") == 21))
    // diff smart label -> signed integer
    assert(FormatResolver.resolve(Seq("diff"), None).exists(_("signDisplay") == "always"))
    // no smart hit, no explicit -> None (component locale defaults apply)
    assert(FormatResolver.resolve(Seq("plain"), None).isEmpty)
    // explicit beats smart
    assert(FormatResolver.resolve(Seq("pct"),
      Some(Map("style" -> "decimal"))).exists(_("style") == "decimal"))
  }

  test("fluent display: chainable setters land as component attributes (display.py:139-230)") {
    val html = table.display
      .setLocale("nl-NL").setNaRep("–").setMaxRows(10).setMaxColumns(12)
      .setTrimSize(3).setSeparator("···").setNoWrap().showHover()
      .collapseColumns().setSectionLevels(1).setColumnBorderLevels(2)
      .showRowBorders(false)
      .html()
    assert(html.contains("""viewer.setAttribute("locale", "nl-NL")"""))
    assert(html.contains("""viewer.setAttribute("na-rep", "–")"""))
    assert(html.contains("""viewer.setAttribute("max-rows", "10")"""))
    assert(html.contains("""viewer.setAttribute("max-columns", "12")"""))
    assert(html.contains("""viewer.setAttribute("trim-size", "3")"""))
    assert(html.contains("""viewer.setAttribute("separator", "···")"""))
    assert(html.contains("""viewer.setAttribute("no-wrap", "")"""))
    assert(html.contains("""viewer.setAttribute("show-hover", "")"""))
    assert(html.contains("""viewer.setAttribute("collapse-columns", "true")"""))
    assert(html.contains("""viewer.setAttribute("section-levels", "1")"""))
    assert(html.contains("""viewer.setAttribute("column-border-levels", "2")"""))
    assert(html.contains("""viewer.setAttribute("hide-row-borders", "")"""))
    assert(html.contains("""viewer.setAttribute("hide-settings-menu", "")"""))
    // margins derived from the table's tracked labels, ';'-joined
    assert(html.contains("""viewer.setAttribute("margin-labels", "Totals;pct")"""))
    // template shape mirrors the reference jinja template
    assert(html.contains("import { FlatbreadTable }"))
    assert(html.contains("customElements.whenDefined(\"flatbread-table\")"))
  }

  test("display defaults emit no unset optional attributes (template macros)") {
    val html = table.display.html()
    assert(!html.contains("\"locale\""))
    assert(!html.contains("collapse-columns"))
    assert(!html.contains("section-levels"))
    assert(!html.contains("column-border-levels"))
    assert(!html.contains("hide-group-borders"))
  }

  test("format(): preset by name with dtype gating; formatColumns patterns (tablespec.py:119-205)") {
    Formats.clearPresets()
    Formats.registerPreset(FormatDef("currency_eur", Nil,
      Map("style" -> "currency", "currency" -> "EUR"), Some("€#,##0.00"),
      dtypes = Seq("float")))
    try {
      // built-in output format applies regardless of dtype
      val pctCol = table.meta.columns.find(_.key.contains("pct")).get.physical
      val d1 = table.display.format(pctCol, "percentage")
      val spec1 = mapper.readTree(d1.getJson())
      val fmts = spec1.get("columns").get("formatOptions")
      assert((0 until fmts.size()).exists(i => !fmts.get(i).isNull &&
        fmts.get(i).get("style").asText() == "percent"))
      // dtype-gated preset: n columns are int -> rejected for float-only preset
      val nCol = table.meta.columns.head.physical
      val err = intercept[IllegalArgumentException] {
        table.display.format(nCol, "currency_eur")
      }
      assert(err.getMessage.contains("not compatible"))
      // unknown preset lists available names
      val unknown = intercept[IllegalArgumentException] {
        table.display.format(nCol, "nope")
      }
      assert(unknown.getMessage.contains("percentage"))
      // pattern form: substring/level match applies one spec to many columns
      val d2 = table.display.formatColumns(Map("pct" -> "percentage"))
      val spec2 = mapper.readTree(d2.getJson())
      val f2 = spec2.get("columns").get("formatOptions")
      val applied = (0 until f2.size()).count(i => !f2.get(i).isNull &&
        f2.get(i).has("style") && f2.get(i).get("style").asText() == "percent")
      assert(applied == 5) // the 5 pct columns
      // preset catalog, dtype-filtered (display.py get_format_presets)
      assert(table.display.getFormatPresets(Some("float")).contains("currency_eur"))
      assert(table.display.getFormatPresets(Some("str")).get("currency_eur").isEmpty)
    } finally Formats.clearPresets()
  }

  test("HTML render embeds the spec JSON in a module script (display.py:96-110)") {
    val html = Html.render(table, DisplayConfig(maxRows = 10))
    assert(html.contains("\"values\""))
    assert(html.contains("<div id=\"id-"))
    assert(html.contains(Html.componentUrl))
  }

  test("HTML embedding escapes '</' in cell data (script-element injection guard)") {
    import spark.implicits._
    val ft = graft.core.FlatTable(
      Seq(("r0", "x</script><script>alert(1)</script>y")).toDF("R0", "c0"), 1)
    val frag = Html.fragment(ft)
    assert(!frag.contains("x</script>"))        // raw value never lands verbatim
    assert(frag.contains("x<\\/script>"))       // script-safe JSON escape
    // the page's own closing tag is still intact
    assert(frag.trim.endsWith("</script>"))
  }

  test("interval columns serialize as strings in the spec (tablespec.py:261-262)") {
    val df = spark.sql(
      """SELECT 'r0' AS R0, INTERVAL '1 02:03:04' DAY TO SECOND AS dur,
        |  INTERVAL '1-2' YEAR TO MONTH AS ym""".stripMargin)
    val ft = graft.core.FlatTable(df, 1)
    val spec = mapper.readTree(TableSpec.toJson(ft))
    val dtypes = spec.get("columns").get("dtypes")
    assert(dtypes.get(0).asText() == "str" && dtypes.get(1).asText() == "str")
    val row = spec.get("values").get(0)
    assert(row.get(0).asText() == "PT26H3M4S") // java.time.Duration ISO-8601
    assert(row.get(1).asText() == "P1Y2M")     // java.time.Period ISO-8601
  }

  test("xlsx writer produces a valid OOXML zip with header, data, and margin styling") {
    val path = Files.createTempFile("flatbread", ".xlsx").toString
    Excel.write(table, path)
    val zip = new ZipFile(path)
    try {
      val names = {
        val e = zip.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      assert(names.contains("[Content_Types].xml"))
      assert(names.contains("xl/worksheets/sheet1.xml"))
      val sheet = new String(zip.getInputStream(
        zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
      assert(sheet.contains("Totals"))  // margin row written
      assert(sheet.contains("r0"))      // data row written
      val styles = new String(zip.getInputStream(
        zip.getEntry("xl/styles.xml")).readAllBytes())
      assert(styles.contains("applyBorder"))       // margin borders styled
      // default base=1 -> fractions -> Excel's true percent format (which
      // scales by 100 at display); base=100 values get a literal-% code
      assert(styles.contains("0.0%") && !styles.contains("0.0&quot;%&quot;"))
    } finally zip.close()
    // base=100 via config restores the literal-% code (values already scaled)
    try {
      graft.config.FlatbreadConf.updateRuntime("base" -> "100")
      val path2 = Files.createTempFile("flatbread", ".xlsx").toString
      Excel.write(table, path2)
      val zip2 = new ZipFile(path2)
      try {
        val styles2 = new String(zip2.getInputStream(
          zip2.getEntry("xl/styles.xml")).readAllBytes())
        assert(styles2.contains("0.0&quot;%&quot;"))
      } finally zip2.close()
    } finally graft.config.FlatbreadConf.reset()
    // PER-CALL base=100 under the default (base=1) config: the table's
    // recorded pctBase — not the config — must drive the code, or 33.3
    // would render as 3330%
    val perCall = MakeTestDf(spark).addTotals(Axis.Both)
      .addPercentages(Axis.Cols, ndigits = 1, base = 100)
    assert(perCall.meta.pctBase.contains(100))
    val path3 = Files.createTempFile("flatbread", ".xlsx").toString
    Excel.write(perCall, path3)
    val zip3 = new ZipFile(path3)
    try {
      val styles3 = new String(zip3.getInputStream(
        zip3.getEntry("xl/styles.xml")).readAllBytes())
      assert(styles3.contains("0.0&quot;%&quot;"))
    } finally zip3.close()
  }

  test("xlsx user numberFormats and borderSpecs land in the workbook (excel.py:100-209)") {
    val path = Files.createTempFile("flatbread", ".xlsx").toString
    Excel.write(table, path,
      numberFormats = Map("c0" -> "#,##0.000"),
      borderSpecs = Map("columns" -> Seq("pct")))
    val zip = new ZipFile(path)
    try {
      val styles = new String(zip.getInputStream(
        zip.getEntry("xl/styles.xml")).readAllBytes())
      assert(styles.contains("#,##0.000")) // user format override present
      assert(styles.contains("<left style=\"thin\"/>")) // column border accent
    } finally zip.close()
  }

  test("xlsx title lands bold in row 1, merged across the width, data shifted down (excel.py:104,130)") {
    val path = Files.createTempFile("flatbread", ".xlsx").toString
    Excel.write(table, path, title = Some("Revenue by region"))
    val zip = new ZipFile(path)
    try {
      val sheet = new String(zip.getInputStream(
        zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
      // title cell is A1 with the bold header style (s="1")
      assert(sheet.contains("<c r=\"A1\" s=\"1\" t=\"inlineStr\"><is><t xml:space=\"preserve\">Revenue by region</t></is>"))
      // merged across the full table width
      assert(sheet.contains("<mergeCell ref=\"A1:"))
      // header now on row 2, first data row on row 3
      assert(sheet.contains("<row r=\"2\">"))
      val firstHeaderCell = sheet.indexOf("r=\"A2\"")
      assert(firstHeaderCell >= 0)
    } finally zip.close()
  }

  test("xlsx row-level formats: an index value matching a format label styles the row (excel.py:23-28)") {
    import spark.implicits._
    val ft = graft.core.FlatTable(
      Seq(("n", 10.0), ("pct", 33.3)).toDF("kind", "c0"), 1)
    val path = Files.createTempFile("flatbread", ".xlsx").toString
    Excel.write(ft, path, numberFormats = Map("n" -> "#,##0"))
    val zip = new ZipFile(path)
    try {
      val styles = new String(zip.getInputStream(
        zip.getEntry("xl/styles.xml")).readAllBytes())
      assert(styles.contains("#,##0"))  // user row format (kind = n)
      assert(styles.contains("0.0%"))   // smart row format (kind = pct), base=1
    } finally zip.close()
  }
}

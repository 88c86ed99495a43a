package graft.octo

import graft.sources.CsvSample
import graft.sql.Dialect.Prepared

/** The CLI's output surface, matching the reference byte-for-byte
  * (outputs/batch/live_output.go, outputs/eager/eager.go,
  * outputs/stream/printer.go, outputs/formats):
  *
  *  - `live_table` / `batch_table`: final table sorted by octosql value
  *    order (the reference accumulates records in a btree keyed by
  *    ORDER BY keys then record values, and renders its Ascend order)
  *  - `csv` / `json`: eager arrival-order rows
  *  - `stream_native`: `{+<event-time>| v1, v2 |}` per record
  *  - `--describe`: {name, type, time_field} rows through any format
  *
  * Rendering is driver-side over the collected result — the same
  * boundary where the reference's printers sit. The query itself runs
  * distributed; only the final stdout bytes are assembled here.
  *
  * A query whose CSV scan met a value the CSV's sampled type cannot
  * parse (`CsvSample.isMiss`) is rendered once more from
  * `Prepared.exact`, its re-prepare with full-file inference.
  */
object Formats {

  /** formats/human_readable_schema.go WithoutQualifiers: strip the
    * `alias.` prefix wherever the short name stays unique.
    */
  def withoutQualifiers(names: Seq[String]): Seq[String] = {
    def short(n: String) = if (n.contains(".")) n.substring(n.indexOf('.') + 1) else n
    val counts = names.groupBy(short).view.mapValues(_.size).toMap
    names.map(n => if (counts(short(n)) == 1) short(n) else n)
  }

  private def collect(prep: Prepared): Seq[Seq[Any]] = {
    prep.validations.foreach(_.apply())
    prep.df.collect().toSeq.map(_.toSeq)
  }

  /** Rows in the reference's live-table order: Spark's order when the
    * query had an ORDER BY (the btree key), octosql value order
    * otherwise.
    */
  private def tableRows(prep: Prepared): Seq[Seq[Any]] = {
    val rows = collect(prep)
    if (prep.ordered) rows
    else rows.sortWith((a, b) => OValue.rowCompare(a, b) < 0)
  }

  def renderTable(prep: Prepared): String = {
    val names = withoutQualifiers(prep.names)
    val rows = tableRows(prep).map(_.zipWithIndex.map { case (v, i) =>
      OValue.display(v, prep.otypes.applyOrElse(i, (_: Int) => None))
    })
    TableFmt.render(names, rows)
  }

  /** Go encoding/csv quoting rules (stdlib csv.Writer fieldNeedsQuotes):
    * delimiter / quote / CR / LF anywhere, any leading Unicode space,
    * or the literal field `\.` (the Postgres end-of-data special case).
    */
  /** Go unicode.IsSpace: the Unicode White_Space property — NOT the
    * same set as Java's isWhitespace (U+0085/U+00A0 are in, the
    * U+001C-1F separators are out).
    */
  private def goIsSpace(c: Char): Boolean = c match {
    case '\t' | '\n' | 0x0B | '\f' | '\r' | ' ' | 0x85 | 0xA0 => true
    case _ => Character.getType(c) == Character.SPACE_SEPARATOR ||
      Character.getType(c) == Character.LINE_SEPARATOR ||
      Character.getType(c) == Character.PARAGRAPH_SEPARATOR
  }

  private def csvField(s: String): String = {
    val leadingSpace = s.nonEmpty && goIsSpace(s.charAt(0))
    if (s == "\\." || leadingSpace ||
        s.contains(",") || s.contains("\"") || s.contains("\n") || s.contains("\r"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
  }

  def renderCsv(prep: Prepared): String = {
    val sb = new StringBuilder
    sb ++= withoutQualifiers(prep.names).map(csvField).mkString(",")
    sb += '\n'
    collect(prep).foreach { row =>
      sb ++= row.zipWithIndex.map { case (v, i) =>
        csvField(OValue.csv(v, prep.otypes.applyOrElse(i, (_: Int) => None)))
      }.mkString(",")
      sb += '\n'
    }
    sb.toString
  }

  def renderJson(prep: Prepared): String = {
    val names = withoutQualifiers(prep.names)
    // duplicate output names: fastjson Object.Set overwrites in place,
    // so the LAST value wins at the FIRST occurrence's position
    val lastIdx = names.zipWithIndex.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val emitOrder = names.zipWithIndex
      .filter { case (n, i) => lastIdx(n) == i }
      .sortBy { case (n, _) => names.indexOf(n) }
    val sb = new StringBuilder
    collect(prep).foreach { row =>
      sb += '{'
      var first = true
      emitOrder.foreach { case (n, i) =>
        if (!first) sb += ','; first = false
        OValue.jsonString(sb, n); sb += ':'
        OValue.json(sb, row(i), prep.otypes.applyOrElse(i, (_: Int) => None))
      }
      sb ++= "}\n"
    }
    sb.toString
  }

  def renderStreamNative(prep: Prepared): String = {
    val sb = new StringBuilder
    collect(prep).foreach { row =>
      val time =
        if (prep.timeField >= 0 && row(prep.timeField) != null)
          OValue.display(row(prep.timeField), Some(OTime))
        else GoFmt.ZeroTime
      sb ++= "{+"; sb ++= time; sb ++= "| "
      sb ++= row.zipWithIndex.map { case (v, i) =>
        OValue.display(v, prep.otypes.applyOrElse(i, (_: Int) => None))
      }.mkString(", ")
      sb ++= " |}\n"
    }
    sb.toString
  }

  /** `--describe`: one {name, type, time_field} row per output field
    * (cmd/describe.go DescribeNode), rendered through the chosen
    * format via a synthetic Prepared-shaped result.
    */
  def describeRows(prepared: Prepared): Prepared = {
    // no scan runs to check a sampled CSV schema: describe the exact one
    val prep = prepared.exact.fold(prepared)(_())
    val names = withoutQualifiers(prep.names)
    val types = prep.df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      prep.otypes.applyOrElse(i, (_: Int) => None)
        .getOrElse(OType.fromSpark(f.dataType)).display
    }
    val spark = prep.df.sparkSession
    import spark.implicits._
    val rows = names.zip(types).zipWithIndex.map { case ((n, t), i) =>
      (n, t, i == prep.timeField)
    }
    Prepared(
      spark.createDataset(rows).toDF("name", "type", "time_field"),
      Seq("name", "type", "time_field"),
      Seq(Some(OString), Some(OString), Some(OBoolean)),
      ordered = false, // live_table sorts describe rows like any others
      timeField = -1,
      validations = Nil)
  }

  def render(prep: Prepared, output: String): String =
    try renderOnce(prep, output)
    catch {
      case e: Exception if prep.exact.isDefined && CsvSample.isMiss(e) =>
        renderOnce(prep.exact.get(), output)
    }

  private def renderOnce(prep: Prepared, output: String): String = output match {
    case "csv" => renderCsv(prep)
    case "json" => renderJson(prep)
    case "stream_native" => renderStreamNative(prep)
    case _ => renderTable(prep) // live_table | batch_table
  }
}

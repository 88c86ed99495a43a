package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.{FileSourceScanExec, LimitExec}
import org.apache.spark.sql.execution.datasources.csv.{CSVFileFormat, CSVUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.octo.OType

/** CSV typed from a sample, like the reference (csv/impl.go:36-130):
  * the header plus the first [[OType.SampleRecords]] records, read on
  * the driver ([[PathTable.headLines]]) and typed by Spark's own CSV
  * inference with the reader's options. The query's scan is then the
  * file's only read, instead of a full inference pass before it.
  *
  * The result equals full-file inference's for every input:
  *  - [[Whole]]: the sample is the file, so its schema is the file's;
  *    the scan is PERMISSIVE, as under inference.
  *  - [[Sampled]]: the scan is FAILFAST, so a later value the sampled
  *    type cannot parse fails it ([[isMiss]]) and the caller re-reads
  *    with `PathTable.read`'s full inference.
  *  - [[Full]]: `PathTable.read` straight away, where a later value
  *    could parse under the sampled type yet widen the inferred one:
  *    an all-empty sample column (typed string; a later `7` makes it
  *    int), a date column (the reader parses `2021-01-01T10:11:12`
  *    leniently as a date; inference makes it a timestamp) and a
  *    decimal one (the reader rounds `1.5` into DECIMAL(24,0);
  *    inference makes it a double). An empty file (no header either)
  *    also takes this route.
  *
  * A FAILFAST scan only checks the values it converts, so a plan that
  * may leave some unconverted needs full inference too
  * ([[scansEveryValue]]). A directory's part files are sampled in name
  * order and are taken to share one header line, the case Spark's own
  * inference handles (it drops every line equal to the first header).
  */
object CsvSample {

  sealed trait Route
  case object Sampled extends Route
  case object Whole extends Route
  case object Full extends Route

  /** The schema Spark's inference gives `lines` — the first of them the
    * header line (column names or, without a header, the column count)
    * — and whether a column's type could hide a later widening (see the
    * object comment). `TextInputCSVDataSource.inferFromDataset` on the
    * driver, so no job runs.
    */
  private def infer(spark: SparkSession, lines: Seq[String],
                    csv: CSVOptions): (StructType, Boolean) =
    GraftSqlBridge.withActive(spark) {
      val parser = new CsvParser(csv.asParserSettings)
      val header = CSVUtils.makeSafeHeader(parser.parseLine(lines.head),
        SQLConf.get.caseSensitiveAnalysis, csv)
      val inference = new CSVInferSchema(csv)
      val types = CSVUtils.filterHeaderLine(lines.iterator, lines.head, csv)
        .map(parser.parseLine)
        .foldLeft(Array.fill[DataType](header.length)(NullType))(inference.inferRowType)
      val widenable = types.exists {
        case NullType | DateType | _: DecimalType => true
        case _ => false
      }
      (StructType(inference.toStructFields(types, header)), widenable)
    }

  /** The CSV at `path` with its schema from the sample, and the route
    * taken. `opts` are the table spec's (`?header=`, `?sep=`).
    */
  def read(spark: SparkSession, path: String, opts: Map[String, String]): (DataFrame, Route) = {
    val options = PathTable.csvOptions(opts)
    val csv = new CSVOptions(options + ("inferSchema" -> "true"),
      spark.conf.get(SQLConf.CSV_PARSER_COLUMN_PRUNING.key).toBoolean,
      spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    // the header line, if any, and SampleRecords records; one more
    // tells whether the file goes on
    val sampleLines = OType.SampleRecords + (if (csv.headerFlag) 1 else 0)
    val lines = PathTable.headLines(spark, path) { it =>
      CSVUtils.filterCommentAndEmpty(it, csv).take(sampleLines + 1).toVector
    }
    if (lines.isEmpty) (PathTable.read(spark, path, "csv", opts), Full)
    else {
      val (schema, widenable) = infer(spark, lines.take(sampleLines), csv)
      if (lines.length <= sampleLines)
        (spark.read.options(options).schema(schema).csv(path), Whole)
      else if (widenable)
        (PathTable.read(spark, path, "csv", opts), Full)
      else
        (spark.read.options(options).schema(schema).option("mode", "FAILFAST").csv(path), Sampled)
    }
  }

  /** A [[Sampled]] scan met a value its sampled type cannot parse: the
    * read failure Spark raises for a malformed record in FAILFAST mode,
    * and nothing else.
    */
  def isMiss(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12).exists {
      case t: SparkThrowable if t.getCondition == "FAILED_READ_FILE.NO_HINT" =>
        t.asInstanceOf[Throwable].getCause match {
          case c: SparkThrowable => Option(c.getCondition).exists(_.startsWith("MALFORMED_RECORD_IN_PARSING"))
          case _ => false
        }
      case _ => false
    }

  /** Whether every [[Sampled]] scan in `df`'s plan converts every value
    * of the columns it reads, so that a miss cannot pass unseen: no
    * limit may stop a scan early (a top-N, `TakeOrderedAndProjectExec`,
    * is not a `LimitExec` and reads all its input), no pushed filter may
    * skip the rest of a row (the CSV parser stops converting a row at
    * the first filter it fails), and no partition filter may skip whole
    * files that full inference reads.
    */
  def scansEveryValue(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collectWithSubqueries {
      case l: LimitExec => l
      case s: FileSourceScanExec
          if isSampled(s) && (s.dataFilters.nonEmpty || s.partitionFilters.nonEmpty) => s
    }.isEmpty

  private def isSampled(s: FileSourceScanExec): Boolean =
    s.relation.fileFormat.isInstanceOf[CSVFileFormat] &&
      s.relation.options.get("mode").exists(_.equalsIgnoreCase("FAILFAST"))
}

package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.octo._

/** JSONL ingest with the reference's exact typing semantics
  * (datasources/json/impl.go):
  *
  *  - schema inferred from the first 100 lines only; fields sorted by
  *    name; numbers are Float, RFC3339-parseable strings are Time
  *  - heterogeneous fields become unions — stored as Spark VARIANT so
  *    each row keeps its runtime type (see graft.types.UnionJson)
  *  - non-object or unparseable lines fail with the reference's
  *    line-numbered message shape (execution.go / fastjson)
  *
  * Execution shape: one distributed `spark.read.text` scan; every field
  * is a codegen'd `variant_get` off a single `parse_json`, so pruning
  * and parallelism are Spark-native. The strict validation pass (CLI
  * parity only) is one more job over the same text scan.
  */
object OctoJson {

  /** First-100-line driver inference, like the reference's
    * `WithPreview()` open (json/impl.go:27-56). The lines are decoded as
    * UTF-8 like Spark's executors decode them (the platform default
    * charset could mis-decode multibyte field names) and decompressed
    * like Spark's text reader does (`orders.json.gz`).
    */
  def infer(spark: SparkSession, path: String): Seq[(String, OType)] =
    PathTable.headLines(spark, path)(OType.inferJsonl(_))

  def inferLines(lines: Seq[String]): Seq[(String, OType)] =
    OType.inferJsonl(lines.iterator)

  /** Variant path for a field name: dotted form only for plain
    * identifiers; bracket-quoted otherwise so names containing `.`,
    * spaces or quotes navigate as one key.
    */
  private[graft] def variantPath(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) s"$$.$name"
    else s"$$['${name.replace("'", "\\'")}']"

  /** Extraction column for one inferred field off a parsed variant. */
  private def fieldCol(v: Column, name: String, t: OType): Column = {
    val path = variantPath(name)
    if (t.needsVariant) variant_get(v, path, "variant")
    else t.nonNullAlts.headOption match {
      case Some(OTime) => try_variant_get(v, path, "string").cast("timestamp")
      case Some(single) => try_variant_get(v, path, OType.toSpark(single).sql)
      case None => lit(null).cast("string") // all-null field
    }
  }

  private def project(spark: SparkSession, raw: DataFrame,
                      fields: Seq[(String, OType)]): DataFrame = {
    val v = parse_json(col("__line"))
    raw.select(fields.map { case (n, t) => fieldCol(v, n, t).as(n) }: _*)
  }

  def read(spark: SparkSession, path: String,
           fields: Seq[(String, OType)]): DataFrame =
    project(spark, spark.read.text(path).select(col("value").as("__line")), fields)

  def readLines(spark: SparkSession, lines: Seq[String],
                fields: Seq[(String, OType)]): DataFrame = {
    import spark.implicits._
    project(spark, spark.createDataset(lines).toDF("__line"), fields)
  }

  /** The error of a line that is not one JSON object, if any. */
  private def lineError(mapper: ObjectMapper, text: String): Option[String] =
    try {
      val node = mapper.readTree(text)
      if (node == null || !node.isObject) Some(s"expected JSON object, got '$text'")
      else None
    } catch { case _: Exception => Some(JsonErrors.parseError(text)) }

  /** One file split's share of a validation pass: its line count and,
    * if it has one, its first bad line (split-local index, error).
    */
  private final class SplitCheck(val pid: Int, val file: String) extends Serializable {
    var lines = 0L
    var bad: Option[(Long, String)] = None
  }

  /** Full-file validation with reference-parity errors: the first
    * unparseable / non-object line (1-based, per file) raises
    * `JsonLineException`. One job over the text scan: each (partition,
    * file) split reports its line count and its first bad line, and
    * the driver numbers that line from the counts of the file's earlier
    * splits ([[PathTable.splitOffsets]]).
    */
  def validate(spark: SparkSession, path: String): Unit = {
    val splits = spark.read.text(path).select(input_file_name(), col("value")).rdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val mapper = new ObjectMapper()
        val byFile = scala.collection.mutable.LinkedHashMap[String, SplitCheck]()
        rows.foreach { r =>
          val s = byFile.getOrElseUpdate(r.getString(0), new SplitCheck(pid, r.getString(0)))
          if (s.bad.isEmpty) s.bad = lineError(mapper, r.getString(1)).map(s.lines -> _)
          s.lines += 1
        }
        byFile.valuesIterator
      }.collect().toSeq
    val offsets = PathTable.splitOffsets(splits.map(s => (s.pid, s.file) -> s.lines))
    splits.flatMap(s => s.bad.map { case (i, err) => (offsets((s.pid, s.file)) + i, err) })
      .minByOption(_._1).foreach { case (line, err) =>
        throw new JsonLineException((line + 1).toInt, err)
      }
  }

  private val driverMapper = new ObjectMapper()

  def validateLines(lines: Seq[String]): Unit =
    lines.iterator.zipWithIndex.foreach { case (text, i) =>
      lineError(driverMapper, text).foreach(e => throw new JsonLineException(i + 1, e))
    }
}

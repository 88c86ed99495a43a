package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Path-as-table resolution: the reference treats `people.csv`,
  * `logs.json`, `data.parquet`, `notes.txt` (lines) as table names
  * (reference: physical/physical.go:65-86, cmd/root.go:192-198), with
  * `?header=false`, `?sep=x`, `ext.path` overrides
  * (parser/parser.go:321-356).
  *
  * Spark-first: each resolves to a `DataFrameReader` call, so parallel
  * IO, predicate pushdown and column pruning are the built-in ones; the
  * reference's JSON worker pool is subsumed by Spark's distributed
  * readers. `read` types CSV by a full-file inference pass, as
  * `OctoSql.run`, `SparkEntry` and `Bench` need. The CLI path samples
  * instead, like the reference, from [[headLines]]: JSON in
  * [[OctoJson.infer]], CSV in [[CsvSample]], which falls back to
  * `read`'s inference where the sample cannot be trusted.
  */
object PathTable {

  /** Options parsed from a `path?k=v&k2=v2` suffix. Split on the FIRST
    * '?' only: a second '?' (inside an option value, or a typo'd
    * double option block) must not silently discard every option and
    * read the file with defaults.
    */
  def splitOpts(spec: String): (String, Map[String, String]) =
    spec.split("\\?", 2) match {
      case Array(p)       => (p, Map.empty)
      case Array(p, opts) =>
        (p, opts.split('&').filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k -> v
            case Array(k)    => k -> "true"
          }
        }.toMap)
    }

  private val PrefixForm = "^(csv|tsv|json|parquet|orc|lines|txt|log)\\.(.+)$".r

  /** The file path and reader format a table name names (everything
    * after any `?` already split off): `csv.myfile` reads `myfile` with
    * the csv handler (physical.go GetDatasource database rule); a
    * compressed text file `data.json.gz` is json, because Spark's text
    * readers decompress by extension through the Hadoop codec registry
    * (a gzip member is one split — fine for the sizes a compressed
    * drop-file has). Columnar formats carry their own codecs:
    * `parquet.gz` keeps its suffix and resolves to a clear
    * unsupported-format message (the parquet reader on a gzip stream
    * fails with a magic-bytes error).
    */
  def formatOf(path: String): (String, String) = path match {
    case PrefixForm(fmt, rest) if !rest.contains('.') => (rest, fmt)
    case _ =>
      val textFmts = Set("csv", "tsv", "json", "lines", "txt", "log")
      val parts = path.split('.')
      val last = parts.last.toLowerCase
      val ext =
        // .warc.gz keeps its own member-aware decompressor (the gzip
        // members ARE the record index) — never the Hadoop codec path
        if (last == "gz" && parts.length >= 3 &&
            parts(parts.length - 2).toLowerCase == "warc")
          "warcgz"
        else if ((last == "gz" || last == "bz2") && parts.length >= 3 &&
            textFmts.contains(parts(parts.length - 2).toLowerCase))
          parts(parts.length - 2).toLowerCase
        else last
      (path, ext)
  }

  /** Resolve a table spec to a DataFrame. Accepts `path.ext[?opts]`,
    * `stdin.ext` (reference: execution/files/stdin.go), or the
    * `docs.functions` / `docs.aggregates` self-documentation tables
    * (datasources/docs/database.go:26-121).
    */
  def resolve(spark: SparkSession, spec: String): DataFrame = {
    val (path, opts) = splitOpts(spec)
    if (path.startsWith("stdin."))
      readStdin(spark, path.stripPrefix("stdin."), opts)
    else if (path.startsWith("docs.") &&
             Docs.TableNames.contains(path.stripPrefix("docs.")))
      Docs.table(spark, path.stripPrefix("docs."))
    else if (path.startsWith("plugins."))
      Plugins.table(spark, path.stripPrefix("plugins."))
    else if (path.count(_ == '.') == 1 &&
             OctoConfig.database(path.split('.')(0)).isDefined)
      // octosql.yml-configured database: FROM mydb.mytable → JDBC
      OctoConfig.table(spark,
        OctoConfig.database(path.split('.')(0)).get, path.split('.')(1))
    else path match {
      // `lines.stdin` is the lines handler over stdin
      case PrefixForm(fmt, rest) if rest == "stdin" =>
        readStdin(spark, if (fmt == "txt" || fmt == "log") "lines" else fmt, opts)
      case _ =>
        val (file, format) = formatOf(path)
        read(spark, file, format, opts)
    }
  }

  /** stdin is driver-local by nature: drain it on the driver and
    * parallelize — the reference buffers the sampled prefix the same way
    * (files.go:102-112).
    */
  def readStdin(spark: SparkSession, format: String,
                opts: Map[String, String] = Map.empty): DataFrame =
    readStdinLines(spark, format,
      scala.io.Source.fromInputStream(System.in, "UTF-8").getLines().toSeq,
      opts)

  /** stdin with the content already drained (the CLI and the golden
    * scenario runner inject it). The line ordinal is assigned on the
    * driver — stdin is inherently a driver-local, single-pass source.
    */
  def readStdinLines(spark: SparkSession, format: String, lines: Seq[String],
                     opts: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val ds = spark.createDataset(lines)
    format match {
      case "json" => spark.read.json(ds)
      case "csv" =>
        spark.read.option("header", opts.getOrElse("header", "true"))
          .option("inferSchema", "true").csv(ds)
      case "tsv" =>
        spark.read.option("header", opts.getOrElse("header", "true"))
          .option("inferSchema", "true").option("sep", "\t").csv(ds)
      case "lines" | "txt" =>
        spark.createDataset(lines.zipWithIndex.map { case (t, i) => (i.toLong, t) })
          .toDF("number", "text")
      case other =>
        throw new IllegalArgumentException(s"unsupported stdin format: $other")
    }
  }

  /** The CSV reader options a table spec's `?header=` / `?sep=` give. */
  def csvOptions(opts: Map[String, String]): Map[String, String] =
    Map("header" -> opts.getOrElse("header", "true"), "sep" -> opts.getOrElse("sep", ","))

  def read(spark: SparkSession, path: String, format: String,
           opts: Map[String, String] = Map.empty): DataFrame = format match {
    case "csv" =>
      spark.read.options(csvOptions(opts)).option("inferSchema", "true").csv(path)
    case "tsv" =>
      read(spark, path, "csv", opts + ("sep" -> "\t"))
    case "json" => // JSONLines, schema merged across sampled records.
      // Reference parity: octosql infers every JSON number as Float
      // (datasources/json/impl.go:83-89); Spark infers integers as
      // long — widen top-level integer columns to double.
      val df = spark.read.json(path)
      df.columns.foldLeft(df) { (acc, c) =>
        acc.schema(c).dataType match {
          case org.apache.spark.sql.types.LongType =>
            acc.withColumn(c, col(c).cast("double"))
          case _ => acc
        }
      }
    case "parquet" =>
      spark.read.parquet(path)
    case "orc" => // beyond-reference: Spark ships the ORC reader
      spark.read.orc(path)
    case "lines" | "txt" | "log" =>
      // {number: Int, text: String} like the reference's lines source
      // (datasources/lines/impl.go:13-63): number is a sequential
      // per-file line ordinal.
      if (opts.get("tail").contains("true")) tailLines(spark, path)
      else linesWithNumbers(spark, path, opts.get("sep"))
        .select(col("number"), col("text"))
    case "warc" => // beyond-reference: crawl archives as tables
      WarcTable.read(spark, path, gzipped = false)
    case "warcgz" =>
      WarcTable.read(spark, path, gzipped = true)
    case "tar" => // beyond-reference: WebDataset shards as tables
      TarTable.read(spark, path)
    case other =>
      throw new IllegalArgumentException(s"unsupported table format: $other")
  }

  /** The file's first line ordinal in each (partition, file) split,
    * from the line counts of those splits: cumulative in partition-index
    * order, because Spark plans a file's splits in offset order with
    * stable size-descending packing, so a later byte range never lands
    * in an earlier partition index.
    */
  def splitOffsets(counts: Seq[((Int, String), Long)]): Map[(Int, String), Long] =
    counts.groupBy(_._1._2).flatMap { case (_, splits) =>
      var acc = 0L
      splits.sortBy(_._1._1).map { case (k, c) =>
        val off = acc; acc += c; k -> off
      }
    }

  /** Per-file line ordinals without a single-task global window.
    *
    * Scale design (the round-1 `Window.orderBy(monotonically_increasing_id())`
    * funnelled the whole dataset through one task): two passes over the
    * same deterministic text scan —
    *   1. count rows per (partition, file) — a tiny aggregate, one row
    *      per file split;
    *   2. re-scan and add `offset(partition, file) + local index`
    *      ([[splitOffsets]]), computed per partition with no shuffle of
    *      the data itself.
    * Output keeps per-split parallelism — a 10 GB file numbers on ~80
    * tasks, not 1.
    */
  def linesWithNumbers(spark: SparkSession, path: String,
                       lineSep: Option[String] = None): DataFrame = {
    import spark.implicits._
    val reader = lineSep.foldLeft(spark.read)((r, s) => r.option("lineSep", s))
    val base = reader.text(path)
      .select(input_file_name().as("file"), col("value").as("text"))
    val withPid = base.withColumn("pid", spark_partition_id())
    val offsets = splitOffsets(withPid.groupBy("pid", "file").count().collect().toSeq
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)))
    withPid.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap[String, Long]()
      it.map { r =>
        val file = r.getString(0); val text = r.getString(1); val pid = r.getInt(2)
        val i = local.getOrElse(file, 0L)
        local(file) = i + 1
        (offsets.getOrElse((pid, file), 0L) + i, text, file)
      }
    }.toDF("number", "text", "file")
  }

  /** The lines of the files at `path` — one file, a directory of part
    * files or a glob, the files in path order — read lazily on the
    * driver, decoded as UTF-8 and decompressed by extension through
    * Hadoop's codec registry, as Spark's text readers do. `f` takes as many as it
    * needs; a file is opened only when the lines before it are used up.
    * Directory listings skip the hidden and `_`-prefixed files Spark's
    * file index skips.
    */
  def headLines[A](spark: SparkSession, path: String)(f: Iterator[String] => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
        .sortBy(_.getPath.getName).flatMap(leaves)
    val files = Option(fs.globStatus(p)).toSeq.flatten.sortBy(_.getPath.toString).flatMap(leaves)
    val codecs = new CompressionCodecFactory(conf)
    var open: Option[BufferedReader] = None
    def lines(st: FileStatus): Iterator[String] = {
      open.foreach(_.close())
      val raw = fs.open(st.getPath)
      val in = Option(codecs.getCodec(st.getPath)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      open = Some(r)
      Iterator.continually(r.readLine()).takeWhile(_ != null)
    }
    try f(files.iterator.flatMap(lines))
    finally open.foreach(_.close())
  }

  /** Streaming variant of the lines source (`?tail=true` in the
    * reference, execution/files/files.go:27-76).
    *
    * A single regular file routes to [[TailFileProvider]] — a DSv2
    * micro-batch source following the file by BYTE OFFSET, so in-place
    * appends to the already-seen file surface as new rows with their
    * lines-table ordinals (the reference's `tail -f` semantics). A
    * glob/directory path takes Spark's file stream, which is new-FILE
    * granularity — the rotating-log layout at scale.
    */
  def tailLines(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (f.isFile)
      spark.readStream.format(classOf[TailFileProvider].getName)
        .option("path", f.getAbsolutePath).load()
    else
      // keep the documented lines-table schema {number, text} on the
      // glob/directory branch too, so the same query works on either
      // shape. A GLOBAL line ordinal is undefined across multiple
      // tailed files (and streaming forbids monotonically_increasing_
      // id), so number is typed NULL here; the single-file branch
      // (TailFileProvider) carries real ordinals
      spark.readStream.text(path)
        .select(lit(null).cast("long").as("number"),
          col("value").as("text"))
  }
}

package graft

import java.nio.file.Files
import scala.util.Try
import graft.octo.Formats
import graft.sources.{CsvSample, PathTable}
import graft.sql.Dialect
import graft.sql.Dialect.Prepared

/** The CLI path types CSV from the header and the first 100 records
  * (graft.sources.CsvSample). Differential check: for every input, its
  * rendered output, `--describe` and bound schema equal those of
  * full-file inference (`Dialect.prepareExact`), and the input takes
  * the expected route, so that no guard can go without a test failing.
  */
class CsvSampleSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft_csvsample")

  private def write(name: String, text: String): String = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    p.toString
  }

  /** A two-column CSV: `a` holds 100 sampled values, then `later`. */
  private def column(name: String, first: Int => String, later: String*): String =
    write(name, ((0 until 100).map(i => s"${first(i)},$i") ++ later.map(v => s"$v,100"))
      .mkString("a,b\n", "\n", "\n"))

  /** sampled: FAILFAST scan, no miss; retried: the scan missed and
    * render re-ran the exact query; whole: the sample is the file;
    * full: a guard took full inference; prepare-full: prepare took full
    * inference (the plan could leave values unread, or the sampled types
    * failed a typecheck).
    */
  private def route(prep: Prepared, path: String, opts: Map[String, String]): String =
    CsvSample.read(spark, path, if (path.endsWith(".tsv")) opts + ("sep" -> "\t") else opts)._2 match {
      case CsvSample.Full => "full"
      case CsvSample.Whole => "whole"
      case CsvSample.Sampled if prep.exact.isEmpty => "prepare-full"
      case CsvSample.Sampled =>
        if (Try(prep.df.collect()).failed.toOption.exists(CsvSample.isMiss)) "retried" else "sampled"
    }

  /** Prepare `sql` both ways, compare what a user sees, return the route. */
  private def check(sql: String, path: String, opts: Map[String, String] = Map.empty): String = {
    val exact = Dialect.prepareExact(spark, sql)
    val prep = Dialect.prepare(spark, sql)
    val r = route(prep, path, opts)
    for (output <- Seq("live_table", "csv")) {
      assert(Formats.render(prep, output) == Formats.render(exact, output), s"$r $output: $sql")
    }
    assert(Formats.render(Formats.describeRows(prep), "csv") ==
      Formats.render(Formats.describeRows(exact), "csv"), s"$r describe: $sql")
    val bound = if (r == "retried") prep.exact.get().df.schema else prep.df.schema
    assert(bound == exact.df.schema, s"$r schema: $sql")
    r
  }

  private def star(path: String, opts: Map[String, String] = Map.empty): String = {
    val spec = if (opts.isEmpty) path else path + opts.map { case (k, v) => s"$k=$v" }.mkString("?", "&", "")
    check(s"SELECT * FROM $spec", path, opts)
  }

  test("a later value the sampled type cannot parse retries with full inference") {
    assert(star(column("int_float.csv", i => s"$i", "1.5")) == "retried")
    assert(star(column("int_long.csv", i => s"$i", "3000000000")) == "retried")
    assert(star(column("int_decimal.csv", i => s"$i", "123456789012345678901234")) == "retried")
    assert(star(column("bool_string.csv", i => if (i % 2 == 0) "true" else "false", "maybe")) == "retried")
    assert(star(write("ragged.csv",
      (0 until 100).map(i => s"$i,$i").mkString("a,b\n", "\n", "\n1,2,3\n"))) == "retried")
  }

  test("a sample whose type a later value could widen unseen takes full inference") {
    assert(star(column("empty_prefix.csv", _ => "", "7")) == "full")
    assert(star(column("date_timestamp.csv", _ => "2021-01-01", "2021-01-01T10:11:12")) == "full")
    // the reader would round 1.5 into DECIMAL(24,0); inference makes it a double
    assert(star(column("decimal_fraction.csv", _ => "123456789012345678901234", "1.5")) == "full")
  }

  test("later values the sampled type already covers keep the sampled scan") {
    assert(star(column("timestamp_date.csv", _ => "2021-01-01 10:11:12", "2021-01-02")) == "sampled")
    assert(star(column("double_nan.csv", i => s"$i.5", "NaN")) == "sampled")
  }

  test("the sample is the whole file at 100 records, not at 101") {
    // the 100th record is in the sample; the 101st is not
    assert(star(write("r100.csv",
      ((0 until 99).map(i => s"$i") :+ "1.5").mkString("a\n", "\n", "\n"))) == "whole")
    assert(star(write("r101.csv",
      ((0 until 100).map(i => s"$i") :+ "1.5").mkString("a\n", "\n", "\n"))) == "retried")
    assert(star(write("header_only.csv", "a,b\n")) == "whole")
    val empty = write("empty.csv", "")
    assert(CsvSample.read(spark, empty, Map.empty)._2 == CsvSample.Full)
    assert(PathTable.read(spark, empty, "csv").schema.isEmpty)
  }

  test("header=false, TSV, gzip and a directory of part files") {
    val noHeader = write("nh.csv", (0 until 150).map(i => s"$i,x$i").mkString("", "\n", "\n2.5,y\n"))
    assert(star(noHeader, Map("header" -> "false")) == "retried")
    val tsv = write("t.tsv", (0 until 150).map(i => s"$i\tx$i").mkString("a\tb\n", "\n", "\n"))
    assert(star(tsv) == "sampled")
    val gz = dir.resolve("g.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write((0 until 150).map(i => s"$i,$i").mkString("a,b\n", "\n", "\n0.5,1\n").getBytes)
    finally out.close()
    assert(star(gz.toString) == "retried")
    val parts = dir.resolve("parts.csv")
    for (p <- 0 until 3)
      write(s"parts.csv/part-0000$p.csv", (0 until 60).map(i => s"${p * 60 + i},$p").mkString("a,b\n", "\n", "\n"))
    write("parts.csv/_SUCCESS", "")
    assert(star(parts.toString) == "sampled")
    write("parts.csv/part-00003.csv", "a,b\n1.5,3\n")
    assert(star(parts.toString) == "retried")
  }

  test("a plan that may leave values unconverted takes full inference") {
    val p = write("late.csv",
      ((0 until 150).map(i => s"k$i,$i") :+ "z,1.5").mkString("k,a\n", "\n", "\n"))
    // the limit can stop the scan before the miss
    assert(check(s"SELECT a FROM $p LIMIT 3", p) == "prepare-full")
    // the pushed filter on k skips converting a on rows it rejects
    assert(check(s"SELECT a FROM $p WHERE k = 'k3'", p) == "prepare-full")
    // a top-N reads all its input
    assert(check(s"SELECT a FROM $p ORDER BY a LIMIT 3", p) == "retried")
    // any pushed filter, even one on the last column, which skips nothing
    val q = write("late_last.csv",
      ((0 until 150).map(i => s"$i,k$i") :+ "1.5,z").mkString("a,k\n", "\n", "\n"))
    assert(check(s"SELECT a FROM $q WHERE k <> 'k3'", q) == "prepare-full")
    // a partition filter skips the k=2 file, whose 1.5 makes `a` a Float
    write("pdir.csv/k=1/part-00000.csv", (0 until 150).map(i => s"$i").mkString("a\n", "\n", "\n"))
    write("pdir.csv/k=2/part-00000.csv", "a\n1.5\n")
    val pdir = dir.resolve("pdir.csv").toString
    assert(check(s"SELECT AVG(a) FROM $pdir WHERE k = 1", pdir) == "prepare-full")
    assert(check(s"SELECT AVG(a) FROM $pdir", pdir) == "retried")
  }

  test("typecheck follows the exact types, whichever way they differ") {
    val p = write("typed.csv",
      ((0 until 150).map(i => s"k$i,$i") :+ "z,1.5").mkString("k,a\n", "\n", "\n"))
    // Int > Float fails the sampled typecheck; the exact Float > Float passes
    assert(check(s"SELECT k FROM $p WHERE a > 140.0", p) == "prepare-full")
    // Float > Int fails the exact typecheck: the sampled query fails it at render
    val sql = s"SELECT k FROM $p WHERE a > 140"
    val exact = intercept[Dialect.TypecheckException](Dialect.prepareExact(spark, sql))
    val sampled = intercept[Dialect.TypecheckException](Formats.render(Dialect.prepare(spark, sql), "csv"))
    assert(sampled.getMessage == exact.getMessage)
  }
}

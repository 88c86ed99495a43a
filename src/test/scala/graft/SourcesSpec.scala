package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import graft.octo.{Formats, JsonLineException}
import graft.sources.{OctoJson, PathTable}
import graft.sql.Dialect

/** File-source round-trips the reference supports (CSV/TSV/JSON/lines,
  * SURVEY §2.1) — the driver gate only exercises parquet, so these pin
  * the other formats.
  */
class SourcesSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft_src").toFile

  private def write(name: String, content: String): String = {
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  test("csv scan with header + schema inference") {
    val p = write("t.csv", "a,b,c\n1,2.5,x\n2,3.5,y\n")
    val df = PathTable.resolve(spark, p)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 2)
    assert(df.schema("a").dataType.typeName == "integer")
    assert(df.schema("b").dataType.typeName == "double")
  }

  test("tsv scan") {
    val p = write("t.tsv", "a\tb\n1\tx\n2\ty\n")
    val df = PathTable.resolve(spark, p)
    assert(df.count() == 2 && df.columns.length == 2)
  }

  test("csv without header (?header=false)") {
    val p = write("nh.csv", "1,x\n2,y\n")
    val df = PathTable.resolve(spark, s"$p?header=false")
    assert(df.count() == 2)
    assert(df.columns.head.startsWith("_c"))
  }

  test("jsonlines scan with union-shape schema merge") {
    val p = write("t.json",
      """{"a": 1, "b": "x"}
        |{"a": 2, "c": true}
        |""".stripMargin)
    val df = PathTable.resolve(spark, p)
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("a", "b", "c"))
  }

  test("lines scan yields {number, text} in file order") {
    val p = write("t.log", "first\nsecond\nthird\n")
    val df = PathTable.resolve(spark, p)
    val rows = df.orderBy("number").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("first", "second", "third"))
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("parquet scan") {
    val df = PathTable.resolve(spark, s"$sf/nation.parquet")
    assert(df.count() == 25)
  }

  test("orc scan resolves by extension and round-trips parquet content") {
    val out = new java.io.File(dir, "nation_rt.orc").getAbsolutePath
    val src = PathTable.resolve(spark, s"$sf/nation.parquet")
    src.write.mode("overwrite").orc(out)
    val df = PathTable.resolve(spark, out)
    assert(df.count() == 25)
    assert(df.columns.toSet == src.columns.toSet)
    // format-prefixed form too (orc.<path> has a dot, so use read)
    assert(PathTable.read(spark, out, "orc").count() == 25)
  }

  test("lines numbering is per-file and the plan has no single-task Window") {
    // two files in one glob: numbers restart per file, like the
    // reference's per-file sequential numbering (lines/impl.go)
    val dir = java.nio.file.Files.createTempDirectory("graftlines")
    java.nio.file.Files.write(dir.resolve("a.log"), "a0\na1\na2\n".getBytes)
    java.nio.file.Files.write(dir.resolve("b.log"), "b0\nb1\n".getBytes)
    val df = PathTable.linesWithNumbers(spark, dir.toString + "/*.log")
    val rows = df.collect().map(r => (r.getString(2).split('/').last, r.getLong(0), r.getString(1)))
    val byFile = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._2, x._3)).toSeq).toMap
    assert(byFile("a.log") == Seq((0L, "a0"), (1L, "a1"), (2L, "a2")))
    assert(byFile("b.log") == Seq((0L, "b0"), (1L, "b1")))
    // scale guard: the round-1 implementation funnelled everything
    // through one task via Window.orderBy(monotonically_increasing_id())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unpartitioned Window crept back into the lines plan:\n$plan")
  }

  /** `body`'s result, the jobs it started and its tasks' input bytes. */
  private def io[T](body: => T): (T, Long, Long) = {
    val jobs = new AtomicLong
    val bytesRead = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytesRead.addAndGet(m.inputMetrics.bytesRead))
    }
    ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusBridge.drain(spark.sparkContext)
      (out, jobs.get, bytesRead.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a CLI group-by over a CSV of more than 100 records reads the file once") {
    val p = write("once.csv", (1 to 5000).map(i => s"${i % 7},$i").mkString("k,v\n", "\n", "\n"))
    val (prep, prepJobs, prepBytes) =
      io(Dialect.prepare(spark, s"SELECT k, COUNT(*), SUM(v) FROM $p GROUP BY k"))
    // the schema came from the sample: nothing ran before the query's own jobs
    assert(prep.exact.isDefined)
    assert(prepJobs == 0 && prepBytes == 0)
    val (out, jobs, bytes) = io(Formats.render(prep, "csv"))
    assert(out.linesIterator.size == 8, out)
    assert(jobs > 0)
    assert(bytes == new java.io.File(p).length)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def validationError(path: String): JsonLineException =
    intercept[JsonLineException](OctoJson.validate(spark, path))

  test("json validation numbers a bad line in a later split of a file") {
    val lines = (0 until 60).map(i => s"""{"id": $i, "name": "row number $i"}""")
      .updated(41, """{"id": 41, "name": oops}""")
    val p = write("split.json", lines.mkString("", "\n", "\n"))
    val expected = intercept[JsonLineException](OctoJson.validateLines(lines))
    withConf("spark.sql.files.maxPartitionBytes" -> "400") {
      assert(spark.read.text(p).rdd.getNumPartitions > 2)
      val (e, jobs, _) = io(validationError(p))
      assert(e.line == 42)
      assert(e.getMessage == expected.getMessage)
      assert(jobs == 1)
    }
  }

  test("json validation numbers a bad line in the second of two files per file") {
    val d = Files.createTempDirectory("graft_jv")
    Files.writeString(d.resolve("a.json"), (0 until 5).map(i => s"""{"a": $i}""").mkString("\n"))
    val b = Seq("""{"b": 0}""", """{"b": 1}""", "[1, 2]", """{"b": 3}""")
    Files.writeString(d.resolve("b.json"), b.mkString("\n"))
    val expected = intercept[JsonLineException](OctoJson.validateLines(b))
    assert(validationError(d.toString).getMessage == expected.getMessage)
    Files.writeString(d.resolve("b.json"), """{"b": 0}""")
    OctoJson.validate(spark, d.toString)
  }
}

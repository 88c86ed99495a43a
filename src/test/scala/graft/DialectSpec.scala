package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import graft.sql.Dialect

/** Output-naming and typecheck rules of the strict dialect front-end,
  * unit-tested beyond the golden corpus (reference parser.go:120-200,
  * map.go:99-125).
  */
class DialectSpec extends SparkSpec {

  private def runCli(sql: String, flags: String*): (String, String, Int) = {
    val out = new ByteArrayOutputStream(); val err = new ByteArrayOutputStream()
    val code = Cli.execute(spark, Cli.parseArgs(Array(sql) ++ flags), ".", None,
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"))
    (out.toString("UTF-8"), err.toString("UTF-8"), code)
  }

  private def names(sql: String): Seq[String] =
    Dialect.prepare(spark, sql).names

  test("aggregate naming: agg_field, count for star, alias wins, _N dedup") {
    val dir = java.nio.file.Files.createTempDirectory("dn")
    java.nio.file.Files.write(dir.resolve("t.json"),
      """{"k": "a", "v": 1, "w": 2}
        |{"k": "b", "v": 3, "w": 4}
        |""".stripMargin.getBytes)
    val p = s"$dir/t.json"
    assert(names(s"SELECT COUNT(*), SUM(v), SUM(w) FROM $p") ==
      Seq("count", "sum_v", "sum_w"))
    // qualifier stripped in aggregate field names (sum_field2 style)
    assert(names(s"SELECT SUM(t.v) FROM $p t") == Seq("sum_v"))
    // duplicates get _N suffixes like getUniqueName
    assert(names(s"SELECT SUM(v), SUM(v) FROM $p") == Seq("sum_v", "sum_v_1"))
    // aliases always win
    assert(names(s"SELECT SUM(v) AS total, COUNT(*) FROM $p") ==
      Seq("total", "count"))
    // group-by keys keep their (qualifier-stripped) names
    assert(names(s"SELECT k, COUNT(*) FROM $p GROUP BY k") == Seq("k", "count"))
  }

  test("non-aggregate naming: variables as written, col_N for expressions") {
    assert(names("SELECT 1 + 2, 'x', true") == Seq("col_0", "col_1", "col_2"))
    assert(names("SELECT 1 AS one, 2") == Seq("one", "col_1"))
  }

  test("outer-join typecheck rejects non-equi predicates (CLI parity)") {
    val (_, err, code) = runCli(
      "SELECT * FROM range(start=>1, end=>3) l LEFT JOIN range(start=>1, end=>3) r ON l.i > r.i")
    assert(code == 1)
    assert(err.contains("Error: typecheck error: outer join predicate must be a conjunction of equalities"))
    // inner joins with theta predicates stay allowed
    val (out, _, code2) = runCli(
      "SELECT * FROM range(start=>1, end=>3) l JOIN range(start=>1, end=>3) r ON l.i > r.i")
    assert(code2 == 0 && out.contains("| l.i | r.i |"))
  }

  test("CLI group-by renders the octosql table with sorted rows") {
    val dir = java.nio.file.Files.createTempDirectory("dn2")
    java.nio.file.Files.write(dir.resolve("d.csv"),
      "k,v\nb,2\na,1\nb,4\n".getBytes)
    val (out, _, code) = runCli(s"SELECT k, SUM(v) FROM $dir/d.csv GROUP BY k")
    assert(code == 0)
    // live_table sorts by octosql value order; sum named sum_v
    assert(out ==
      """+-----+-------+
        ||  k  | sum_v |
        |+-----+-------+
        || 'a' |     1 |
        || 'b' |     6 |
        |+-----+-------+
        |""".stripMargin)
  }

  test("tumble TVF SQL over a STREAMING source runs as a streaming agg") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Long, String)]
    mem.toDF().toDF("epoch", "k")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("k"))
      .createOrReplaceTempView("stream_src")
    // the reference's TVF SQL shape, bound to a streaming view
    val prep = Dialect.prepare(spark,
      """SELECT window_start, k, count(*) AS n
        |FROM tumble(source => TABLE stream_src,
        |            time_field => DESCRIPTOR ts,
        |            window_length => INTERVAL 1 HOUR)
        |GROUP BY window_start, k""".stripMargin)
    assert(prep.df.isStreaming, "tumble SQL over a stream must stay streaming")
    val q = prep.df.writeStream.outputMode("complete")
      .format("memory").queryName("tvf_stream").start()
    try {
      mem.addData((3600L, "a"), (3700L, "a"), (7300L, "b"))
      q.processAllAvailable()
      val rows = spark.table("tvf_stream").collect()
        .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((3600L, "a", 2L), (7200L, "b", 1L)))
    } finally q.stop()
  }

  test("hop TVF (named args) equals the DataFrame hop") {
    import org.apache.spark.sql.functions._
    Engine.table(spark, sf, "events").createOrReplaceTempView("hop_src")
    val sqlForm = Dialect.prepare(spark,
      """SELECT window_start, event_type, count(*) AS n
        |FROM hop(source => TABLE hop_src,
        |         time_field => DESCRIPTOR ts,
        |         window_length => INTERVAL 1 HOUR,
        |         hop_length => INTERVAL 30 MINUTE)
        |GROUP BY window_start, event_type""".stripMargin).df
    val dfForm = graft.streaming.Streams
      .hop(Engine.table(spark, sf, "events"), "ts", "1 hour", "30 minutes")
      .groupBy("window_start", "event_type").agg(count(lit(1)).as("n"))
    val s = sqlForm.collect().map(r =>
      (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val d = dfForm.collect().map(r =>
      (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(s == d && s.nonEmpty)
  }

  test("naming applies to the main select of a WITH query, not the CTEs") {
    val dir = java.nio.file.Files.createTempDirectory("dn3")
    java.nio.file.Files.write(dir.resolve("w.csv"), "k,v\na,1\nb,2\na,3\n".getBytes)
    val (out, err, code) = runCli(
      s"""WITH agg AS (SELECT k, SUM(v) AS s FROM $dir/w.csv GROUP BY k)
         |SELECT k, s + 10 FROM agg""".stripMargin)
    assert(code == 0, s"stderr: $err")
    // main select: k keeps its name, the expression becomes col_1
    assert(out.contains("|  k  | col_1 |"), s"got:\n$out")
    assert(out.contains("| 'a' |    14 |"))
    assert(out.contains("| 'b' |    12 |"))
  }

  test("duration arithmetic keeps nanosecond precision end to end") {
    val (out, _, _) = runCli("SELECT INTERVAL 7 SECOND / 3")
    assert(out.contains("2.333333333s"))
    // unquoted fractional intervals parse too (review finding: the
    // float-literal pass used to mangle them)
    val (out2, _, _) = runCli("SELECT INTERVAL 1.5 SECOND")
    assert(out2.contains("1.5s"), s"got:\n$out2")
  }

  test("review regressions: binding, typecheck and ordering edge cases") {
    val dir = java.nio.file.Files.createTempDirectory("rr")
    java.nio.file.Files.write(dir.resolve("d.csv"), "k,v\na,2\nb,1\n".getBytes)
    val p = s"$dir/d.csv"
    // (1) a path table after a parenthesized subquery still binds
    val (out1, err1, c1) = runCli(s"SELECT one, k FROM (SELECT 1 AS one) s, $p")
    assert(c1 == 0, s"stderr: $err1")
    assert(out1.contains("'a'") && out1.contains("'b'"))
    // (2) unspaced non-equi outer-join predicate is still rejected
    val (_, err2, c2) = runCli(
      s"SELECT * FROM $p l LEFT JOIN $p r ON l.v>r.v")
    assert(c2 == 1 && err2.contains("conjunction of equalities"))
    // (3) an inner join's theta-ON inside a subquery must NOT trip the
    // outer join's typecheck
    val (_, err3, c3) = runCli(
      s"SELECT * FROM $p a LEFT JOIN (SELECT x.k FROM $p x JOIN $p y ON x.v < y.v) s ON s.k = a.k")
    assert(c3 == 0, s"stderr: $err3")
    // (4) ORDER BY inside a subquery does not suppress the live-table
    // value sort of the outer query
    val (out4, _, _) = runCli(
      s"SELECT k FROM (SELECT k FROM $p ORDER BY v DESC) s")
    val aIdx = out4.indexOf("'a'"); val bIdx = out4.indexOf("'b'")
    assert(aIdx >= 0 && bIdx >= 0 && aIdx < bIdx, s"got:\n$out4")
    // (4b) ORDER BY ties render in octosql value order (reference
    // breaks btree-key ties by full record values)
    java.nio.file.Files.write(dir.resolve("ties.csv"),
      "g,v\nx,2\nx,1\ny,9\n".getBytes)
    val (outT, _, _) = runCli(s"SELECT g, v FROM $dir/ties.csv ORDER BY g")
    val idx1 = outT.indexOf("| 1 |"); val idx2 = outT.indexOf("| 2 |")
    assert(idx1 >= 0 && idx2 >= 0 && idx1 < idx2, s"got:\n$outT")
    // (4c) flag-surface parity: unknown flags and bad output formats err
    val (_, errF, cF) = runCli("SELECT 1", "--banana")
    assert(cF == 1 && errF.contains("unknown flag: --banana"))
    val (_, errO, cO) = runCli("SELECT 1", "-o", "csvv")
    assert(cO == 1 && errO.contains("invalid output format: 'csvv'"))
    // (5) a missing required TVF argument is a typecheck error, not a
    // None.get crash
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    spark.range(3).select(timestamp_seconds(col("id")).as("ts"))
      .createOrReplaceTempView("tvf_err_src")
    val (_, err5, c5) = runCli(
      "SELECT * FROM tumble(source => TABLE tvf_err_src, time_field => DESCRIPTOR ts)")
    assert(c5 == 1 && err5.contains("window_length"), s"stderr: $err5")
  }

  // ---- typed overload resolver: negative matrix ----------------------
  // Off-corpus type combinations the reference rejects at typecheck
  // (logical/function.go, logical/group_by.go, functions/functions.go
  // strict signatures). Before the resolver these silently took Spark's
  // implicit coercions; now they must produce the reference's exact
  // `unknown function/aggregate` text.

  private def typecheckError(sql: String): String =
    intercept[Dialect.TypecheckException](Dialect.prepare(spark, sql)).getMessage

  test("resolver negative matrix: arithmetic and comparisons") {
    assert(typecheckError("SELECT 1 + 2.0") == "unknown function: +(Int, Float)")
    assert(typecheckError("SELECT 1 - 'a'") == "unknown function: -(Int, String)")
    assert(typecheckError("SELECT 2.0 * 3") == "unknown function: *(Float, Int)")
    assert(typecheckError("SELECT 7 / 2.0") == "unknown function: /(Int, Float)")
    assert(typecheckError("SELECT now() - now()") == "unknown function: -(Time, Time)")
    assert(typecheckError("SELECT 1 < 2.0") == "unknown function: <(Int, Float)")
    assert(typecheckError("SELECT 1 >= 'a'") == "unknown function: >=(Int, String)")
    assert(typecheckError("SELECT 1 < NULL") == "unknown function: <(Int, NULL)")
  }

  test("resolver negative matrix: scalar functions") {
    assert(typecheckError("SELECT sqrt(49)") == "unknown function: sqrt(Int)")
    assert(typecheckError("SELECT upper(1)") == "unknown function: upper(Int)")
    assert(typecheckError("SELECT substr('abc', 1.0)") ==
      "unknown function: substr(String, Float)")
    assert(typecheckError("SELECT not(1)") == "unknown function: not(Int)")
    assert(typecheckError("SELECT len(1)") == "unknown function: len(Int)")
    assert(typecheckError("SELECT int(now())") == "unknown function: int(Time)")
    assert(typecheckError("SELECT time_to_unix('abc')") ==
      "unknown function: time_to_unix(String)")
    assert(typecheckError("SELECT 'a' ~ 1") == "unknown function: ~(String, Int)")
    assert(typecheckError("SELECT 'a' LIKE 1") == "unknown function: like(String, Int)")
    assert(typecheckError("SELECT pow(2.0, 3)") == "unknown function: pow(Float, Int)")
  }

  test("resolver negative matrix: aggregates (group_by.go:114-172)") {
    val r = "range(start=>1, end=>4) r"
    assert(typecheckError(s"SELECT sum('a') FROM $r") == "unknown aggregate: sum(String)")
    assert(typecheckError(s"SELECT avg(true) FROM $r") == "unknown aggregate: avg(Boolean)")
    assert(typecheckError(s"SELECT sum_distinct('a') FROM $r") ==
      "unknown aggregate: sum_distinct(String)")
    // min has no Time overload while max does (aggregates/min.go vs max.go)
    assert(typecheckError(s"SELECT min(now()) FROM $r") == "unknown aggregate: min(Time)")
    val maxRows = Dialect.prepare(spark, s"SELECT max(now()) FROM $r").df.collect()
    assert(maxRows.length == 1 && maxRows(0).get(0) != null)
  }

  test("resolver aggregates compose: HAVING, ORDER BY agg, expressions, DISTINCT") {
    val dir = java.nio.file.Files.createTempDirectory("hv")
    java.nio.file.Files.write(dir.resolve("t.csv"),
      "k,v\na,1\na,2\nb,5\nb,1\nc,1\n".getBytes)
    val p = s"$dir/t.csv"
    val having = Dialect.prepare(spark,
      s"SELECT k, sum(v) AS s FROM $p GROUP BY k HAVING sum(v) > 2").df
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(having == Set(("a", 3L), ("b", 6L)))
    val orderAgg = Dialect.prepare(spark,
      s"SELECT k FROM $p GROUP BY k ORDER BY sum(v) DESC LIMIT 1").df
      .collect().map(_.getString(0)).toList
    assert(orderAgg == List("b"))
    // aggregate over an expression — avg(Int) still truncates per-group
    val aggExpr = Dialect.prepare(spark,
      s"SELECT k, avg(v + 1) AS a FROM $p GROUP BY k").df
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(aggExpr == Map("a" -> 2L, "b" -> 4L, "c" -> 2L))
    // Spark's DISTINCT syntax routes through the same typed aggregate
    val cd = Dialect.prepare(spark,
      s"SELECT count(distinct v) AS cd FROM $p").df.collect().head.getLong(0)
    assert(cd == 3L)
  }

  test("resolver positive controls: legal shapes still compute") {
    def one(sql: String): Any =
      Dialect.prepare(spark, sql).df.collect()(0).get(0)
    assert(one("SELECT 1 + 2") == 3L || one("SELECT 1 + 2") == 3)
    assert(one("SELECT NULL < NULL") == null)       // NULL < NULL typechecks
    assert(one("SELECT 'a' < 'b'") == true)
    assert(one("SELECT abs(-42)") == 42L)
    assert(one("SELECT substr('test', 1, 2)") == "es")
    // avg(Int) truncates toward zero like Go integer division
    assert(one("SELECT avg(i) FROM range(start=>1, end=>3) r") == 1L)
    assert(one("SELECT avg(i) FROM range(start=>1, end=>4) r") == 2L)
    // array_agg is value-sorted (reference btree state)
    assert(one("SELECT array_agg(v) FROM (SELECT i * 7 AS v FROM range(start=>1, end=>4) r) s")
      .asInstanceOf[scala.collection.Seq[_]].toList == List(7L, 14L, 21L))
    // int(Duration) is the nanosecond count, like Go int64(d)
    assert(one("SELECT int(INTERVAL 2 SECOND)") == 2000000000L)
    // CLI renders resolver errors with the reference's error shape
    val (_, err, code) = runCli("SELECT 1 + 2.0")
    assert(code == 1 &&
      err.contains("Error: typecheck error: unknown function: +(Int, Float)"), err)
  }

  test("QUALIFY filters window aliases; ORDER BY/LIMIT stay outside the wrap") {
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 5), ("b", 6)).toDF("k", "v")
      .createOrReplaceTempView("qualify_t")
    val rows = Dialect.prepare(spark,
      """SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |FROM qualify_t QUALIFY rn <= 2 ORDER BY k, v LIMIT 3""".stripMargin).df
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    // filter-then-sort: top-2 per key -> (a,2)(a,3)(b,5)(b,6), limited to 3
    assert(rows == Seq(("a", 2), ("a", 3), ("b", 5)))
  }

  test("QUALIFY scope: a sibling branch's FROM doesn't capture an alias") {
    import spark.implicits._
    Seq(("a", 1)).toDF("k", "v").createOrReplaceTempView("qualify_sib_t")
    // the second set-op branch has NO FROM: its `1 qualify` is a column
    // alias, and the first branch's FROM (same depth, earlier) must not
    // promote it to the clause (ADVICE r6)
    val rows = Dialect.prepare(spark,
      """SELECT k AS c FROM qualify_sib_t
        |UNION ALL SELECT 'z' qualify""".stripMargin).df
      .collect().map(_.getString(0)).toSeq.sorted
    assert(rows == Seq("a", "z"))
    // and the clause itself still triggers after a genuine FROM
    val q = Dialect.prepare(spark,
      """SELECT k, row_number() OVER (ORDER BY v) AS rn
        |FROM qualify_sib_t QUALIFY rn = 1""".stripMargin).df
    assert(q.collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("DISTINCT ON keeps the first row per group by the ORDER BY") {
    import spark.implicits._
    Seq(("a", 1, 10), ("a", 2, 30), ("b", 3, 20), ("b", 4, 20))
      .toDF("k", "id", "score").createOrReplaceTempView("don_t")
    val rows = Dialect.prepare(spark,
      "SELECT DISTINCT ON (k) k, id FROM don_t ORDER BY k, score DESC, id").df
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("a", 2), ("b", 3)))
    // ORDER BY is required: an undefined "first" row is refused
    intercept[IllegalArgumentException] {
      Dialect.prepare(spark, "SELECT DISTINCT ON (k) k, id FROM don_t")
    }
    // plain DISTINCT is untouched
    val d = Dialect.prepare(spark, "SELECT DISTINCT k FROM don_t").df
      .collect().map(_.getString(0)).sorted.toSeq
    assert(d == Seq("a", "b"))
  }

  test("star EXCLUDE drops columns; a column named exclude survives") {
    import spark.implicits._
    Seq((1, "x", true)).toDF("a", "b", "exclude")
      .createOrReplaceTempView("excl_t")
    val cols = Dialect.prepare(spark,
      "SELECT * EXCLUDE (b) FROM excl_t").df.columns.toSeq
    assert(cols == Seq("a", "exclude"))
    val keep = Dialect.prepare(spark,
      "SELECT exclude FROM excl_t").df.columns.toSeq
    assert(keep == Seq("exclude"))
  }

  test("ASOF JOIN: inner drops unmatched, LEFT pads, <= goes forward") {
    import spark.implicits._
    Seq((1L, 10L, "e1"), (1L, 3L, "e2"), (2L, 7L, "e3"))
      .toDF("k", "t", "id").createOrReplaceTempView("asof_l")
    Seq((1L, 5L, 100.0), (1L, 9L, 200.0), (2L, 8L, 300.0))
      .toDF("k", "t", "v").createOrReplaceTempView("asof_r")
    def run(sql: String): Seq[(String, Any)] =
      Dialect.prepare(spark, sql).df.collect()
        .map(r => (r.getString(0), r.get(1))).sortBy(_._1).toSeq
    // backward inner: e1 -> 200 (latest <= 10), e2 -> none (dropped),
    // e3 -> none (8 > 7)
    val inner = run(
      """SELECT l.id, r.v AS v FROM asof_l l ASOF JOIN asof_r r
        |ON l.k = r.k AND l.t >= r.t""".stripMargin)
    assert(inner == Seq(("e1", 200.0)))
    // backward LEFT: unmatched rows survive null-padded
    val left = run(
      """SELECT l.id, r.v AS v FROM asof_l l ASOF LEFT JOIN asof_r r
        |ON l.k = r.k AND l.t >= r.t""".stripMargin)
    assert(left == Seq(("e1", 200.0), ("e2", null), ("e3", null)))
    // forward inner (<=): e2 -> 100 (earliest >= 3), e3 -> 300
    val fwd = run(
      """SELECT l.id, r.v AS v FROM asof_l l ASOF JOIN asof_r r
        |ON l.k = r.k AND l.t <= r.t""".stripMargin)
    assert(fwd == Seq(("e2", 100.0), ("e3", 300.0)))
    // unsupported shapes are refused, not silently misplanned
    intercept[Dialect.TypecheckException] {
      Dialect.prepare(spark,
        "SELECT l.id FROM asof_l l ASOF JOIN asof_r r ON l.t >= r.t")
    }
  }

  test("ASOF JOIN: SELECT * exposes no synthetic columns (ADVICE r6)") {
    import spark.implicits._
    Seq((1L, 10L, "e1"), (2L, 7L, "e3"))
      .toDF("k", "t", "id").createOrReplaceTempView("asof_star_l")
    Seq((1L, 5L, 100.0), (2L, 8L, 300.0))
      .toDF("k", "t", "v").createOrReplaceTempView("asof_star_r")
    val star = Dialect.prepare(spark,
      """SELECT * FROM asof_star_l l ASOF LEFT JOIN asof_star_r r
        |ON l.k = r.k AND l.t >= r.t""".stripMargin).df
    // no asof___rt (r.t is unreferenced), and the payload keeps its
    // bare name (v doesn't collide with a probe column)
    assert(star.columns.toSeq == Seq("k", "t", "id", "v"),
      star.columns.mkString(","))
    // referencing ra.<t> still works, through the internal column
    val rt = Dialect.prepare(spark,
      """SELECT l.id, r.t AS rt FROM asof_star_l l
        |ASOF JOIN asof_star_r r
        |ON l.k = r.k AND l.t >= r.t""".stripMargin).df
    assert(rt.columns.toSeq == Seq("id", "rt"))
    assert(rt.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1) == Seq(("e1", 5L)))
    // a payload name colliding with a probe column keeps the asof_
    // escape prefix under star, and qualified references still resolve
    Seq((1L, 5L, "build")).toDF("k", "t", "id")
      .createOrReplaceTempView("asof_star_rc")
    val clash = Dialect.prepare(spark,
      """SELECT l.id, r.id AS rid FROM asof_star_l l
        |ASOF JOIN asof_star_rc r
        |ON l.k = r.k AND l.t >= r.t""".stripMargin).df
    assert(clash.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("e1", "build")))
  }

  test("ASOF SELECT *: ra.<t> in a set-op branch reusing the alias does not leak asof___rt (ADVICE r7)") {
    import spark.implicits._
    Seq((1L, 10L, "e1")).toDF("k", "t", "id")
      .createOrReplaceTempView("asof_uni_l")
    Seq((1L, 5L, 100.0)).toDF("k", "t", "v")
      .createOrReplaceTempView("asof_uni_r")
    // the UNION ALL branch references r.t through its OWN alias r over
    // a plain join; the first statement's star expansion must not keep
    // the internal asof___rt column alive because of it
    val df = Dialect.prepare(spark,
      """SELECT * FROM asof_uni_l l ASOF JOIN asof_uni_r r
        |ON l.k = r.k AND l.t >= r.t
        |UNION ALL
        |SELECT l.k, r.t, l.id, r.v FROM asof_uni_l l
        |JOIN asof_uni_r r ON l.k = r.k""".stripMargin).df
    assert(!df.columns.contains("asof___rt"), df.columns.mkString(","))
    assert(df.columns.length == 4 && df.count() == 2)
  }

  test("keyword guards: columns named asof/qualify survive; ASOF maps stay scoped") {
    import spark.implicits._
    Seq((1, 2)).toDF("asof", "qualify").createOrReplaceTempView("kw_t")
    val r = Dialect.prepare(spark,
      "SELECT asof, qualify FROM kw_t WHERE qualify = 2").df.collect()
    assert(r.length == 1 && r(0).getInt(0) == 1 && r(0).getInt(1) == 2)
    // an unrelated subquery's bare column matching a right-payload name
    // is NOT rewritten (alias-qualified references only, statement-scoped)
    Seq((1L, 10L, "e1")).toDF("k", "t", "id")
      .createOrReplaceTempView("asof_sl")
    Seq((1L, 5L, 100.0)).toDF("k", "t", "v")
      .createOrReplaceTempView("asof_sr")
    Seq((100.0, "e1"), (999.0, "zz")).toDF("v", "tag")
      .createOrReplaceTempView("asof_promos")
    val rows = Dialect.prepare(spark,
      """SELECT l.id, r.v AS rv FROM asof_sl l ASOF JOIN asof_sr r
        |ON l.k = r.k AND l.t >= r.t
        |WHERE l.id IN (SELECT tag FROM asof_promos WHERE v > 2.0)""".stripMargin)
      .df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("e1", 100.0)))
  }

  test("DISTINCT ON over an aggregate is refused with a clear message") {
    import spark.implicits._
    Seq(("a", 1)).toDF("k", "v").createOrReplaceTempView("don_agg_t")
    val e = intercept[IllegalArgumentException] {
      Dialect.prepare(spark,
        """SELECT DISTINCT ON (k) k, sum(v) AS s FROM don_agg_t
          |GROUP BY k ORDER BY k, s""".stripMargin)
    }
    assert(e.getMessage.contains("aggregate"))
  }

  test("ASOF JOIN with a composite equality key") {
    import spark.implicits._
    Seq((1L, "x", 10L, "e1"), (1L, "y", 10L, "e2"))
      .toDF("k", "g", "t", "id").createOrReplaceTempView("asof_cl")
    Seq((1L, "x", 5L, 100.0), (1L, "y", 7L, 200.0), (1L, "x", 20L, 300.0))
      .toDF("k2", "g2", "t", "v").createOrReplaceTempView("asof_cr")
    val rows = Dialect.prepare(spark,
      """SELECT l.id, r.v AS v FROM asof_cl l ASOF JOIN asof_cr r
        |ON l.k = r.k2 AND l.g = r.g2 AND l.t >= r.t""".stripMargin).df
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(rows == Seq(("e1", 100.0), ("e2", 200.0)))
  }

  test("QUALIFY inside a parenthesized subquery is rewritten in place") {
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("b", 9)).toDF("k", "v")
      .createOrReplaceTempView("qualify_sub_t")
    val rows = Dialect.prepare(spark,
      """SELECT s.k, s.v FROM (
        |  SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |  FROM qualify_sub_t QUALIFY rn = 1
        |) s ORDER BY s.k""".stripMargin).df
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("a", 2), ("b", 9)))
  }

  private def gzip(path: java.nio.file.Path, text: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(path))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("a gzipped CSV binds as csv on the CLI path") {
    val dir = java.nio.file.Files.createTempDirectory("dgz")
    gzip(dir.resolve("d.csv.gz"), "k,v\nb,2\na,1\n")
    val (out, err, code) = runCli(s"SELECT k, v FROM $dir/d.csv.gz")
    assert(code == 0, err)
    assert(out ==
      """+-----+---+
        ||  k  | v |
        |+-----+---+
        || 'a' | 1 |
        || 'b' | 2 |
        |+-----+---+
        |""".stripMargin)
  }

  test("a gzipped JSON file binds as json on the CLI path") {
    val dir = java.nio.file.Files.createTempDirectory("dgz")
    gzip(dir.resolve("o.json.gz"), "{\"k\": \"b\", \"v\": 2}\n{\"k\": \"a\", \"v\": 1}\n")
    val (out, err, code) = runCli(s"SELECT k, v FROM $dir/o.json.gz", "--output", "csv")
    assert(code == 0, err)
    // octosql types JSON numbers as Float; inference read the gzip
    assert(out.linesIterator.toSeq.sorted == Seq("a,1", "b,2", "k,v"))
    val (desc, err2, code2) = runCli(s"SELECT k, v FROM $dir/o.json.gz", "--describe")
    assert(code2 == 0, err2)
    assert(desc.contains("'v'") && desc.contains("'Float'"), desc)
  }
}

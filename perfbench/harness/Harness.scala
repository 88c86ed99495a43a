package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession
import graft.{Engine, SparkEntry}
import graft.octo.Formats
import graft.sql.Dialect

/** JVM side of the benchmark: one closed-loop client driving graft's
  * public entry points (`Dialect.prepare` + `Formats.render`,
  * `SparkEntry.queries`) inside one `local[N]` session.
  *
  * Usage: Harness <spec.json>. The spec (written by run.py) names the
  * mode (`setup`: start the engine and exit; `run`: then run the first
  * pre-shuffled pass as the warm-up and the others as measured passes),
  * the inputs and where to write results. The engine counts as ready once `Engine.session` returns;
  * that moment goes to the spec's ready file at once.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(key: String, kind: String, query: String, sql: String,
                      output: String, describe: Boolean)

  private def op(n: JsonNode): Op =
    Op(n.path("key").asText(), n.path("kind").asText(), n.path("query").asText(),
      n.path("sql").asText(), n.path("output").asText("live_table"),
      n.path("describe").asBoolean(false))

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val cpus = spec.path("cpus").asInt()
    val dataDir = spec.path("data_dir").asText()
    val workDir = spec.path("work_dir").asText()

    val t0 = Clock.nowMs()
    val spark = Engine.session(s"local[$cpus]", cpus)
    val t1 = Clock.nowMs()
    val ready = mapper.createObjectNode()
      .put("ready_ms", t1).put("session_s", (t1 - t0) / 1e3)
      .put("jvm", System.getProperty("java.version")).put("spark", spark.version)
    val readyFile = new File(spec.path("ready_file").asText())
    val readyTmp = new File(readyFile.getPath + ".tmp")
    mapper.writeValue(readyTmp, ready)
    Files.move(readyTmp.toPath, readyFile.toPath, StandardCopyOption.ATOMIC_MOVE)

    if (spec.path("mode").asText() == "run") {
      val passes = spec.path("passes").elements().asScala.map(_.elements().asScala.map(op).toVector).toVector
      val runner = new Runner(spark, dataDir, spec.path("cli_dir").asText(), workDir)
      val warm = runner.warmUp(passes.head)
      val warmupS = (Clock.nowMs() - t1) / 1e3
      val out = runner.run(passes.tail, spec.path("trace").asBoolean())
      out.put("warmup_s", warmupS)
      out.set[JsonNode]("warmup_ops", warm)
      mapper.writeValue(new File(workDir, "result.json"), out)
    }
    spark.stop()
  }

  final class Runner(spark: SparkSession, dataDir: String, cliDir: String, workDir: String) {
    private val tracer = new Tracer(spark)
    private val resultsDir = new File(workDir, "results")
    private val outputs = mutable.Map.empty[String, String] // sha -> file name
    private var heapPeakBytes = 0L

    /** The warm-up: one untimed pass in which every result is kept for
      * the DuckDB comparison (the measured passes' noop sink keeps no
      * rows). It also brings the JIT and the page cache to the state the
      * measured passes start from.
      */
    def warmUp(pass: Vector[Op]): ArrayNode = {
      resultsDir.mkdirs()
      val recs = mapper.createArrayNode()
      pass.distinctBy(_.key).foreach(o => recs.add(runOp(o, -1, traced = false, keep = true)))
      recs
    }

    def run(passes: Vector[Vector[Op]], trace: Boolean): ObjectNode = {
      val recs = mapper.createArrayNode()
      var timedMs = 0.0
      // a traced run alternates untraced and traced passes (U T U ...)
      passes.zipWithIndex.foreach { case (pass, p) =>
        val traced = trace && p % 2 == 1
        if (traced) tracer.attach()
        pass.foreach { o =>
          val rec = runOp(o, p, traced, keep = false)
          timedMs += rec.path("end_ms").asDouble() - rec.path("start_ms").asDouble()
          recs.add(rec)
        }
        if (traced) tracer.detach()
      }
      val out = mapper.createObjectNode()
      out.put("passes", passes.length).put("timed_s", timedMs / 1e3)
        .put("heap_peak_mb", heapPeakBytes / 1048576.0)
      out.set[JsonNode]("ops", recs)
      val spans = mapper.createArrayNode()
      tracer.dump().foreach { s =>
        val n = spans.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("start", s.start).put("end", s.end)
        val a = n.putObject("attrs")
        s.attrs.foreach { case (k, v) => a.put(k, v) }
      }
      out.set[JsonNode]("spans", spans)
      val oracles = out.putObject("oracle_sql")
      passes.flatten.filter(_.kind != "cli").map(_.query).distinct
        .foreach(q => SparkEntry.oracleSql.get(q).foreach(oracles.put(q, _)))
      out
    }

    private def span[A](traced: Boolean, name: String)(f: => A): A =
      if (traced) tracer.span(name)(f) else f

    /** Runs one operation and returns its record. With `keep`, a
      * registry query writes its rows to parquet instead of the noop
      * sink. Rendered cli output is always kept, once per distinct text.
      */
    private def runOp(o: Op, pass: Int, traced: Boolean, keep: Boolean): ObjectNode = {
      val rec = mapper.createObjectNode().put("key", o.key).put("pass", pass).put("traced", traced)
      val opId = tracer.newId()
      val sink = if (keep && o.kind != "cli") Some(new File(resultsDir, o.key).getPath) else None
      var text: String = null
      val start = Clock.nowMs()
      try {
        text = if (traced) tracer.span("op", id = opId)(execute(o, traced, sink)) else execute(o, traced, sink)
        rec.put("ok", true)
        sink.foreach(_ => rec.put("result", o.key))
      } catch {
        case e: Throwable =>
          rec.put("ok", false).put("error", String.valueOf(e.getMessage).take(500))
          spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      }
      val end = Clock.nowMs()
      rec.put("start_ms", start).put("end_ms", end)
      if (traced) {
        rec.put("span", opId)
        val sc = spark.sparkContext
        rec.put("materialized_rdds", sc.getPersistentRDDs.size)
        rec.put("cached_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      }
      if (text != null) {
        val bytes = text.getBytes(UTF_8)
        val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
          .map("%02x".format(_)).mkString
        val file = outputs.getOrElseUpdate(sha, {
          val f = s"${o.key}.${sha.take(12)}.txt"
          Files.write(new File(resultsDir, f).toPath, bytes)
          f
        })
        rec.put("result", file).put("bytes_out", bytes.length).put("rows_out", rowsOut(o, text))
      }
      // between operations, untimed: the heap the operation retains
      // (its cached blocks, a drained table) is measured after a full
      // GC; then nothing carries over into the next one
      System.gc()
      if (pass >= 0)
        heapPeakBytes = math.max(heapPeakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      Engine.releaseCaches(spark)
      rec
    }

    /** The timed part of an operation; returns the rendered text of a
      * cli query, null for a registry query.
      */
    private def execute(o: Op, traced: Boolean, sink: Option[String]): String =
      o.kind match {
        case "cli" =>
          val prep0 = span(traced, "sql.prepare") {
            Dialect.prepare(spark, o.sql, Dialect.Ctx(cliDir))
          }
          val prep1 = if (o.describe) Formats.describeRows(prep0) else prep0
          val prep = if (!traced) prep1 else prep1.copy(validations =
            prep1.validations.map(v => () => tracer.span("sources.validate")(v())))
          span(traced, "octo.render")(Formats.render(prep, o.output))
        case "batch" | "stream" =>
          val w = SparkEntry.queries(o.query)(spark, dataDir).write.mode("overwrite")
          sink match {
            case Some(dir) => w.parquet(dir)
            case None => w.format("noop").save()
          }
          null
      }

    private def rowsOut(o: Op, text: String): Int = {
      val lines = text.split('\n').count(_.nonEmpty)
      o.output match {
        case "csv" => lines - 1
        case "json" | "stream_native" => lines
        case _ => math.max(0, lines - 4) // live_table: 3 rules + header
      }
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Every query execution a block runs, as the session's
  * QueryExecutionListener sees it: eager materializations inside an
  * operator are jobs of their own, so the final DataFrame's plan alone
  * does not show where a shuffle, an aggregate or a cap report lives.
  */
object PlanCapture {
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** Write the executed plan of every job a registry query runs (its
    * eager materializations and the final collect) to
    * `<outDir>/<query>_<tag>.txt`.
    * Run: sbt "Test/runMain graft.PlanCapture <sfDir> <outDir> <tag> <query>..."
    */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val spark = Engine.session("local[4]", 4)
    new java.io.File(outDir).mkdirs()
    args.drop(3).foreach { name =>
      val (_, qes) = executions(spark) {
        SparkEntry.queries(name)(spark, sfDir).collect()
      }
      val text = qes.zipWithIndex.map { case ((f, qe), i) =>
        s"== job ${i + 1}: $f ==\n${qe.executedPlan}\n"
      }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), text)
      Engine.releaseCaches(spark)
    }
    spark.stop()
  }
}

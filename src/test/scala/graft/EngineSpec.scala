package graft

class EngineSpec extends SparkSpec {

  test("reapplyConf sets runtime entries on a running session and names the static ones") {
    val runtimeKey = "spark.graft.test.reapply"
    val overrides = Seq(
      runtimeKey -> "7",
      // already holds the value: nothing to apply, nothing to report
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> "/nonexistent-warehouse",   // SQL static
      "spark.shuffle.sort.bypassMergeThreshold" -> "7")         // Spark core
    try {
      val ignored = Engine.reapplyConf(spark, overrides)
      assert(spark.conf.get(runtimeKey) == "7")
      assert(ignored == Seq("spark.sql.warehouse.dir",
        "spark.shuffle.sort.bypassMergeThreshold"), ignored)
      assert(spark.conf.get("spark.sql.warehouse.dir") != "/nonexistent-warehouse")
    } finally spark.conf.unset(runtimeKey)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design notes (100 TB scale): the session pins UTC, enables AQE
  * (runtime shuffle-partition coalescing + skew-join splitting) and a
  * realistic broadcast threshold so dimension tables (region, nation,
  * customer at small SF; anything under the threshold at large SF)
  * broadcast instead of shuffling the fact side. `shuffle.partitions`
  * is a *starting* value — AQE coalesces down / splits skew at runtime,
  * which is the setting that survives a 1000-executor scale-up.
  */
object Engine {

  /** All driver-generated test tables (TESTDATA.md). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // octosql-style null-on-fail casts / OOB indexing (and DuckDB-like
      // non-erroring semantics) instead of Spark 4's ANSI errors:
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.crossJoin.enabled", "true")
      // testdata events.parquet uses TIMESTAMP(NANOS) which Spark's
      // vectorized reader rejects; read as long and convert (table()).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local-profile streaming state width (see
      // Streams.withStatePartitions): stateful operators pin
      // shuffle.partitions at query start, and 32 state-store
      // partitions are pure per-batch overhead for a single-node
      // drain. On a cluster, override to O(total executor cores) via
      // SPARK_GRAFT_CONF — same scaling rule as shuffle.partitions.
      .config("spark.graft.streaming.statePartitions", "8")
      // r11 (guide §2.2 "M×R block growth"): force the sort-based
      // shuffle writer (UnsafeShuffleWriter — one sorted file + index
      // per MAP task) instead of BypassMergeSortShuffleWriter, which
      // fires whenever reduce width R <= 200 and writes R files per map
      // task, then mmaps + concatenates + deletes them. Thread dumps of
      // d3_minhash_lsh at local[32] showed executor threads spending
      // most of their RUNNABLE time in FileOutputStream.open0 /
      // FileChannel.map/unmap from exactly that path: M=32 maps × R=32
      // reduces = 1024 file creates + merges + deletes PER EXCHANGE.
      // Measured (interleaved A/B, min-of-passes): d3 4.37→2.41 s, d26
      // 4.64→2.59 s, d2 2.21→1.45 s, st8 1.20×, q98 1.12×, none worse
      // than noise; per-stage executor task time on the dedup family
      // dropped ~3× (40→13 s on d3). At production scale R > 200, so
      // the sort writer is what runs ANYWAY — this aligns the local
      // profile with at-scale behavior rather than tuning for local.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
    // optional conf overrides, e.g.
    // SPARK_GRAFT_CONF="spark.graft.rangeJoin.binSeconds=3600;spark.sql.x=y"
    // — lets a driver toggle engine knobs (the range-join rewrite rule,
    // AQE settings) without a code change. Applied at BUILDER time (not
    // spark.conf.set) so core/static SparkConf entries (shuffle writer
    // thresholds, memory settings) are settable too, not only SQL
    // runtime confs. A session that is already running keeps its static
    // entries: see reapplyConf.
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap {
      conf => conf.split(';').map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k.trim, v.trim)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entries must be key=value, got: $kv")
        }
      }
    }
    val called = System.currentTimeMillis()
    val spark = overrides
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    if (spark.sparkContext.startTime < called) { // an already running session
      val ignored = reapplyConf(spark, overrides)
      if (ignored.nonEmpty) System.err.println(
        "[graft] SPARK_GRAFT_CONF: the Spark session was already running; " +
        s"static entries not applied: ${ignored.mkString(", ")}")
    }
    spark.sparkContext.setLogLevel("WARN")
    registerCapListener(spark)
    graft.plans.VecExpressions.register(spark)
    graft.plans.PolyHashExpr.register(spark)
    graft.plans.UrlExprs.register(spark)
    graft.plans.SpoofExprs.register(spark)
    graft.plans.CharEntropyExpr.register(spark)
    graft.plans.GraftSqlFunctions.register(spark)
    // dialect scalar functions with analysis-time type dispatch
    // (len over string vs list, parse_time's Go layouts) — registered
    // once here so SQL behavior doesn't depend on which entry point ran
    graft.sql.Dialect.registerFunctions(spark)
    spark
  }

  /** Apply `overrides` to a session that is already running: runtime
    * entries are set with `spark.conf.set`; returns the keys of static
    * (SQL static or Spark core) entries that cannot change any more and
    * do not already hold the requested value.
    */
  private[graft] def reapplyConf(spark: SparkSession,
                                 overrides: Seq[(String, String)]): Seq[String] =
    overrides.flatMap { case (k, v) =>
      if (spark.conf.getOption(k).contains(v)) None
      else try { spark.conf.set(k, v); None }
      catch { case _: org.apache.spark.sql.AnalysisException => Some(k) }
    }

  /** No-silent-caps surveillance: every lossy candidate cap is one
    * [[graft.operators.Dedup.capDocFreq]] call, which observes its
    * input and output entry counts as `graft_<label>_{in,out}_<tag>_<cap>`
    * in the pass it already runs; this listener turns a pair with
    * in > out into a stderr line, so a 100×-scale user sees the dedup
    * went lossy instead of silently getting fewer pairs. Quiet when
    * nothing is dropped. The cap sites:
    *  - shingle doc-frequency `maxDocFreq` (label `cap`) in
    *    `Dedup.shingleIndex` and `Dedup.hashedShingleIndex`, the index
    *    of `ngramJaccardPairs`, `containmentPairs`, `substringDupPairs`,
    *    `minhashLshPairs`, d3 and d19; `ngramJaccardPairsLenBounded`
    *    caps its own (id, len, shingle) index the same way;
    *  - `Dedup.winnowPairs` fingerprint doc-frequency (label `cap`);
    *  - `Dedup.minhashLshCandidatesFromIndex` band buckets (label
    *    `bucketcap`): d3 and `minhashLshPairs`;
    *  - `Similarity.cosinePairsLsh` hyperplane buckets (label
    *    `bucketcap`): d6;
    *  - d19's band buckets (label `bucketcap`): the corpus side in the
    *    job that writes the bucketed index, the probe batch in its own
    *    materialization.
    * Every cap runs inside a job that completes whatever the pairs
    * downstream turn out to be (a materialization or a write), so its
    * report arrives even when the pair set is empty.
    */
  private val CapIn = "graft_([a-z]+)_in_(\\d+_(\\d+))".r

  private def registerCapListener(spark: SparkSession): Unit =
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val m = qe.observedMetrics
          m.foreach {
            case (CapIn(label, suffix, cap), inRow) =>
              m.get(s"graft_${label}_out_$suffix").foreach { outRow =>
                val in = inRow.getLong(0)
                val out = outRow.getLong(0)
                if (in > out) System.err.println(
                  s"[graft] $label(max=$cap): dropped ${in - out} of $in " +
                  "index entries over the key cap — candidate pairs are " +
                  "lossy there (raise the cap or accept)")
              }
            case _ =>
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Release every cached/persisted block in the session: clears the
    * SQL cache and eagerly unpersists surviving RDDs (localCheckpoint
    * blocks from CC/BPE rounds included — waiting for the
    * ContextCleaner to notice dead references lets 100+ queries' worth
    * of blocks squeeze the block manager). Operators that persist
    * corpus-scale intermediates (shingle indexes, band signatures,
    * ANN cells) cannot unpersist them before their RETURNED lazy plan
    * is consumed, so a session that chains many operator invocations
    * should call this between logical jobs — Bench, Verify and
    * ScalingBench do, after every query.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Normalize an event-time column to TimestampType regardless of how
    * the parquet writer encoded it: INT64 TIMESTAMP(NANOS) arrives as a
    * nanos-long under the legacy flag; timestamp[us] without timezone
    * metadata arrives as TIMESTAMP_NTZ (which streaming watermarks
    * reject). The session pins UTC, so the NTZ cast is a pure type
    * change — the micros value is identical.
    */
  def normalizeEventTime(df: DataFrame, timeCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(timeCol).dataType match {
      case LongType =>
        df.withColumn(timeCol, timestamp_micros(expr(s"$timeCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(timeCol, col(timeCol).cast(TimestampType))
      case _ => df
    }
  }

  /** Read one table from a scale-factor directory. Parquet native:
    * column pruning + predicate pushdown reach the scan for free.
    * `events.ts` is normalized to TimestampType (see normalizeEventTime).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTime(df, "ts") else df
  }

  /** Register every table in `dir` as a temp view so `spark.sql` works
    * over the whole star schema (the federation entry point).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    TableNames.foreach { n =>
      table(spark, dir, n).createOrReplaceTempView(n)
    }
}

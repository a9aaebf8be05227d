package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import perfbench.Main.{Config, secondsSince}
import scala.jdk.CollectionConverters._

/** The query workload. An operation is one declared query:
  * `SparkEntry.queries(name)` followed by `Bench.materialize`. */
object QueryWorkload {
  /** One plan per query with one or two shuffles: planning and scheduling
    * dominate. */
  val oneshot: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_star_join_revenue",
    "q06_filter_agg", "q07_broadcast_brand_volume", "q10_window_topk_per_group",
    "q13_rollup", "q16_distinct_counts", "q24_events_daily_window", "q27_exact_dedup",
    "q49_exact_percentiles", "q62_bloom_prefilter_join", "q72_corr_covar", "q81_grouping_sets")

  /** Driver-loop graph operators, then store maintenance that appends,
    * compacts and deletes on disk: tens of jobs per query. */
  val iterative: Seq[String] = Seq(
    "q211_label_propagation", "q82_pagerank_supply",
    "q159_bm25_incremental", "q190_store_forget")

  /** The set-up's warm-up operation, the cheapest query. */
  val warmup = "q06_filter_agg"

  /** Row count and an order-insensitive hash of the rows, observed during
    * the same execution that materializes them. Doubles are hashed at
    * float precision, so a different summation order does not count as a
    * different result. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => c.cast(FloatType)
        case ArrayType(DoubleType | FloatType, _) => transform(c, _.cast(FloatType))
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h")), obs)
  }

  def digest(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** Drops what a query left behind, as `graft.Bench` does between queries,
    * so one operation's pins and garbage do not tax the next. With
    * `measure`, returns the MiB of heap that this freed: what the query
    * still held when it returned (persisted RDDs, cached plans and data,
    * temp views); otherwise 0. */
  def reset(spark: SparkSession, measure: Boolean = false): Double = {
    val held = if (measure) Main.heapAfterGcMb() else 0.0
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    val after = Main.heapAfterGcMb()
    if (measure) held - after else 0.0
  }

  def pinsLeft(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size + org.apache.spark.sql.PerfbenchCache.entries(spark)

  /** Query name -> (rows, hash) pinned from a run checked against the
    * DuckDB oracle, as TSV lines `name, rows, hash`. */
  def readDigests(p: java.nio.file.Path): Map[String, (Long, Long)] =
    java.nio.file.Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(n, rows, h) = l.split("\t")
      n -> (rows.toLong, h.toLong)
    }.toMap

  /** The checked run: writes every result for the oracle compare, with its
    * digest, and times nothing. */
  def pin(cfg: Config, names: Seq[String]): Result = {
    val fns = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val res = new Result(cfg.workload, cfg.parallelism)
    val spark = graft.Sessions.local("perfbench")
    names.foreach { n =>
      val dir = cfg.runDir.resolve("checked").resolve(n).toString
      res.attempted += 1
      try {
        val (df, obs) = observed(fns(n)(spark, cfg.data))
        df.coalesce(1).write.mode("overwrite").parquet(dir)
        val (rows, h) = digest(obs)
        res.oracle(n) = (oracles.getOrElse(n, ""), dir, s"$rows\t$h")
      } catch { case e: Throwable => res.fail(s"$n: ${e.toString.take(300)}") }
      reset(spark)
    }
    spark.stop()
    res
  }

  def run(cfg: Config, names: Seq[String]): Result = {
    val res = new Result(cfg.workload, cfg.parallelism)
    val spans = new Spans

    // set-up, once and cold: the query registry, session start and one
    // warm-up operation
    val t0 = System.nanoTime()
    val fns = graft.SparkEntry.queries
    names.foreach(n => require(fns.contains(n), s"no declared query $n"))
    val spark = graft.Sessions.local("perfbench")
    graft.Bench.materialize(fns(warmup)(spark, cfg.data))
    res.setupS = secondsSince(t0)
    reset(spark)

    val pinned = readDigests(cfg.digests)
    val listener = new EngineListener
    if (cfg.trace) spark.sparkContext.addSparkListener(listener)
    def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val tracedCounts = scala.collection.mutable.Map.empty[String, Seq[listener.Counts]]
      .withDefaultValue(Seq.empty)
    var gapS, pins = 0.0
    // MiB each reset freed in the latest traced pass, by operation
    val freedMb = scala.collection.mutable.Map.empty[String, Double]

    def op(n: String, traced: Boolean): Double = {
      res.attempted += 1
      if (traced) drain()
      val before = if (traced) listener.snapshot else null
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      def body(): Observation = {
        val built =
          if (traced) spans("queries.build")(fns(n)(spark, cfg.data)) else fns(n)(spark, cfg.data)
        val (df, obs) = observed(built)
        if (traced) spans("queries.run")(graft.Bench.materialize(df)) else graft.Bench.materialize(df)
        obs
      }
      var latency = 0.0
      try {
        val obs = if (traced) spans.root(s"queries.$n")(body()) else body()
        latency = secondsSince(t0)
        val got = digest(obs)
        pinned.get(n) match {
          case Some(want) if want == got =>
          case Some(want) => res.fail(s"$n: rows/hash $got, pinned $want")
          case None => res.fail(s"$n: no pinned digest to compare with")
        }
      } catch { case e: Throwable =>
        latency = secondsSince(t0)
        res.fail(s"$n: ${e.toString.take(300)}")
      }
      if (traced) {
        val ms1 = System.currentTimeMillis()
        pins += pinsLeft(spark)
        drain()
        tracedCounts(n) = tracedCounts(n) :+ (listener.snapshot - before)
        gapS += ((ms1 - ms0) - listener.busyMs(ms0, ms1)) / 1000.0
      }
      val freed = reset(spark, measure = traced)
      if (traced) freedMb(n) = freed
      latency
    }

    val opsRatio = Main.timedPasses(cfg, res, names)(op)
    res.retainedHeapMb = Main.retainedHeapMb()

    if (cfg.trace) {
      val passes = cfg.passes.toDouble
      val L = res.layer
      val byName = spans.all.groupBy(_.name)
      val roots = spans.all.filter(_.parent == 0).map(s => s.id -> s.name).toMap
      def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
      names.foreach { n =>
        def part(p: String) = median(byName.getOrElse(p, Nil)
          .filter(s => roots.get(s.parent).contains(s"queries.$n")).map(_.seconds))
        L(s"queries.$n.build_s") = part("queries.build")
        L(s"queries.$n.run_s") = part("queries.run")
      }
      val all = tracedCounts.values.flatten.foldLeft(listener.Counts())(_ + _)
      L("spark.jobs") = all.jobs / passes
      L("spark.stages") = all.stages / passes
      L("spark.tasks") = all.tasks / passes
      L("spark.empty_tasks") = all.emptyTasks / passes
      L("spark.useful_task_ratio") =
        if (all.tasks == 0) 0.0 else (all.tasks - all.emptyTasks).toDouble / all.tasks
      L("spark.task_run_s") = all.runMs / 1000.0 / passes
      L("spark.task_cpu_s") = all.cpuNs / 1e9 / passes
      L("spark.cpu_ratio") = if (all.runMs == 0) 0.0 else all.cpuNs / 1e6 / all.runMs
      L("spark.gc_s") = all.gcMs / 1000.0 / passes
      L("spark.deserialize_s") = all.deserMs / 1000.0 / passes
      L("spark.shuffle_read_mb") = all.shuffleRead / 1048576.0 / passes
      L("spark.shuffle_write_mb") = all.shuffleWrite / 1048576.0 / passes
      L("spark.spill_mb") = all.spill / 1048576.0 / passes
      L("spark.driver_gap_s") = gapS / passes
      L("spark.pins_left") = pins / passes
      iterative.foreach { n =>
        val cs = tracedCounts(n)
        L(s"spark.$n.jobs") = cs.map(_.jobs).sum.toDouble / cs.size
        L(s"spark.$n.tasks") = cs.map(_.tasks).sum.toDouble / cs.size
      }
      // the heap after the last pass, plus what the benchmark's resets took
      // away from it during that pass: what the session would hold had the
      // pass's leftovers not been dropped
      L("jvm.retained_heap_mb") = res.retainedHeapMb + freedMb.values.sum
      L("trace.ops_ratio") = opsRatio
      spans.write(cfg.runDir.resolve("spans.jsonl"))
    }
    spark.stop()
    res
  }
}

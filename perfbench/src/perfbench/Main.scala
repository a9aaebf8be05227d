package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM side: runs one workload in a closed loop
  * (one client thread, one operation at a time) and writes the raw
  * samples as JSON for `perfbench/run.py`, which reports the metrics.
  * Set-up runs once, cold, at the start of the JVM. After untimed
  * warm-up passes, a run times a fixed number of whole passes over the
  * workload's operations, each timed pass in an order drawn from the seed; a
  * traced run alternates that many untraced passes with as many traced
  * ones.
  *
  * {{{ perfbench.Main --workload W --seed N --warmup-passes U --passes P --trace 0|1
  *        --run-dir D --out F [--data DIR --digests TSV] [--catalog SQL --expected TSV] }}}
  * Workload `pin` is the checked run that pins the query digests;
  * `init-metastore` creates the empty metastore every catalog run copies.
  */
object Main {
  final case class Config(workload: String, seed: Long, warmupPasses: Int, passes: Int,
                          trace: Boolean, runDir: Path, out: Path, data: String, catalog: Path,
                          expected: Path, digests: Path, parallelism: Int)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = o("workload"), seed = o("seed").toLong,
      warmupPasses = o.getOrElse("warmup-passes", "0").toInt, passes = o("passes").toInt,
      trace = o("trace") == "1", runDir = Paths.get(o("run-dir")), out = Paths.get(o("out")),
      data = o.getOrElse("data", ""), catalog = Paths.get(o.getOrElse("catalog", ".")),
      expected = Paths.get(o.getOrElse("expected", ".")),
      digests = Paths.get(o.getOrElse("digests", ".")),
      parallelism = Runtime.getRuntime.availableProcessors())
    val res = cfg.workload match {
      case "catalog_extract" => CatalogWorkload.run(cfg)
      case "queries" => QueryWorkload.run(cfg, QueryWorkload.oneshot ++ QueryWorkload.iterative)
      case "pin" => QueryWorkload.pin(cfg, QueryWorkload.oneshot ++ QueryWorkload.iterative)
      case "init-metastore" => CatalogWorkload.initMetastore(cfg)
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(cfg.out, res.json)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `warmupPasses` untimed passes, then `passes` timed whole passes
    * (twice that, alternating untraced and traced, when tracing), each
    * timed pass in an order drawn from the seed. `op` returns the
    * operation's latency in seconds; what the benchmark does between
    * operations (output checks, resets) is outside it. Returns the
    * traced-over-untraced throughput ratio over operation time (1.0 when
    * not tracing). */
  def timedPasses[T](cfg: Config, res: Result, ops: Seq[T])(op: (T, Boolean) => Double): Double = {
    val rng = new scala.util.Random(cfg.seed)
    // warm-up in declared order, so every seed starts timing from the same
    // warmed state; the JIT's profile depends on the order it saw
    (1 to cfg.warmupPasses).foreach(_ => ops.foreach(op(_, false)))
    val busy = Array(0.0, 0.0) // untraced, traced
    (0 until (if (cfg.trace) 2 * cfg.passes else cfg.passes)).foreach { pass =>
      val traced = cfg.trace && pass % 2 == 1
      val t0 = System.nanoTime()
      rng.shuffle(ops).foreach { o =>
        val latency = op(o, traced)
        res.latencies += latency
        res.opNames += o.toString
        busy(if (traced) 1 else 0) += latency
      }
      res.passWalls += secondsSince(t0)
    }
    if (cfg.trace) busy(0) / busy(1) else 1.0
  }

  /** Heap in use after full collections, in MiB: the least of five
    * readings, so a collection that ran beside a late allocation does not
    * count. */
  def retainedHeapMb(): Double = (1 to 5).map { _ => Thread.sleep(50); heapAfterGcMb() }.min

  /** Heap in use right after one full collection, in MiB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Raw samples of one run; latencies and pass walls are seconds. */
final class Result(val workload: String, val parallelism: Int) {
  var setupS = 0.0
  val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
  val opNames = scala.collection.mutable.ArrayBuffer.empty[String]
  val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var retainedHeapMb = 0.0
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Checked run only: query name -> (oracle SQL, directory of the
    * written result, "rows<TAB>hash" digest). */
  val oracle = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)]

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
  }

  def json: String = {
    def arr(xs: Iterable[Double]) = xs.map(d => f"$d%.9f").mkString("[", ",", "]")
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s"${graft.Json.quote(k)}:$v" }
      .mkString("{", ",", "}")
    obj(Seq(
      "workload" -> graft.Json.quote(workload),
      "parallelism" -> parallelism.toString,
      "setup_s" -> f"$setupS%.9f",
      "latencies_s" -> arr(latencies),
      "op_names" -> opNames.map(graft.Json.quote).mkString("[", ",", "]"),
      "pass_s" -> arr(passWalls),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(graft.Json.quote).mkString("[", ",", "]"),
      "retained_heap_mb" -> f"$retainedHeapMb%.3f",
      "layer" -> obj(layer.map { case (k, v) => k -> f"$v%.9f" }),
      "oracle" -> obj(oracle.map { case (k, (sql, dir, digest)) =>
        k -> obj(Seq("sql" -> graft.Json.quote(sql), "dir" -> graft.Json.quote(dir),
          "digest" -> graft.Json.quote(digest))) })))
  }
}

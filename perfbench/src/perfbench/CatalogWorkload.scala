package perfbench

import graft.catalog.{CatalogOps, DdlExtract, DdlExtractor, ExtractConfig, HiveSessions,
  PartitionRestore, ScriptReplay, ScriptWriter}
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import org.apache.spark.sql.SparkSession
import perfbench.Main.{Config, secondsSince}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The catalog workload. An operation is one database's CLI-equivalent
  * extraction: the calls `ExtractMain.main` makes between session start
  * and stop (`listDatabases`, `countTables`, then the extraction and the
  * file write), with `parallelism` = the host's processor count. */
object CatalogWorkload {
  private val cfgExtract = ExtractConfig()

  /** One generated table and the restore decision the generator expects:
    * `none` (unpartitioned), `msck`, or `add` with one line per partition. */
  final case class Expected(db: String, table: String, decision: String, partitions: Int)

  def readExpected(p: Path): Seq[Expected] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(db, t, d, n) = l.split("\t")
      Expected(db, t, d, n.toInt)
    }

  /** Checks one database's script against the generator's expectations. */
  def checkScript(db: String, script: String, tables: Seq[Expected]): Option[String] = {
    val lines = script.linesIterator.toSeq
    val created = lines.collect { case l if l.startsWith("!sh echo \"Creating table: ") =>
      l.stripPrefix("!sh echo \"Creating table: ").stripSuffix("...\";") }
    if (created.sorted != tables.map(_.table).sorted)
      return Some(s"$db: tables in script ${created.size}, generated ${tables.size}")
    tables.foreach { t =>
      val msck = lines.count(_ == s"MSCK REPAIR TABLE ${t.table};")
      val adds = lines.count(_.startsWith(s"ALTER TABLE ${t.table} ADD PARTITION "))
      val ok = t.decision match {
        case "none" => msck == 0 && adds == 0
        case "msck" => msck == 1 && adds == 0
        case "add" => msck == 0 && adds == t.partitions
      }
      if (!ok) return Some(s"$db.${t.table}: expected ${t.decision}/${t.partitions}, " +
        s"script has $msck MSCK and $adds ADD lines")
    }
    None
  }

  /** Creates an empty metastore under `runDir/metastore`. Catalog runs
    * start from a copy of it, as an extraction starts from an existing
    * metastore: creating the metastore schema is not part of set-up. */
  def initMetastore(cfg: Config): Result = {
    val spark = HiveSessions.local("perfbench", Some(cfg.runDir.resolve("metastore").toString))
    CatalogOps.listDatabases(spark, "*")
    spark.stop()
    new Result(cfg.workload, cfg.parallelism)
  }

  def run(cfg: Config): Result = {
    val res = new Result(cfg.workload, cfg.parallelism)
    val spans = new Spans
    val expected = readExpected(cfg.expected)
    val byDb = expected.groupBy(_.db)
    val dbs = byDb.keys.toSeq.sorted
    val script = Files.readString(cfg.catalog)
    val outDir = Files.createDirectories(cfg.runDir.resolve("extract"))
    val metastore = cfg.runDir.resolve("metastore").toString

    def extractOp(spark: SparkSession, db: String): (String, Int, Int) = {
      val found = CatalogOps.listDatabases(spark, db)
      val counted = CatalogOps.countTables(spark, found, "*")
      val r = DdlExtract.extract(spark, db, "*", cfgExtract, cfg.parallelism)
      ScriptWriter.write(outDir.resolve(s"$db.sql"), r.script)
      (r.script, counted, r.errorCount)
    }

    // set-up, once and cold: session start, loading the generated catalog
    // through the metastore write path, one warm-up operation
    val t0 = System.nanoTime()
    val spark = HiveSessions.local("perfbench", Some(metastore))
    val t1 = System.nanoTime()
    val statements = ScriptReplay.replay(spark, script)
    val replayS = secondsSince(t1)
    extractOp(spark, dbs.head)
    res.setupS = secondsSince(t0)

    // the first pass pins each database's script after checking it
    // against the generator's expectations; later passes must match it
    val pinned = scala.collection.mutable.Map.empty[String, String]
    def check(db: String, s: String, counted: Int, errors: Int): Option[String] =
      if (errors != 0) Some(s"$db: $errors table errors")
      else if (counted != byDb(db).size) Some(s"$db: countTables gave $counted")
      else pinned.get(db) match {
        case Some(first) if first == s => None
        case Some(_) => Some(s"$db: script differs from the first pass's")
        case None => pinned(db) = s; checkScript(db, s, byDb(db))
      }

    // the traced re-drive of DdlExtract.extract through the layer's
    // public functions, in a pool of the same size
    def tracedOp(spark: SparkSession, db: String): (String, Int, Int) = spans.root("catalog.op") {
      // a fresh pool per extraction, as DdlExtract.extract makes one
      val pool = Executors.newFixedThreadPool(cfg.parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try tracedExtract(spark, db) finally pool.shutdown()
    }

    def tracedExtract(spark: SparkSession, db: String)(implicit ec: ExecutionContext): (String, Int, Int) = {
      val found = spans("catalog.list_databases")(CatalogOps.listDatabases(spark, db))
      val counted = found.map(d =>
        spans("catalog.list_tables")(CatalogOps.listTables(spark, d, "*")).size).sum
      val dbsAgain = spans("catalog.list_databases")(CatalogOps.listDatabases(spark, db))
      val perDb = dbsAgain.map { d =>
        val tables = spans("catalog.list_tables")(CatalogOps.listTables(spark, d, "*"))
        val sections = spans("catalog.fanout") {
          val parent = spans.current
          Await.result(Future.sequence(tables.map(t => Future {
            spans.under(parent, "catalog.table") {
              Try {
                val createSql = spans("catalog.show_create")(DdlExtractor.tableCreateSql(spark, d, t))
                val lines = spans("catalog.restore")(
                  PartitionRestore.restoreLines(spark, d, t, cfgExtract))
                spans("catalog.section")(ScriptWriter.tableSection(d, t, createSql, lines))
              } match {
                case Success(section) => (section, 0)
                case Failure(e) =>
                  val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.mkString(" ")
                  (s"\n-- ERROR extracting $d.$t: $msg\n", 1)
              }
            }
          })), Duration.Inf)
        }
        (spans("catalog.section")(ScriptWriter.databaseScript(d, cfgExtract, sections.map(_._1))),
          sections.map(_._2).sum)
      }
      val text = perDb.map(_._1).mkString
      spans("catalog.write")(ScriptWriter.write(outDir.resolve(s"$db.sql"), text))
      (text, counted, perDb.map(_._2).sum)
    }

    // The same per-table calls on one thread, outside the operation's time:
    // their sum over the fan-out's wall time is the parallelism the
    // fan-out gets out of its pool.
    def serialRedrive(spark: SparkSession, db: String): Unit = spans.root("catalog.serial") {
      CatalogOps.listTables(spark, db, "*").foreach { t =>
        spans("catalog.serial_table") {
          val createSql = spans("catalog.serial_show_create")(DdlExtractor.tableCreateSql(spark, db, t))
          val lines = spans("catalog.serial_restore")(
            PartitionRestore.restoreLines(spark, db, t, cfgExtract))
          ScriptWriter.tableSection(db, t, createSql, lines)
        }
      }
    }

    var tracedBytes, tracedRestoreLines = 0L
    def op(db: String, traced: Boolean): Double = {
      res.attempted += 1
      val t0 = System.nanoTime()
      var latency = 0.0
      try {
        val (s, counted, errors) = if (traced) tracedOp(spark, db) else extractOp(spark, db)
        latency = secondsSince(t0)
        check(db, s, counted, errors).foreach(msg =>
          res.fail(if (traced) s"$msg (traced re-drive of DdlExtract.extract)" else msg))
        if (traced) {
          serialRedrive(spark, db)
          tracedBytes += s.getBytes("UTF-8").length
          tracedRestoreLines += s.linesIterator.count(l =>
            l.startsWith("MSCK REPAIR TABLE ") || l.startsWith("ALTER TABLE "))
        }
      } catch { case e: Throwable =>
        latency = secondsSince(t0)
        res.fail(s"$db: ${e.toString.take(300)}")
      }
      latency
    }

    val opsRatio = Main.timedPasses(cfg, res, dbs)(op)
    res.retainedHeapMb = Main.retainedHeapMb()

    if (cfg.trace) {
      val passes = cfg.passes.toDouble
      val L = res.layer
      Seq("list_databases", "list_tables", "show_create", "restore").foreach { k =>
        L(s"catalog.${k}_s") = spans.total(s"catalog.$k") / passes
        L(s"catalog.${k}_calls") = spans.count(s"catalog.$k") / passes
      }
      L("catalog.restore_lines") = tracedRestoreLines / passes
      L("catalog.section_s") = spans.total("catalog.section") / passes
      L("catalog.write_s") = spans.total("catalog.write") / passes
      L("catalog.script_bytes") = tracedBytes / passes
      L("catalog.fanout_concurrency") =
        spans.total("catalog.serial_table") / spans.total("catalog.fanout")
      L("catalog.show_create_serial_ms") =
        1000 * spans.total("catalog.serial_show_create") / spans.count("catalog.serial_show_create")
      L("catalog.restore_serial_ms") =
        1000 * spans.total("catalog.serial_restore") / spans.count("catalog.serial_restore")
      L("catalog.replay_s") = replayS
      L("catalog.replay_statements") = statements
      L("trace.ops_ratio") = opsRatio
      spans.write(cfg.runDir.resolve("spans.jsonl"))
    }
    spark.stop()
    res
  }
}

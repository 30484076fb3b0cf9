package perfbench

import graft.analyzer.Analyzer
import graft.classify.SqlClassifier
import graft.cli.{ApplyMain, CliSpark}
import graft.config.ConfigLoader
import graft.exec._
import graft.loader.MigrationLoader
import graft.model.{EngineConfig, EngineError, Severity}
import graft.tracker.ParquetTracker
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/** Traced twin of `graft analyze|apply|rollback|status`: the same layer
  * calls the CLI mains make, with the tracker, runner, lock and every
  * rule wrapped in [[Traced]] decorators and each layer in a span.
  * Prints what the CLI prints for that command (analyze and status as
  * JSON) and writes the trace to `<trace.json>` at exit.
  *
  * Usage: TraceMain <trace.json> [--probe] <command> <dir> [<tracker>]
  *          [--steps N] [--jdbc-url URL]
  *
  * `--probe` additionally times SqlClassifier.parseOrThrow over the
  * directory's migrations after the command (span `probe.classify`).
  *
  * The analyze twin materializes the loader's Dataset before analyzing
  * it, so loader and analyzer jobs are told apart; the CLI runs them
  * as one fused query.
  */
object TraceMain {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val probe = args(1) == "--probe"
    val rest = args.drop(if (probe) 2 else 1).toVector
    val (pos, flags) = rest.tail.span(!_.startsWith("--"))
    def flag(name: String): Option[String] =
      Some(flags.indexOf(name)).filter(_ >= 0).map(i => flags(i + 1))
    val extra = Vector.newBuilder[(String, String)]
    extra += "command" -> Trace.jsonString(rest.head)
    val code =
      try {
        rest.head match {
          case "analyze" => analyze(pos(0), extra)
          case "apply" => apply(pos(0), pos(1), flag("--jdbc-url"), extra)
          case "rollback" => rollback(pos(0), pos(1),
            flag("--steps").get.toInt, flag("--jdbc-url"), extra)
          case "status" => status(pos(0), pos(1), extra)
        }
        0
      } catch {
        case e: EngineError =>
          System.err.println(s"error: ${e.getMessage}"); 1
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"error: $e"); 1
      }
    if (probe) {
      val ms = MigrationLoader.loadLocal(pos(0))
      val stmts = Trace.span("probe.classify")(
        ms.map(m => SqlClassifier.parseOrThrow(m.upSql).length).sum)
      extra += "classify_stmts" -> stmts.toString
    }
    Trace.write(out, extra.result())
    sys.exit(code)
  }

  private type Extra = scala.collection.mutable.Builder[(String, String),
    Vector[(String, String)]]

  /** Session + listener; `body` runs inside, stop is its own span. */
  private def withSession(build: => SparkSession)(
      body: SparkSession => Unit): Unit = {
    val spark = Trace.span("cli.session")(build)
    Trace.attach(spark.sparkContext)
    try body(spark)
    finally Trace.span("cli.stop")(spark.stop())
  }

  private def analyze(dir: String, extra: Extra): Unit = {
    val cfg = ConfigLoader.load("migrate.yml", allowMissing = true,
      flags = ConfigLoader.Overrides(format = Some("json")))
    withSession {
      val s = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
        .appName("graft-analyze")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    } { spark =>
      import spark.implicits._
      val migrations = Trace.span("loader.load")(
        MigrationLoader.loadSorted(spark, dir).collect())
      val results = Trace.span("analyzer.analyze")(
        Traced.analyzer(cfg.targetPgVersion)
          .analyzeDs(migrations.toSeq.toDS()).collect().sortBy(_.version))
      val q = Trace.jsonString _
      println(results.map { r =>
        val fs = r.findings.map(f => s"""{"rule":${q(f.rule)}}""")
        s"""{"version":${q(r.version)},"name":${q(r.name)},""" +
          s""""max_severity":${q(Severity.label(r.maxSeverity))},""" +
          s""""findings":${fs.mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]"))
      extra += "migrations" -> results.length.toString
    }
  }

  private def executor(spark: SparkSession, trackerDir: String,
      jdbcUrl: Option[String], cfg: EngineConfig,
      analyzer: Analyzer): Executor = {
    val runner: SqlRunner = jdbcUrl match {
      case Some(url) =>
        new JdbcRunner(url, cfg.lockTimeoutMs, cfg.statementTimeoutMs)
      case None => new SparkSqlRunner(spark)
    }
    val lock: MigrationLock = jdbcUrl match {
      case Some(url) => new JdbcLock(url, cfg.lockTimeoutMs)
      case None => new FileLock(s"$trackerDir/_LOCK")
    }
    new Executor(
      new TracedTracker(new ParquetTracker(spark, trackerDir),
        Some(Paths.get(trackerDir))),
      new TracedRunner(runner), new TracedLock(lock), analyzer = analyzer,
      onProgress = ApplyMain.printProgress)
  }

  private def apply(dir: String, trackerDir: String,
      jdbcUrl: Option[String], extra: Extra): Unit =
    withSession(CliSpark.session("graft-apply")) { spark =>
      val migrations = Trace.span("loader.load")(MigrationLoader.loadLocal(dir))
      val cfg = ConfigLoader.load("migrate.yml", allowMissing = true)
      val ex = executor(spark, trackerDir, jdbcUrl, cfg,
        Traced.analyzer(cfg.targetPgVersion))
      val r = Trace.span("exec.apply")(ex.apply(migrations))
      println(s"applied ${r.applied.length}, skipped ${r.skipped.length}")
      extra += "migrations" -> migrations.length.toString
      extra += "applied" -> r.applied.length.toString
      extra += "skipped" -> r.skipped.length.toString
    }

  private def rollback(dir: String, trackerDir: String, steps: Int,
      jdbcUrl: Option[String], extra: Extra): Unit =
    withSession(CliSpark.session("graft-rollback")) { spark =>
      val migrations = Trace.span("loader.load")(MigrationLoader.loadLocal(dir))
      val ex = executor(spark, trackerDir, jdbcUrl, EngineConfig(),
        new Analyzer())
      val r = Trace.span("exec.rollback")(ex.rollback(migrations, steps))
      println(s"rolled back ${r.rolledBack.length}")
      extra += "migrations" -> r.rolledBack.length.toString
      extra += "rolled_back" -> r.rolledBack.length.toString
    }

  private def status(dir: String, trackerDir: String, extra: Extra): Unit =
    withSession(CliSpark.session("graft-status")) { spark =>
      val migrations = Trace.span("loader.load")(MigrationLoader.loadLocal(dir))
      val tracker = new TracedTracker(new ParquetTracker(spark, trackerDir),
        Some(Paths.get(trackerDir)))
      tracker.ensureTable()
      val applied = tracker.getApplied()
      val byVersion = migrations.map(m => m.version -> m).toMap
      val appliedVersions = applied.map(_.version).toSet
      val q = Trace.jsonString _
      val aRows = applied.map { a =>
        val drift = byVersion.get(a.version) match {
          case Some(m) if m.checksum != a.checksum => "checksum_drift"
          case None => "file_missing"
          case _ => ""
        }
        s"""{"version":${q(a.version)},"filename":${q(a.filename)},""" +
          s""""drift":${q(drift)}}"""
      }
      val pRows = migrations.filterNot(m => appliedVersions(m.version))
        .map(m => s"""{"version":${q(m.version)},"name":${q(m.name)}}""")
      println(s"""{"applied":${aRows.mkString("[", ",", "]")},""" +
        s""""pending":${pRows.mkString("[", ",", "]")}}""")
      extra += "migrations" -> migrations.length.toString
    }
}

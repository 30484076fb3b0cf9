package graft.cli

import graft.config.ConfigLoader
import java.io.{FileDescriptor, FileOutputStream, PrintStream}

/** Unified `graft` root command — one binary-style entry point
  * dispatching the five subcommands with shared persistent flags,
  * matching the reference's Cobra root (`internal/cli/root.go:18-74`:
  * persistent `--config/--database-url/--migrations-dir/--verbose`,
  * config loaded once with flag > env > file precedence, then handed
  * to the subcommand).
  *
  * Usage:
  * {{{
  * graft [persistent flags] <analyze|apply|rollback|plan|status> [args]
  *   --config PATH         configuration file (default migrate.yml)
  *   --database-url URL    connection string (maps to --jdbc-url)
  *   --migrations-dir DIR  used when the subcommand's dir arg is omitted
  *   --verbose             verbose output
  *   --version             print version and exit
  * }}}
  *
  * Persistent flags may appear before or after the subcommand (Cobra
  * ergonomics). The root loads the config ONCE (so `--config`'s
  * database URL / pg version reach apply/rollback/plan, which have no
  * config flag of their own) and translates to each existing
  * single-purpose main — those remain directly runnable for
  * back-compat and tests.
  */
object GraftMain {

  val Version = "0.1.0"

  private val usageText =
    """usage: graft [--config PATH] [--database-url URL]
      |             [--migrations-dir DIR] [--verbose] [--version]
      |             <command> [args]
      |
      |commands:
      |  analyze  <migrationsDir> [--pg-version N] [--fail-on-high] [--format text|json|github-actions|sarif]
      |  apply    <migrationsDir> <trackerDir> [--dry-run] [--force] [--pg-version N]
      |           [--lock-timeout D] [--statement-timeout D]   (D like 10s, 1m, 250ms)
      |  rollback <migrationsDir> <trackerDir> (--steps N | --target V)
      |  plan     <migrationsDir> <trackerDir> [--pg-version N] [--pending-only] [--stats-dir DIR]
      |  status   <migrationsDir> <trackerDir> [--format text|json]
      |  stats    <dataDir> <trackerDir> [--tables t1,t2,...]""".stripMargin

  def main(args: Array[String]): Unit = Utf8Stdout {
    // split persistent flags (anywhere) from subcommand + its args
    var configPath = ""
    var databaseUrl = ""
    var migrationsDir = ""
    var verbose = false
    val rest = Vector.newBuilder[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--config" =>
          configPath = CliArgs.value(args, i, "--config"); i += 2
        case "--database-url" =>
          databaseUrl = CliArgs.value(args, i, "--database-url"); i += 2
        case "--migrations-dir" =>
          migrationsDir = CliArgs.value(args, i, "--migrations-dir"); i += 2
        case "--verbose" => verbose = true; i += 1
        case "--version" => println(s"graft $Version"); return
        case "--help" | "-h" => println(usageText); return
        case other => rest += other; i += 1
      }
    }
    val parts = rest.result()
    if (parts.isEmpty) { System.err.println(usageText); sys.exit(2) }
    val (cmd, subArgs) = (parts.head, parts.tail)

    // one config load at the root (reference PersistentPreRunE):
    // flag > MIGRATE_* env > file > default
    val cfg = ConfigLoader.load(
      if (configPath.nonEmpty) configPath else "migrate.yml",
      allowMissing = configPath.isEmpty,
      flags = ConfigLoader.Overrides(
        databaseUrl = Option(databaseUrl).filter(_.nonEmpty),
        migrationsDir = Option(migrationsDir).filter(_.nonEmpty)))

    // subcommand arg shapes: <dir> [flags] (analyze) or
    // <dir> <tracker> [flags] (the rest); the dir can come from the
    // persistent --migrations-dir / config instead of position 0
    def splitPositional(n: Int): (Vector[String], Vector[String]) = {
      val (pos, flags) = subArgs.span(a => !a.startsWith("--"))
      val positional =
        if (pos.length >= n) pos
        else if (cfg.migrationsDir.nonEmpty) cfg.migrationsDir +: pos
        else pos
      if (positional.length < n) {
        System.err.println(s"graft $cmd: expected $n positional " +
          s"argument(s) (or --migrations-dir/config)\n" + usageText)
        sys.exit(2)
      }
      (positional, flags)
    }
    def verboseFlag: Vector[String] =
      if (verbose) Vector("--verbose") else Vector.empty
    def jdbcFlag: Vector[String] =
      if (cfg.databaseUrl.nonEmpty) Vector("--jdbc-url", cfg.databaseUrl)
      else Vector.empty
    def pgFlag(flags: Vector[String]): Vector[String] =
      // inject the config's pg version unless the subcommand flag wins
      if (flags.contains("--pg-version")) Vector.empty
      else Vector("--pg-version", cfg.targetPgVersion.toString)
    def timeoutFlags(flags: Vector[String]): Vector[String] = {
      // root-config timeouts reach apply unless its own flags win
      // (reference apply.go:56-60: a CHANGED flag beats the config)
      val lt =
        if (flags.contains("--lock-timeout")) Vector.empty
        else Vector("--lock-timeout", s"${cfg.lockTimeoutMs}ms")
      val st =
        if (flags.contains("--statement-timeout")) Vector.empty
        else Vector("--statement-timeout", s"${cfg.statementTimeoutMs}ms")
      lt ++ st
    }

    cmd match {
      case "analyze" =>
        val (pos, flags) = splitPositional(1)
        // AnalyzeMain re-loads config itself — pass the path through so
        // file-borne settings (format, pg version) keep working
        val cfgFlag =
          if (configPath.nonEmpty) Vector("--config", configPath)
          else Vector.empty
        AnalyzeMain.main(
          (pos.take(1) ++ cfgFlag ++ verboseFlag ++ flags).toArray)
      case "apply" =>
        val (pos, flags) = splitPositional(2)
        ApplyMain.main(
          (pos.take(2) ++ verboseFlag ++ jdbcFlag ++ pgFlag(flags) ++
            timeoutFlags(flags) ++ flags).toArray)
      case "rollback" =>
        val (pos, flags) = splitPositional(2)
        RollbackMain.main((pos.take(2) ++ jdbcFlag ++ flags).toArray)
      case "plan" =>
        val (pos, flags) = splitPositional(2)
        PlanMain.main((pos.take(2) ++ pgFlag(flags) ++ flags).toArray)
      case "status" =>
        val (pos, flags) = splitPositional(2)
        StatusMain.main((pos.take(2) ++ flags).toArray)
      case "stats" =>
        val (pos, flags) = splitPositional(2)
        StatsMain.main((pos.take(2) ++ flags).toArray)
      case other =>
        System.err.println(s"graft: unknown command '$other'\n" + usageText)
        sys.exit(2)
    }
  }
}

/** Runs a CLI main with stdout in UTF-8 whatever the locale: rule
  * messages carry em-dashes, which a C locale prints as `?`.
  */
object Utf8Stdout {
  private lazy val out = new PrintStream(
    new FileOutputStream(FileDescriptor.out), true, "UTF-8")
  def apply[T](body: => T): T = { System.setOut(out); Console.withOut(out)(body) }
}

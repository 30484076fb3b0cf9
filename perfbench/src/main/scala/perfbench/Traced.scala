package perfbench

import graft.classify.SqlClassifier.Stmt
import graft.exec.{MigrationLock, SqlRunner}
import graft.model.{AppliedMigration, Finding}
import graft.rules.{FileRule, Rule, RuleContext}
import graft.tracker.Tracker
import java.nio.file.{Files, Path}

/** Decorators that time one layer each and otherwise delegate
  * unchanged: same arguments in, same results and exceptions out.
  */
final class TracedTracker(inner: Tracker, dir: Option[Path]) extends Tracker {
  def ensureTable(): Unit = Trace.span("tracker.ensure")(inner.ensureTable())
  def isApplied(version: String): Boolean =
    Trace.span("tracker.read.isApplied")(inner.isApplied(version))
  def getApplied(): Seq[AppliedMigration] =
    Trace.span("tracker.read.getApplied")(inner.getApplied())
  def getChecksum(version: String): String =
    Trace.span("tracker.read.getChecksum")(inner.getChecksum(version))
  def recordApplied(row: AppliedMigration): Unit =
    write("tracker.write.recordApplied")(inner.recordApplied(row))
  def recordRolledBack(version: String): Unit =
    write("tracker.write.recordRolledBack")(inner.recordRolledBack(version))

  /** A write that leaves fewer WAL delta files than it found plus one
    * folded the log into a snapshot: count it as a compaction.
    */
  private def write(name: String)(body: => Unit): Unit = {
    val before = deltas
    Trace.span(name)(body)
    if (dir.isDefined && deltas < before + 1) Trace.compactions.increment()
  }

  private def deltas: Int = dir.filter(Files.isDirectory(_)).map { d =>
    val s = Files.list(d)
    try s.filter(_.getFileName.toString.startsWith("delta_")).count().toInt
    finally s.close()
  }.getOrElse(0)
}

final class TracedRunner(inner: SqlRunner) extends SqlRunner {
  def run(sql: String, transactional: Boolean): Unit =
    Trace.span("exec.runner")(inner.run(sql, transactional))
}

final class TracedLock(inner: MigrationLock) extends MigrationLock {
  def acquire(): Unit = Trace.span("exec.lock.acquire")(inner.acquire())
  def release(): Unit = Trace.span("exec.lock.release")(inner.release())
}

final class TracedRule(inner: Rule) extends Rule {
  def id: String = inner.id
  def check(stmt: Stmt, ctx: RuleContext): Seq[Finding] = {
    val t0 = System.nanoTime()
    val out = inner.check(stmt, ctx)
    Trace.rule(id, System.nanoTime() - t0, out.length)
    out
  }
}

final class TracedFileRule(inner: FileRule) extends FileRule {
  def id: String = inner.id
  def checkFile(stmts: Seq[Stmt], targetPgVersion: Int): Seq[Finding] = {
    val t0 = System.nanoTime()
    val out = inner.checkFile(stmts, targetPgVersion)
    Trace.rule(id, System.nanoTime() - t0, out.length)
    out
  }
}

object Traced {
  def analyzer(targetPgVersion: Int): graft.analyzer.Analyzer =
    new graft.analyzer.Analyzer(
      rules = graft.rules.Registry.defaultRules.map(new TracedRule(_)),
      targetPgVersion = targetPgVersion,
      fileRules = graft.rules.Registry.defaultFileRules
        .map(new TracedFileRule(_)))
}

package perfbench

import graft.analyzer.Analyzer
import graft.exec._
import graft.model._
import graft.tracker.InMemoryTracker

/** Checks that the decorators are transparent: the same migrations run
  * through plain and decorated layers over [[InMemoryTracker]] give the
  * same ApplyResult, RollbackResult, tracker rows, runner calls and
  * analysis results. Exits 0 when every check holds, 1 otherwise.
  *
  * Usage: SelfTest
  */
object SelfTest {
  private final class Recorder extends SqlRunner {
    val calls = Vector.newBuilder[(String, Boolean)]
    def run(sql: String, transactional: Boolean): Unit = {
      if (sql.contains("FAIL")) throw new RuntimeException("planted failure")
      calls += sql -> transactional
    }
  }

  private def m(v: String, up: String, down: String) =
    Migration(v, s"m$v", up, down, s"V${v}_m$v.up.sql")

  private val safe = Seq(
    m("001", "CREATE TABLE a (id BIGINT)", "DROP TABLE a"),
    m("002", "CREATE INDEX CONCURRENTLY ia ON a (id)",
      "DROP INDEX CONCURRENTLY ia"),
    m("003", "ALTER TABLE a ADD COLUMN b TEXT", "ALTER TABLE a DROP COLUMN b"),
    m("004", "INSERT INTO a VALUES (1)", "DELETE FROM a WHERE id = 1"))
  private val dangerous = safe :+ m("005", "VACUUM FULL a", "")
  private val failing = safe :+ m("005", "SELECT 'FAIL'", "")

  /** Everything observable about one scenario on one layer stack. */
  private def scenario(traced: Boolean): Seq[Any] = {
    def stack() = {
      val tracker = new InMemoryTracker
      val rec = new Recorder
      val ex = new Executor(
        if (traced) new TracedTracker(tracker, None) else tracker,
        if (traced) new TracedRunner(rec) else rec,
        if (traced) new TracedLock(new NoopLock) else new NoopLock,
        analyzer = if (traced) Traced.analyzer(14) else new Analyzer())
      (tracker, rec, ex)
    }
    def outcome[A](body: => A): Any =
      try body catch { case e: Throwable => e.toString }
    def rows(t: InMemoryTracker) =
      t.rows.map(r => (r.version, r.filename, r.checksum, r.status))

    val (t1, r1, ex1) = stack()
    val first = outcome(ex1.apply(safe.take(2)))
    val second = outcome(ex1.apply(safe))
    val back = outcome(ex1.rollback(safe, 2))
    val again = outcome(ex1.apply(safe))
    val toVersion = outcome(ex1.rollbackToVersion(safe, "001"))
    val (t2, r2, ex2) = stack()
    val blocked = outcome(ex2.apply(dangerous))
    val (t3, r3, ex3) = stack()
    val crashed = outcome(ex3.apply(failing))
    val analysis = (if (traced) Traced.analyzer(10) else
      new Analyzer(targetPgVersion = 10)).analyzeAll(dangerous)
    Seq(first, second, back, again, toVersion, rows(t1), r1.calls.result(),
      blocked, rows(t2), r2.calls.result(), crashed, rows(t3),
      r3.calls.result(), analysis)
  }

  def main(args: Array[String]): Unit = {
    val plain = scenario(traced = false)
    val traced = scenario(traced = true)
    val bad = plain.zip(traced).zipWithIndex.collect {
      case ((p, t), i) if p != t => s"check $i: plain=$p traced=$t"
    }
    if (Trace.rules.isEmpty) println("FAIL: traced rules recorded nothing")
    bad.foreach(b => println(s"FAIL: $b"))
    if (bad.isEmpty && !Trace.rules.isEmpty)
      println(s"ok: ${plain.length} observations identical")
    else sys.exit(1)
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is (id, name, parent, thread, start, end). Spans nest per
  * thread; the innermost open span on the driver thread is published as
  * a Spark local property, so [[JobCounter]] attributes every job (and
  * its stages) to the span that submitted it even though listener
  * events arrive on the asynchronous bus thread. Everything stays in
  * memory until [[write]] at exit.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, thread: String,
      start: Long, end: Long)

  val SpanKey = "perfbench.span"
  val runId: String = java.util.UUID.randomUUID().toString
  val origin: Long = System.nanoTime()

  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var sc: Option[SparkContext] = None

  /** Start publishing span ids to jobs submitted on `ctx`. */
  def attach(ctx: SparkContext): Unit = {
    ctx.addSparkListener(JobCounter)
    sc = Some(ctx)
  }

  def span[A](name: String)(body: => A): A = {
    val stack = open.get
    val id = ids.incrementAndGet()
    val start = System.nanoTime()
    open.set(id :: stack)
    sc.foreach(_.setLocalProperty(SpanKey, id.toString))
    try body
    finally {
      done.add(Span(id, name, stack.headOption.getOrElse(0),
        Thread.currentThread.getName, start, System.nanoTime()))
      open.set(stack)
      sc.foreach(_.setLocalProperty(SpanKey,
        stack.headOption.map(_.toString).orNull))
    }
  }

  /** Rule checks run per statement (thousands per command, microseconds
    * each, partly inside Spark tasks), so they are counted per rule id
    * rather than recorded as spans.
    */
  final class RuleStats {
    val calls, nanos, findings = new LongAdder
  }
  val rules = new java.util.concurrent.ConcurrentHashMap[String, RuleStats]()
  def rule(id: String, nanos: Long, findings: Int): Unit = {
    val s = rules.computeIfAbsent(id, _ => new RuleStats)
    s.calls.increment(); s.nanos.add(nanos); s.findings.add(findings)
  }

  val compactions = new LongAdder

  object JobCounter extends SparkListener {
    val jobs, stages = new java.util.concurrent.ConcurrentHashMap[Int, LongAdder]()
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.computeIfAbsent(spanOf(e.properties), _ => new LongAdder).increment()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.computeIfAbsent(spanOf(e.properties), _ => new LongAdder)
        .increment()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Write spans, job attribution, rule counters and `extra` fields as
    * one JSON object. Call after SparkContext.stop(), which drains the
    * listener bus.
    */
  def write(path: String, extra: Seq[(String, String)]): Unit = {
    def n(m: java.util.concurrent.ConcurrentHashMap[Int, LongAdder], id: Int) =
      Option(m.get(id)).map(_.sum).getOrElse(0L)
    val spans = done.asScala.toVector.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""thread":${q(s.thread)},"start_s":${(s.start - origin) / 1e9},""" +
        s""""end_s":${(s.end - origin) / 1e9},""" +
        s""""jobs":${n(JobCounter.jobs, s.id)},""" +
        s""""stages":${n(JobCounter.stages, s.id)}}"""
    }
    val ruleRows = rules.asScala.toVector.sortBy(_._1).map { case (id, s) =>
      s"""${q(id)}:{"calls":${s.calls.sum},"seconds":${s.nanos.sum / 1e9},""" +
        s""""findings":${s.findings.sum}}"""
    }
    val fields = Seq(
      "run_id" -> q(runId),
      "spans" -> spans.mkString("[", ",", "]"),
      "unattributed_jobs" -> n(JobCounter.jobs, 0).toString,
      "unattributed_stages" -> n(JobCounter.stages, 0).toString,
      "rules" -> ruleRows.mkString("{", ",", "}"),
      "compactions" -> compactions.sum.toString) ++ extra
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}\n"))
  }

  def jsonString(s: String): String = q(s)
}

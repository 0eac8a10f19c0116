package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Work done by the Spark jobs launched while one span was innermost. */
final class JobCounters {
  var jobs, stages, tasks, taskCpuNs, taskRunMs, gcMs = 0L
  var inputBytes, shuffleBytes, spillBytes = 0L
  def add(o: JobCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

/** One timed interval. `name` is `<layer>.<call>`; the root span of an
  * operation is `op`, with its kind in `values`. SQL planning phases
  * become spans too, taken from the query's own `QueryPlanningTracker`. */
final case class Span(
    id: Long, parent: Long, name: String, startNs: Long, var endNs: Long,
    var values: Map[String, Double] = Map.empty) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory tracer for the traced run. Disabled, `span` only evaluates
  * its body, so untraced runs pay one closure call per layer call.
  *
  * Spark jobs are attributed to the innermost open span through a job
  * group named after the span id; [[drain]] waits for the listener bus
  * before counters are read. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var on = false
  private var nextId = 1L
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, JobCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val phases =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Span]())
  // epoch-ms of the tracker phases → this JVM's nanoTime base
  private val nanoMinusEpochNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def enabled: Boolean = on

  private def counters(group: String): JobCounters =
    byGroup.computeIfAbsent(group, _ => new JobCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SparkContextGroupKey)))
        .getOrElse("none")
      e.stageIds.foreach(stageGroup.put(_, g))
      val c = counters(g)
      c.synchronized(c.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = counters(stageGroup.getOrDefault(e.stageId, "none"))
      c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** The planning phases of one finished query, plus the exchange and
    * whole-stage-codegen counts of its final (post-AQE) plan. */
  private def record(qe: QueryExecution): Unit = try {
    val plan = qe.executedPlan
    val nodes = Tracer.walk(plan).toSeq
    val shape = Map(
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "codegen_stages" ->
        nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble)
    var first = true
    Seq("analysis", "optimization", "planning").foreach { p =>
      qe.tracker.phases.get(p).foreach { s =>
        val start = s.startTimeMs * 1000000L + nanoMinusEpochNs
        val end = s.endTimeMs * 1000000L + nanoMinusEpochNs
        // the plan shape rides on the query's first phase span
        phases.add(Span(0, 0, s"sql.$p", start, end,
          if (first) shape else Map.empty))
        first = false
      }
    }
  } catch {
    // a plan that cannot be walked loses its shape, not the run
    case e: Exception => System.err.println(s"perfbench: plan not recorded: $e")
  }

  def start(): Unit = {
    on = true
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    on = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Time `f` as a child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name,
      System.nanoTime(), 0L)
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s =>
      s.values = s.values.updated(key, s.values.getOrElse(key, 0.0) + v))

  /** Jobs launched inside spans whose name satisfies `p`. */
  def jobs(p: String => Boolean): JobCounters = {
    val out = new JobCounters
    spans.filter(s => p(s.name))
      .foreach(s => Option(byGroup.get(s.id.toString)).foreach(out.add))
    out
  }

  /** Every span, with the SQL phase spans placed under the deepest real
    * span whose interval holds them. */
  def allSpans: Seq[Span] = {
    val real = spans.toSeq
    val depth = mutable.Map[Long, Int](0L -> 0)
    real.foreach(s => depth(s.id) = depth(s.parent) + 1)
    val placed = phases.asScala.toSeq.map { ph =>
      val host = real.filter(s => s.startNs <= ph.startNs + 1000000L &&
        ph.endNs <= s.endNs + 1000000L)
      val parent = if (host.isEmpty) 0L else host.maxBy(s => depth(s.id)).id
      ph.copy(parent = parent)
    }
    real ++ placed
  }

  /** Self time per layer in ms: a span's duration minus what its
    * children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val all = allSpans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val own = if (s.id == 0) s.ms else math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))
      out(s.layer) += own
    }
    out.toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      val vals = s.values.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"values":{$vals}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  private val SparkContextGroupKey = "spark.jobGroup.id"
}

object Tracer {
  /** Every node of a physical plan, through AQE wrappers, query stages,
    * command results and subqueries. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ walk(q.plan)
    case c: CommandResultExec => Iterator(c) ++ walk(c.commandPhysicalPlan)
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(walk) ++
        other.subqueries.iterator.flatMap(walk)
  }
}

package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans recorded by bench code around its own calls into the library.
  * One client thread issues every op, so a plain stack gives parents.
  * Disabled, `span` just runs its body. */
final class Tracer(var enabled: Boolean) {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      op: String, t0: Long, t1: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](kind: String, name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(-1)(_._1)
      val opId = if (op.nonEmpty) op else stack.headOption.fold("")(_._2)
      stack = (id, opId) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, kind, name, opId, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span kind: duration minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.t1 - s.t0)
    done.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => s.t1 - s.t0 - childTime(s.id)).sum / 1e9
    }
  }

  def writeJson(path: java.nio.file.Path, extra: String): Unit = {
    val t00 = done.map(_.t0).minOption.getOrElse(0L)
    val sb = new StringBuilder("{\"spans\":[")
    done.sortBy(_.t0).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${s.name}","op":"${s.op}","start_s":${(s.t0 - t00) / 1e9},""" +
        s""""end_s":${(s.t1 - t00) / 1e9}}""")
    }
    sb.append("],").append(extra).append('}')
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark-side counters read through public listener APIs, attributed by
  * job group (the bench sets the group to the op id before each op). */
final class Counters extends SparkListener with QueryExecutionListener {
  final class Group {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shufW, shufR, spill, written = 0L
  }
  /** One finished SQL action: start (epoch ms), duration, planning phases
    * and whether it was a write command. */
  final case class Action(startMs: Long, durNs: Long, write: Boolean,
      analyzeMs: Long, optimizeMs: Long, planMs: Long)

  val groups = new java.util.concurrent.ConcurrentHashMap[String, Group]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** Task (launch, finish) epoch-ms intervals, for busy/idle accounting. */
  val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  @volatile var lastEventNs: Long = System.nanoTime()

  private def group(g: String) = groups.computeIfAbsent(g, _ => new Group)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    group(g).synchronized {
      group(g).jobs += 1
      group(g).stages += e.stageIds.size
    }
    e.stageIds.foreach(stageGroup.put(_, g))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = group(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    g.synchronized {
      g.tasks += 1
      if (m != null) {
        g.runMs += m.executorRunTime
        g.cpuNs += m.executorCpuTime
        g.gcMs += m.jvmGCTime
        g.shufW += m.shuffleWriteMetrics.bytesWritten
        g.shufR += m.shuffleReadMetrics.totalBytesRead
        g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        g.written += m.outputMetrics.bytesWritten
      }
    }
    if (e.taskInfo != null)
      taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    touch()
  }

  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time)
    case _ =>
  }

  private def record(qe: QueryExecution, durNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
    val plan = Option(qe.commandExecuted).getOrElse(qe.analyzed)
    val write = plan.exists { n =>
      val c = n.getClass.getSimpleName
      c.contains("InsertInto") || c.contains("CreateDataSourceTable") ||
        c.contains("SaveIntoDataSource")
    }
    val start = Option(execStart.remove(qe.id)).map(_.longValue)
      .getOrElse(System.currentTimeMillis() - durNs / 1000000)
    actions.add(Action(start, durNs, write, ms("analysis"),
      ms("optimization"), ms("planning")))
    touch()
  }
  override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
    record(qe, durNs)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    touch()

  def uninstall(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Listener callbacks are asynchronous; wait until none arrived for
    * `quietMs` (bounded by `maxMs`). */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000
    while (System.nanoTime() - lastEventNs < quietMs * 1000000 &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object Counters {
  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

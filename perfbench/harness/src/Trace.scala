package org.apache.spark.sql
package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Span and counter recorder for the traced run.
  *
  * Every call the bench makes into graft runs under one job tag
  * `gb|<item>|<run>|<phase>` (see [[Trace.tagged]]); Spark copies the
  * tag onto each job and SQL execution the call starts, so jobs,
  * stages and SQL executions are attributed to (item, run, phase)
  * without reading graft's code. The listener only buffers raw
  * records; [[Trace.dump]] writes them out as JSON lines once the run
  * is over and the Python side does the arithmetic.
  *
  * Lives under `org.apache.spark.sql` for two package-private reads:
  * the QueryExecution carried by SQLExecutionEnd (planning phases,
  * rule times, plan size) and the listener-bus drain. */
final class Trace extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val sqls = new ConcurrentLinkedQueue[String]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  /** task-level sums per stage attempt, folded as tasks end */
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private def tagOf(tags: Iterable[String]): String =
    tags.find(_.startsWith("gb|")).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    jobs.add(Json.obj("kind" -> "job", "tag" -> tagOf(tags), "job" -> e.jobId,
      "start_ms" -> e.time, "stages" -> e.stageIds.mkString(",")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = s"${e.stageId}.${e.stageAttemptId}"
    val a = taskSums.computeIfAbsent(key, _ => new Array[Double](9))
    val m = e.taskMetrics
    val info = e.taskInfo
    a.synchronized {
      a(0) += 1
      if (info.failed || info.killed) a(1) += 1
      if (m != null) {
        val run = m.executorRunTime.toDouble
        val deser = m.executorDeserializeTime.toDouble
        val sched = math.max(0.0, info.duration - run - deser -
          m.resultSerializationTime - info.gettingResultTime)
        a(2) += run
        a(3) += m.executorCpuTime / 1e6
        a(4) += deser + sched
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(8) += m.jvmGCTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val a = Option(taskSums.remove(s"${si.stageId}.${si.attemptNumber()}"))
      .getOrElse(new Array[Double](9))
    stages.add(Json.obj("kind" -> "stage", "stage" -> si.stageId,
      "tasks" -> a(0), "tasks_failed" -> a(1), "run_ms" -> a(2), "cpu_ms" -> a(3),
      "wait_ms" -> a(4), "shuffle_read" -> a(5), "shuffle_write" -> a(6),
      "spill" -> a(7), "gc_ms" -> a(8)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, (tagOf(s.jobTags), s.time))
    case end: SparkListenerSQLExecutionEnd =>
      val (tag, start) = Option(sqlStart.remove(end.executionId)).getOrElse(("", end.time))
      val qe = end.qe
      val fields = Seq.newBuilder[(String, Any)]
      fields ++= Seq("kind" -> "sql", "tag" -> tag, "start_ms" -> start, "end_ms" -> end.time,
        "ok" -> end.executionFailure.isEmpty)
      if (qe != null) {
        val t = qe.tracker
        for ((name, p) <- t.phases)
          fields ++= Seq(s"${name}_start_ms" -> p.startTimeMs, s"${name}_end_ms" -> p.endTimeMs)
        val graftRules = t.rules.collect {
          case (r, s) if Trace.GraftRules.exists(r.endsWith) => s.totalTimeNs
        }.sum
        fields += "graft_rule_ns" -> graftRules
        fields += "plan_nodes" -> scala.util.Try(PlanNodes.count(qe.executedPlan)).getOrElse(0)
      }
      sqls.add(Json.obj(fields.result(): _*))
    case _ =>
  }

  def dump(spark: SparkSession, out: java.io.PrintWriter): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    (jobs.asScala ++ stages.asScala ++ sqls.asScala).foreach(out.println)
    jobs.clear(); stages.clear(); sqls.clear()
  }
}

/** Physical plan size, looking through adaptive query stages. */
object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def count(p: org.apache.spark.sql.execution.SparkPlan): Int = collect(p) { case x => x }.size
}

object Trace {
  /** graft's own optimizer rules, whose time is `plans.graft_rule_s`. */
  val GraftRules = Seq("TopKWindowRule", "BandJoinRule", "IntervalJoinRule")

  /** Run `body` with every job and SQL execution it starts tagged
    * `gb|item|run|phase`; returns the body's value and its wall span
    * in epoch milliseconds (the clock Spark's events use). */
  def tagged[T](spark: SparkSession, item: String, run: Int, phase: String)(body: => T)
      : (T, Long, Long) = {
    val tag = s"gb|$item|$run|$phase"
    spark.sparkContext.addJobTag(tag)
    val t0 = System.currentTimeMillis()
    try {
      val v = body
      (v, t0, System.currentTimeMillis())
    } finally {
      spark.sparkContext.removeJobTag(tag)
    }
  }
}

/** Minimal JSON-lines writer: the harness emits flat records only. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString   // Boolean, Int, Long
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

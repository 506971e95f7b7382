package perfbench

import java.nio.file.Path

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON for the run record and the generator's manifests. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def read(p: Path): JsonNode = mapper.readTree(p.toFile)
}

/** The queries the library ran while this listener was registered, each
  * with its executed plan and planning-time tracker. */
final class Queries extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(done += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = done.toList; done.clear(); r }
}

/** Engine counters attributed to one benchmark op (jobs carry the op id
  * as a local property; stages and tasks inherit it from their job). */
final class OpCounters {
  var jobs, constructJobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, outputBytes = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap(opStartMs: Long, opEndMs: Long): Map[String, Any] = Map(
    "jobs" -> jobs, "construct_jobs" -> constructJobs, "stages" -> stages,
    "tasks" -> tasks, "task_s" -> taskMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "stage_wall_s" -> stageSpans.map { case (a, b) => b - a }.sum / 1e3,
    "stage_cover_s" -> cover(opStartMs, opEndMs) / 1e3)

  /** Milliseconds of [from, to] during which at least one of this op's
    * stages was running: the op's time not covered is driver residue. */
  private def cover(from: Long, to: Long): Long = {
    var covered = 0L
    var last = from
    stageSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, last)
        if (b > s) { covered += b - s; last = b }
      }
    covered
  }
}

/** The benchmark's own SparkListener: job, stage and task counters per op. */
final class Collector extends SparkListener {
  private val byOp = mutable.Map.empty[String, OpCounters]
  private val stageOp = mutable.Map.empty[Int, String]

  def counters(op: String): Option[OpCounters] = synchronized(byOp.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Ops.OpKey))).foreach { op =>
      val c = byOp.getOrElseUpdate(op, new OpCounters)
      c.jobs += 1
      if (props.flatMap(p => Option(p.getProperty(Ops.PhaseKey))).contains("construct"))
        c.constructJobs += 1
      e.stageInfos.foreach(s => stageOp(s.stageId) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageOp.get(s.stageId).flatMap(byOp.get).foreach { c =>
      c.stages += 1
      for (a <- s.submissionTime; b <- s.completionTime) c.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOp.get(e.stageId).flatMap(byOp.get).foreach { c =>
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** One timed call into the library. Times are seconds; `startMs`/`endMs`
  * are wall-clock stamps comparable with the listener's stage times. */
final case class OpRecord(pass: Int, id: String, name: String, layer: String,
                          startNs: Long, startMs: Long, endMs: Long, wallS: Double,
                          constructS: Double, planS: Double, execS: Double,
                          ok: Boolean, error: String,
                          shape: Map[String, Int], extra: Map[String, Any])

/** Runs and records ops. With `traced` set (per pass), each DataFrame op is
  * split into construct / plan (a forced `executedPlan`) / exec, and its
  * plan shape is counted; untraced ops are timed as one wall interval. */
final class Ops(spark: SparkSession) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var pass = 0
  var traced = false
  private var seq = 0
  private val queries = new Queries

  private def phase(p: String): Unit =
    spark.sparkContext.setLocalProperty(Ops.PhaseKey, p)

  /** A DataFrame-producing call: `build` constructs, `exec` materializes. */
  def frame[T](name: String, layer: String)(build: => DataFrame)(
      exec: DataFrame => T): Option[T] = run(name, layer) { rec =>
    phase("construct")
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    // the plan as first planned, held before execution replaces AQE's
    // current plan, so its shape does not depend on runtime statistics
    val planned = if (traced) { phase("plan"); Some(Ops.initial(df)) } else None
    val t2 = System.nanoTime()
    phase("exec")
    val out = exec(df)
    val t3 = System.nanoTime()
    rec(Map("construct" -> (t1 - t0) / 1e9, "plan" -> (t2 - t1) / 1e9,
      "exec" -> (t3 - t2) / 1e9), () => planned.map(Ops.shape).getOrElse(Map.empty))
    out
  }

  /** Any other call (reads, writes, batch applies): one wall interval. */
  def call[T](name: String, layer: String)(body: => T): Option[T] =
    run(name, layer) { rec =>
      phase("exec")
      val t0 = System.nanoTime()
      val out = body
      rec(Map("exec" -> (System.nanoTime() - t0) / 1e9), () => Map.empty)
      out
    }

  /** A call that plans and runs its own writes inside the library. In
    * traced passes the writes' executed plans are read back from a
    * `QueryExecutionListener` (after the call's span) and attached to the
    * record: `write_plan_s` (optimization + planning) and `write_shape`. */
  def writing[T](name: String, layer: String)(body: => T): Option[T] = {
    if (!traced) return call(name, layer)(body)
    spark.listenerManager.register(queries)
    val out =
      try call(name, layer)(body)
      finally {
        Bus.drain(spark.sparkContext)
        spark.listenerManager.unregister(queries)
      }
    val writes = queries.take().flatMap(Ops.written)
    annotate("write_plan_s" -> writes.map(_._1).sum,
      "write_shape" -> writes.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _))
    out
  }

  /** Extra values to attach to the most recent record (outside its span). */
  def annotate(kv: (String, Any)*): Unit =
    if (records.nonEmpty) {
      val r = records.last
      records(records.size - 1) = r.copy(extra = r.extra ++ kv)
    }

  private def run[T](name: String, layer: String)(
      f: ((Map[String, Double], () => Map[String, Int]) => Unit) => T): Option[T] = {
    seq += 1
    val id = s"$pass/$seq/$name"
    spark.sparkContext.setLocalProperty(Ops.OpKey, id)
    var parts = Map.empty[String, Double]
    var shape: () => Map[String, Int] = () => Map.empty
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Right(f((p, s) => { parts = p; shape = s }))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLocalProperty(Ops.OpKey, null)
    spark.sparkContext.setLocalProperty(Ops.PhaseKey, null)
    val err = res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}")
    err.foreach(e => System.err.println(s"op $id failed: $e"))
    val rec = OpRecord(pass, id, name, layer, t0, startMs, System.currentTimeMillis(), wall,
      parts.getOrElse("construct", 0.0), parts.getOrElse("plan", 0.0),
      parts.getOrElse("exec", 0.0), err.isEmpty, err.orNull, shape(), Map.empty)
    records += rec
    res.toOption
  }
}

object Ops {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** The forced physical plan; under AQE, its plan before any stage runs
    * (exchanges inserted, no runtime re-optimization yet). */
  def initial(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** A finished write query's optimization + planning seconds and the
    * shape of the plan it ran under the write command; None for other
    * queries. */
  def written(qe: QueryExecution): Option[(Double, Map[String, Int])] =
    nodes(qe.executedPlan).collectFirst { case w: DataWritingCommandExec => w }.map { w =>
      val phases = qe.tracker.phases
      val ms = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(phases.get).map(_.durationMs).sum
      (ms / 1e3, shape(w.child))
    }

  /** Every node of a physical plan, subqueries included, with AQE plans
    * and their query stages unwrapped. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] =
    plan.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }

  /** Plan-shape counts. */
  def shape(plan: SparkPlan): Map[String, Int] = {
    val names = nodes(plan).map(_.getClass.getSimpleName)
    def n(cls: String*): Int = names.count(cls.contains)
    Map("scans" -> n("FileSourceScanExec", "BatchScanExec"),
      "exchanges" -> n("ShuffleExchangeExec"),
      "sorts" -> n("SortExec"),
      "broadcasts" -> n("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"))
  }
}

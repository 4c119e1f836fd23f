package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span of the ledger. Times are epoch milliseconds (fractional for
  * spans the benchmark times itself, whole for Spark's own timestamps). */
final case class Span(id: Int, op: Int, layer: String, name: String,
    start: Double, end: Double, parent: Int) {
  def dur: Double = end - start
}

/**
 * Spans and counts at each layer boundary, recorded only from the
 * benchmark's own code around calls into the engine's public functions.
 *
 * Job groups are set in every run, traced or not, so both runs schedule
 * the same jobs; the group `op<i>/<phase>` is how the traced run attributes
 * Spark jobs to an operation and to the layer call that launched them
 * (listener events arrive asynchronously, so a wall-clock window would
 * misattribute them). Everything else here is a no-op when tracing is off.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def ms(ns: Long): Double = epoch0 + (ns - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val opCounts = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Double]]
  private var overheadNs = 0L
  private var op = -1

  private val exec = new ExecListener
  private val queries = new QueryListener
  if (enabled) {
    sc.addSparkListener(exec)
    spark.listenerManager.register(queries)
  }

  /** Marks the start of operation `id` (no enclosing span). */
  def beginOp(id: Int): Unit = op = id

  /** Job group for the layer call that follows. Always set. */
  def phase(name: String): Unit =
    sc.setJobGroup(s"op$op/$name", name, interruptOnCancel = false)

  /** Times `body` as a span; when `counter` is given, its duration in ms is
    * also added to that counter of the current operation. */
  def span[A](layer: String, name: String, counter: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = spans.size
      spans += Span(id, op, layer, name, 0, 0, open.headOption.getOrElse(-1))
      open.push(id)
      val t1 = System.nanoTime()
      try body
      finally {
        val t2 = System.nanoTime()
        open.pop()
        spans(id) = spans(id).copy(start = ms(t1), end = ms(t2))
        if (counter.nonEmpty) {
          val m = opCounts.getOrElseUpdate(op, mutable.Map.empty)
          m(counter) = m.getOrElse(counter, 0.0) + (t2 - t1) / 1e6
        }
        overheadNs += (t1 - t0) + (System.nanoTime() - t2)
      }
    }

  /** Adds `v` to counter `name` of the current operation; `v` is only
    * evaluated, and its cost billed to the tracer, when tracing is on. */
  def count(name: String, v: => Double): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      val m = opCounts.getOrElseUpdate(op, mutable.Map.empty)
      m(name) = m.getOrElse(name, 0.0) + v
      overheadNs += System.nanoTime() - t0
    }

  /** Counts read around one operation: codegen compiles (JVM-global, but
    * one client thread runs one operation at a time) and, after it, the
    * block manager's persisted RDDs and their size. */
  def aroundOp[A](body: => A): A =
    if (!enabled) body
    else {
      val c0 = CodeGenerator.compileTime
      val n0 = compiles
      try body
      finally {
        val t0 = System.nanoTime()
        count("catalyst.codegen_compile_ms", (CodeGenerator.compileTime - c0) / 1e6)
        count("catalyst.codegen_compiles", (compiles - n0).toDouble)
        val infos = sc.getRDDStorageInfo
        count("graph.persisted_rdds", sc.getPersistentRDDs.size.toDouble)
        count("graph.storage_mb",
          infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
        overheadNs += System.nanoTime() - t0
      }
    }

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def overheadMs: Double = overheadNs / 1e6

  /**
   * Drains the listener bus and folds Spark's job, stage, task and
   * query-planning records into the per-operation counts and the span tree.
   * Returns every span of the run.
   */
  def finish(cores: Int): Seq[Span] = {
    if (!enabled) return Nil
    org.apache.spark.GraftbenchAccess.drainListenerBus(sc)
    exec.synchronized {
      queries.synchronized {
        foldExec(cores)
      }
    }
    spans.toSeq
  }

  private def opOf(group: String): Option[(Int, String)] =
    Option(group).filter(_.startsWith("op")).flatMap { g =>
      g.drop(2).split("/", 2) match {
        case Array(i, p) if i.forall(_.isDigit) && i.nonEmpty => Some((i.toInt, p))
        case _ => None
      }
    }

  /** Innermost of `bench` (spans the benchmark timed itself) in `op`
    * covering [start, end], allowing Spark's whole-millisecond stamps 1 ms
    * of slack. */
  private def parentAt(bench: Seq[Span], opId: Int, start: Double,
      end: Double): Int = {
    val c = bench.filter(s => s.op == opId && s.start <= start + 1 &&
      s.end >= end - 1)
    if (c.isEmpty) -1 else c.minBy(_.dur).id
  }

  private def foldExec(cores: Int): Unit = {
    val bench = spans.toVector
    val jobsByOp = exec.jobs.toSeq.flatMap { case (jobId, j) =>
      opOf(j.group).map { case (o, p) => (o, p, jobId, j) }
    }
    val stagesByOp = exec.stages.toSeq.flatMap { case (id, (_, g)) =>
      opOf(g).map { case (o, _) => o -> id }
    }.groupMap(_._1)(_._2)
    val stageSkew = mutable.ArrayBuffer.empty[Double]
    var runMs = 0.0
    var wallMs = 0.0
    jobsByOp.groupBy(_._1).foreach { case (o, js) =>
      def c(n: String, v: Double) = {
        val m = opCounts.getOrElseUpdate(o, mutable.Map.empty)
        m(n) = m.getOrElse(n, 0.0) + v
      }
      js.foreach { case (_, p, _, _) =>
        if (p == "plan") c("cypher.plan_jobs", 1)
        if (p == "build") c("ops.build_jobs", 1)
      }
      val intervals = js.map { case (_, _, _, j) => (j.start, j.end.getOrElse(j.start)) }
      val wall = unionLength(intervals)
      c("exec.wall_ms", wall); wallMs += wall
      c("exec.jobs", js.size)
      // a stage belongs to the op that submitted it: a re-executed plan's
      // job lists the shuffle stages an earlier op ran, but skips them
      val stageIds = stagesByOp.getOrElse(o, Nil)
      val tasks = stageIds.flatMap(s => exec.tasks.getOrElse(s, Nil))
      c("exec.stages", stageIds.size)
      c("exec.tasks", tasks.size)
      val run = tasks.map(_.runMs).sum
      c("exec.task_run_ms", run); runMs += run
      c("exec.task_cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
      c("exec.gc_ms", tasks.map(_.gcMs).sum)
      c("exec.task_wait_ms", tasks.map { t =>
        exec.stages.get(t.stage).map(s => math.max(0L, t.launch - s._1)).getOrElse(0L)
      }.sum)
      c("exec.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum)
      c("exec.shuffle_read_bytes", tasks.map(_.shuffleRead).sum)
      c("exec.spill_bytes", tasks.map(_.spill).sum)
      stageIds.foreach { s =>
        val d = exec.tasks.getOrElse(s, Nil).map(_.durMs).sorted
        // tasks under 10 ms are scheduling noise, not data skew
        if (d.size >= 2) stageSkew += d.last.toDouble / math.max(10L, d(d.size / 2))
      }
      js.foreach { case (_, _, jobId, j) =>
        val end = j.end.getOrElse(j.start).toDouble
        spans += Span(spans.size, o, "exec", s"job $jobId", j.start.toDouble, end,
          parentAt(bench, o, j.start.toDouble, end))
      }
    }
    // Catalyst phases run synchronously on the one client thread, so a
    // phase belongs to the operation whose span encloses it. Each
    // QueryExecution counts once, however often its plan is re-executed.
    val roots = bench.filter(_.parent == -1)
    queries.phases.values.foreach { ph =>
      ph.foreach { case (name, (s, e)) =>
        roots.find(r => r.start <= s + 1 && r.end >= e - 1).foreach { r =>
          val m = opCounts.getOrElseUpdate(r.op, mutable.Map.empty)
          val key = s"catalyst.${name}_ms"
          m(key) = m.getOrElse(key, 0.0) + (e - s)
          spans += Span(spans.size, r.op, "catalyst", name, s.toDouble, e.toDouble,
            parentAt(bench, r.op, s.toDouble, e.toDouble))
        }
      }
    }
    runTotals = Map(
      "exec.core_busy_ratio" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "exec.skew_ratio" -> (if (stageSkew.isEmpty) 0.0 else stageSkew.max))
  }

  private var runTotals = Map.empty[String, Double]

  /** Per-operation counts, after [[finish]]. */
  def countsOf(opId: Int): Map[String, Double] =
    opCounts.get(opId).map(_.toMap).getOrElse(Map.empty)

  /** Run-level ratios, after [[finish]]. */
  def ratios: Map[String, Double] = runTotals

  private def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + (curE - curS)).toDouble
  }
}

/** Self time: a span's duration minus the part its children cover. */
object SelfTime {
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var total = 0.0
      var cs = Double.NegativeInfinity
      var ce = Double.NegativeInfinity
      covered.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) total += ce - cs
      s.layer -> math.max(0.0, s.dur - total)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

final case class TaskRec(stage: Int, launch: Long, durMs: Long, runMs: Double,
    cpuNs: Double, gcMs: Double, shuffleWrite: Double, shuffleRead: Double,
    spill: Double)

final class JobRec(val group: String, val start: Long) {
  var end: Option[Long] = None
}

/** Records Spark's job, stage and task events; read after the bus drains. */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  /** stage id -> (submission time, job group of the submitting op) */
  val stages = mutable.Map.empty[Int, (Long, String)]
  val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(group(e.properties), e.time)
  }

  private def group(p: java.util.Properties): String =
    Option(p).map(_.getProperty("spark.jobGroup.id")).orNull

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Some(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages(e.stageInfo.stageId) = (
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
      group(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskRec(
      e.stageId, info.launchTime, info.duration,
      m.map(_.executorRunTime.toDouble).getOrElse(0.0),
      m.map(_.executorCpuTime.toDouble).getOrElse(0.0),
      m.map(_.jvmGCTime.toDouble).getOrElse(0.0),
      m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0),
      m.map(x => (x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).toDouble).getOrElse(0.0),
      m.map(x => (x.memoryBytesSpilled + x.diskBytesSpilled).toDouble).getOrElse(0.0))
  }
}

/** Catalyst phase intervals of every QueryExecution that ran an action. */
final class QueryListener extends QueryExecutionListener {
  val phases = mutable.LinkedHashMap.empty[Long, Map[String, (Long, Long)]]

  private def record(qe: QueryExecution): Unit = synchronized {
    if (!phases.contains(qe.id))
      phases(qe.id) = qe.tracker.phases
        .filter { case (n, _) => Set("analysis", "optimization", "planning")(n) }
        .map { case (n, p) => (n, (p.startTimeMs, p.endTimeMs)) }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What a check decided about one operation's output. `Pending` hands the
  * rows to the DuckDB oracle that runs after the JVM exits. */
sealed trait Verdict
case object Passed extends Verdict
final case class Wrong(why: String) extends Verdict
final case class Pending(oracleSql: String) extends Verdict

/** An operation's fully evaluated output. */
final case class Result(schema: StructType, rows: Array[Row])

/** One operation of a workload round. `run` is the timed region and must
  * return the fully evaluated result; `check` runs after the measured
  * window ends, outside every timed region. */
final case class Op(name: String, kind: String, depth: Int,
    run: () => Result, check: Result => Verdict)

/** What a workload hands the runner. `setup` opens the graph (it is timed
  * and repeated); `warmup` does, untimed, what the timed ops should find
  * done (each workload says what); `round(i)` is the fixed op mix of
  * round i. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def round(i: Int): Seq[Op]
  /** Logical-plan node count of the graph the workload is reading, when it
    * is not a write chain (which reports its own per step). */
  def graphPlanNodes: Int
}

/** `customers` and `tinyCustomers` are the customer counts of the graphs in
  * `data` and `tiny`; customer keys are 0 until the count. */
final case class Ctx(spark: SparkSession, tracer: Tracer, data: String,
    tiny: String, customers: Long, tinyCustomers: Long, seed: Long, cores: Int)

object Main {

  /** Renders the run record, the ledger and the op dumps. */
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val marks = mutable.LinkedHashMap("start" -> System.nanoTime())
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = Paths.get(a("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(out)

    val spark = GraftSession.builder(s"local[$cores]", cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    marks("session") = System.nanoTime()
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, a("data"), a("tiny"), a("customers").toLong,
      a("tiny-customers").toLong, seed, cores)
    val wl: Workload = workload match {
      case "cypher_interactive" => new CypherInteractive(ctx)
      case "graph_analytics"    => new GraphAnalytics(ctx)
      case "graph_writes"       => new GraphWrites(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: repeated so its median is not one cold JVM's first touch
    val setupS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    marks("setup") = System.nanoTime()
    wl.warmup()
    System.gc()
    resetPeakRss()
    marks("warmup") = System.nanoTime()

    // closed loop, one client thread: whole rounds until `seconds` passed,
    // so every run measures the same op mix
    val recs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val results = mutable.ArrayBuffer.empty[(Op, Either[Throwable, Result])]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var round = 0
    while (round == 0 || elapsed < seconds) {
      wl.round(round).foreach { op =>
        val id = recs.size
        tracer.beginOp(id)
        val s = System.nanoTime()
        val res = try Right(tracer.aroundOp(tracer.span("bench", op.name)(op.run())))
          catch { case t: Throwable => Left(t) }
        val lat = (System.nanoTime() - s) / 1e9
        recs += mutable.Map("id" -> id, "name" -> op.name, "kind" -> op.kind,
          "depth" -> op.depth, "round" -> round, "latency_s" -> lat)
        results += op -> res
      }
      round += 1
    }
    val measuredS = elapsed
    marks("measure") = System.nanoTime()
    val peakRssMb = procStatusMb("VmHWM")
    spark.sparkContext.setJobGroup("check", "check", interruptOnCancel = false)

    results.zip(recs).foreach { case ((op, res), rec) =>
      res match {
        case Left(t) =>
          rec("status") = "error"
          rec("error") = (t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("")).take(300)
        case Right(res) =>
          (try op.check(res) catch { case t: Throwable => Wrong(s"check raised $t") }) match {
            case Passed => rec("status") = "ok"
            case Wrong(why) => rec("status") = "wrong"; rec("error") = why.take(300)
            case Pending(sql) =>
              val f = out.resolve(s"op${rec("id")}.json")
              Files.writeString(f, Json.writeValueAsString(Dump(res, sql)))
              rec("status") = "pending"
              rec("dump") = f.getFileName.toString
          }
      }
    }

    // the outputs are verdicts and dumps now: drop them, so the memory read
    // below sees what the engine keeps, not the benchmark's copies of its
    // results. The ops stay live, and with them the snapshots a write chain
    // holds, as a user holding the chain's last snapshot would.
    val ran = results.map(_._1)
    results.clear()
    marks("check") = System.nanoTime()
    // what the window left live: it tracks caches, persisted blocks,
    // plan-cache entries and generated classes, not G1's young-generation
    // sizing, which makes VmHWM swing by a quarter between identical runs
    val liveMb = settledLiveMb()
    java.lang.ref.Reference.reachabilityFence(ran)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "data" -> a("data"), "setup_samples_s" -> setupS, "rounds" -> round,
      "measured_s" -> measuredS, "peak_rss_mb" -> peakRssMb,
      "mem_after_gc_mb" -> liveMb, "ops" -> recs)
    if (trace) record("trace") = traced(tracer, wl, recs, cores, out)
    // wall time of each stage of the run, for sizing the run budget
    record("stages_s") = marks.toSeq.sliding(2).collect {
      case Seq((_, t0), (name, t1)) => name -> (t1 - t0) / 1e9
    }.toMap
    Files.writeString(out.resolve("run.json"), Json.writeValueAsString(record))
    spark.stop()
  }

  /** Heap plus non-heap memory in use, in MiB, once full GCs stop freeing
    * it. A GC hands unreachable RDDs, shuffles and broadcasts to Spark's
    * ContextCleaner, which drops their blocks on its own thread, so one GC
    * reads whatever the cleaner had not reached yet. GCs repeat, 0.2 s
    * apart, until one frees less than 1 MiB (at most 10). */
  def settledLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def live(): Double = {
      System.gc()
      (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }
    var (prev, cur, gcs) = (Double.MaxValue, live(), 1)
    while (prev - cur >= 1.0 && gcs < 10) {
      Thread.sleep(200)
      prev = cur
      cur = live()
      gcs += 1
    }
    cur
  }

  /** Restarts VmHWM at the current RSS (Linux clear_refs), so the peak
    * read after the measured window covers that window only. */
  def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => () }

  /** A kB field of /proc/self/status (VmHWM, VmRSS), in MiB. */
  def procStatusMb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** The traced run's raw figures: every op's counts, run-level ratios,
    * per-layer self time and the tracer's own cost. The spans and counts
    * also go to the ledger file. */
  private def traced(tracer: Tracer, wl: Workload,
      recs: mutable.ArrayBuffer[mutable.Map[String, Any]], cores: Int, out: Path): Map[String, Any] = {
    val spans = tracer.finish(cores)
    recs.foreach(r => r("counts") = tracer.countsOf(r("id").asInstanceOf[Int]))
    val self = SelfTime.byLayer(spans)
    val ledger = out.resolve("ledger.json")
    Files.writeString(ledger, Json.writeValueAsString(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent)),
      "counts" -> recs.map(r => Map("op" -> r("id"), "name" -> r("name"),
        "counts" -> r("counts"))),
      "self_ms" -> self, "overhead_ms" -> tracer.overheadMs)))
    Map("ratios" -> tracer.ratios, "self_ms" -> self,
      "overhead_ms" -> tracer.overheadMs, "graph_plan_nodes" -> wl.graphPlanNodes,
      "ledger" -> ledger.getFileName.toString)
  }
}

/** An operation's rows in the shape the oracle check reads: column names,
  * Spark type names and JSON values. */
object Dump {
  def apply(res: Result, sql: String): Map[String, Any] =
    Map("oracle" -> sql,
      "columns" -> res.schema.fieldNames.toSeq,
      "types" -> res.schema.fields.map(_.dataType.typeName).toSeq,
      "rows" -> res.rows.map(r => r.toSeq.map(value)))

  private def value(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(value)
    case d: java.math.BigDecimal     => d.doubleValue
    case t: java.sql.Timestamp       => t.toString
    case t: java.time.LocalDateTime  => t.toString
    case d: java.sql.Date            => d.toString
    case d: java.time.LocalDate      => d.toString
    case other                       => other
  }
}

/** Timing and forcing helpers shared by the workloads. */
object Run {
  /** Cypher read: parse, plan (or plan-cache hit) and evaluate every
    * output column by collecting the rows. */
  def cypher(ctx: Ctx, g: graft.graph.PropertyGraph, q: String,
      params: Map[String, Any]): Result = {
    val tr = ctx.tracer
    tr.phase("parse")
    tr.span("cypher", "parse", "cypher.parse_ms")(graft.cypher.Cypher.parse(q))
    tr.phase("plan")
    val hits0 = graft.cypher.Cypher.planCacheHits
    val df = tr.span("cypher", "plan", "cypher.plan_ms")(
      graft.cypher.Cypher.run(ctx.spark, g, q, params))
    tr.count("cypher.runs", 1)
    tr.count("cypher.plan_cache_hits", (graft.cypher.Cypher.planCacheHits - hits0).toDouble)
    force(ctx, df)
  }

  /** Operator call: time until it returns its DataFrame (driver-side round
    * loops, eager checkpoints), then evaluate it. */
  def build(ctx: Ctx)(op: => DataFrame): Result = {
    ctx.tracer.phase("build")
    val df = ctx.tracer.span("ops", "build", "ops.build_ms")(op)
    force(ctx, df)
  }

  def force(ctx: Ctx, df: DataFrame): Result = {
    ctx.tracer.phase("exec")
    Result(df.schema, ctx.tracer.span("exec", "collect")(df.collect()))
  }
}

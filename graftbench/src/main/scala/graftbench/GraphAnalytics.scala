package graftbench

import graft.SparkEntry
import graft.graph.{PropertyGraph, TpchGraph}
import graft.ops.{Bfs, Centrality, Ranking, Walks}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom

/**
 * Whole-graph algorithms through their public entry points, on three
 * inputs:
 *  - the full topology (every relationship of the graph, far above the
 *    operators' 200,000-edge local threshold, so distributed branches run),
 *  - the FROM/IN_REGION subgraph (below it, so the driver-local twins run),
 *  - a skewed R-MAT edge set generated from the seed (100,000 draws at
 *    scale 15, so also below the threshold: its triangle count meets the
 *    skew in a wedge join that has no local twin).
 * Inventory queries run with their DuckDB oracle; every other op is
 * compared with an answer the benchmark computes itself ([[Answers]]).
 */
final class GraphAnalytics(ctx: Ctx) extends Workload {
  import GraphAnalytics._

  private val spark = ctx.spark
  private var g: PropertyGraph = _
  private val rnd = new SplittableRandom(ctx.seed)
  private val rmatSeed = rnd.split().nextLong()
  /** The R-MAT edges, drawn again wherever they are needed rather than held
    * by the driver (the checks' answers, and each partition of the input
    * its own contiguous slice of them). */
  private def rmat: Array[(Long, Long)] = RMat.edges(rmatSeed)
  private val rmatDf = {
    import spark.implicits._
    val (seed, parts) = (rmatSeed, ctx.cores)
    spark.sparkContext.parallelize(0 until parts, parts).flatMap { i =>
      val e = RMat.edges(seed)
      e.slice((i.toLong * e.length / parts).toInt, ((i + 1L) * e.length / parts).toInt)
    }.toDF("src", "dst").cache()
  }

  def setup(): Unit = {
    TpchGraph.clearMemo()
    g = TpchGraph.load(spark, ctx.data)
  }

  /** Only materializes the generated input: a batch analytics job starts
    * in a cold JVM every time, so the measured round pays JIT warm-up the
    * way such a job does. */
  def warmup(): Unit = rmatDf.count()

  def graphPlanNodes: Int = Plans.nodes(g)

  def round(i: Int): Seq[Op] = {
    val sources = Seq.fill(BfsSources)(
      TpchGraph.LabelBase("Customer") + rnd.nextLong(ctx.customers))
    ops(sources)
  }

  private def sub: DataFrame = g.relsByTypes(Seq("FROM", "IN_REGION")).select("src", "dst")

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select(col("src").cast("long"), col("dst").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  private def inventory(name: String): Op =
    Op(name, "inventory", 0,
      () => Run.build(ctx)(SparkEntry.queries(name)(spark, ctx.data)),
      _ => Pending(SparkEntry.oracleSql(name)))

  private def ops(sources: Seq[Long]): Seq[Op] = {
    import spark.implicits._
    lazy val srcDf = sources.toDF("source")
    def op(name: String)(build: => DataFrame)(check: Array[Row] => Verdict) =
      Op(name, "algo", 0, () => Run.build(ctx)(build), r => check(r.rows))
    Seq(
      inventory("q_pagerank_weighted"),
      op("bfs_full")(Bfs.distances(g.topologyPairs, srcDf, BfsDepth)) { rows =>
        Answers.same("bfs_full", Answers.bfs(pairs(g.topologyPairs), sources, BfsDepth),
          rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
      },
      op("topo_sub")(Walks.topologicalLayers(sub)) { rows =>
        Answers.same("topo_sub", Answers.layers(pairs(sub)),
          rows.map(r => r.getLong(0) -> r.getInt(1)).toMap)
      },
      inventory("q_node_similarity"),
      op("triangles_rmat")(Ranking.triangleCounts(rmatDf)) { rows =>
        Answers.same("triangles_rmat", Answers.triangles(rmat), longMap(rows))
      },
      op("scc_rmat")(Centrality.stronglyConnectedComponents(rmatDf)) {
        rows => Answers.same("scc_rmat", Answers.scc(rmat), longMap(rows))
      })
  }

  private def longMap(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
}

object GraphAnalytics {
  val BfsSources = 8
  val BfsDepth = 4
  val RMatScale = 15
  val RMatEdges = 100000
}

/** Graph500-shaped R-MAT edges (src, dst), self-loops and duplicate pairs
  * dropped: `RMatEdges` draws over 2^`RMatScale` vertices from `seed`. */
object RMat {
  def edges(seed: Long): Array[(Long, Long)] = {
    import GraphAnalytics.{RMatEdges => n, RMatScale => scale}
    val rnd = new SplittableRandom(seed)
    val (a, b, c) = (0.57, 0.19, 0.19)
    val seen = new java.util.HashSet[(Long, Long)]
    val out = Array.newBuilder[(Long, Long)]
    (0 until n).foreach { _ =>
      var s = 0L
      var d = 0L
      (0 until scale).foreach { _ =>
        val h = rnd.nextDouble()
        s = s * 2 + (if (h >= a + b) 1 else 0)
        d = d * 2 + (if ((h >= a && h < a + b) || h >= a + b + c) 1 else 0)
      }
      if (s != d && seen.add((s, d))) out += ((s, d))
    }
    out.result()
  }
}

package graftbench

import graft.graph.{PropertyGraph, TpchGraph}

import java.util.SplittableRandom

/**
 * Chains of Cypher updates. Each statement runs on the snapshot the
 * previous one returned and is followed by a read of what it wrote; every
 * chain restarts from the pristine graph. A chain is always the same five
 * statement kinds in the same order, so depth d of every chain does
 * comparable work and the per-depth figures show how cost grows with the
 * snapshot's lineage. A round is two chains with their own parameters:
 * with one, the median of its ten latencies sat on a single small write
 * whose time differed twofold between seeds.
 *
 * Read-back values are derived from the chain's seeded parameters alone:
 * customer keys are 0 until the customer count, so `key % m = r` selects a known count.
 */
final class GraphWrites(ctx: Ctx) extends Workload {
  import GraphWrites._

  private var g0: PropertyGraph = _
  private val rnd = new SplittableRandom(ctx.seed)

  def setup(): Unit = {
    TpchGraph.clearMemo()
    g0 = TpchGraph.load(ctx.spark, ctx.data)
  }

  /** The five statements of a chain on the tiny graph, without their
    * reads: cold, the small writes around the median latency mostly timed
    * first-use compilation. The reads stay cold for the first measured
    * chain; warming them too cost as much as a chain at sf0.1. */
  def warmup(): Unit = {
    val tiny = TpchGraph.load(ctx.spark, ctx.tiny)
    chain(tiny, Params(7, 3, 20, 1000000, 4), ctx.tinyCustomers)
      .filter(_.kind == "write")
      .foreach(op => try op.run() catch { case _: Throwable => () })
  }

  def graphPlanNodes: Int = Plans.nodes(g0)

  def round(i: Int): Seq[Op] = (0 until ChainsPerRound).flatMap { j =>
    val m = 40 + rnd.nextInt(40)
    chain(g0, Params(m, rnd.nextInt(m), 16 + rnd.nextInt(16),
      1000000L + 1000L * (ChainsPerRound * i + j), rnd.nextInt(25)), ctx.customers)
  }

  /** The five statements and their reads; each write op also records the
    * plan size of the snapshot it returns. */
  private def chain(start: PropertyGraph, p: Params, customers: Long): Seq[Op] = {
    var g = start
    val tiered = (0L until customers).count(_ % p.m == p.r).toLong
    val evens = (1 to p.n).count(i => (p.base + i) % 2 == 0).toLong
    val tier = s"t${p.base}"
    val batch = p.base
    val steps: Seq[(String, String, Map[String, Any], String, Map[String, Any], Seq[Long])] = Seq(
      ("set_property",
        "MATCH (c:Customer) WHERE c.key % $m = $r SET c.tier = $tier",
        Map("m" -> p.m.toLong, "r" -> p.r.toLong, "tier" -> tier),
        "MATCH (c:Customer) WHERE c.tier = $tier RETURN count(*) AS n",
        Map("tier" -> tier), Seq(tiered)),
      ("create",
        "UNWIND range(1, $n) AS i CREATE (:Probe {key: $base + i, batch: $batch})",
        Map("n" -> p.n.toLong, "base" -> p.base, "batch" -> batch),
        "MATCH (x:Probe {batch: $batch}) RETURN count(*) AS n",
        Map("batch" -> batch), Seq(p.n.toLong)),
      ("merge_rel",
        "MATCH (x:Probe {batch: $batch}), (n:Nation {key: $nk}) MERGE (x)-[:LOCATED]->(n)",
        Map("batch" -> batch, "nk" -> p.nk.toLong),
        "MATCH (x:Probe {batch: $batch})-[r:LOCATED]->(n:Nation) RETURN count(r) AS n",
        Map("batch" -> batch), Seq(p.n.toLong)),
      ("set_label",
        "MATCH (c:Customer) WHERE c.tier = $tier SET c:Vip",
        Map("tier" -> tier),
        "MATCH (c:Vip) RETURN count(*) AS n",
        Map.empty, Seq(tiered)),
      ("detach_delete",
        "MATCH (x:Probe {batch: $batch}) WHERE x.key % 2 = 0 DETACH DELETE x",
        Map("batch" -> batch),
        "MATCH (x:Probe {batch: $batch}) OPTIONAL MATCH (x)-[r:LOCATED]->() " +
          "RETURN count(DISTINCT x) AS nodes, count(r) AS rels",
        Map("batch" -> batch), Seq(p.n - evens, p.n - evens)))
    steps.zipWithIndex.flatMap { case ((kind, w, wp, r, rp, expect), i) =>
      val depth = i + 1
      Seq(
        Op(kind, "write", depth, () => {
          ctx.tracer.phase("write")
          val (next, out) = ctx.tracer.span("cypher", "execute", "cypher.execute_ms") {
            graft.cypher.Cypher.execute(ctx.spark, g, w, wp)
          }
          g = next
          val res = out.map(Run.force(ctx, _))
            .getOrElse(Result(new org.apache.spark.sql.types.StructType(), Array.empty))
          ctx.tracer.count("graph.snapshot_plan_nodes", Plans.nodes(g).toDouble)
          res
        }, _ => Passed),
        Op(kind, "read", depth, () => Run.cypher(ctx, g, r, rp), res => {
          val got = res.rows.headOption.map(row => expect.indices.map(row.getLong))
          if (got.contains(expect)) Passed
          else Wrong(s"depth $depth $kind read back ${got.getOrElse("no row")}, " +
            s"expected $expect")
        }))
    }
  }
}

object GraphWrites {
  val ChainsPerRound = 2
  final case class Params(m: Int, r: Int, n: Int, base: Long, nk: Int)
}

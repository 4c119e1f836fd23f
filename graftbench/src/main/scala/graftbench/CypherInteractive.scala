package graftbench

import graft.graph.{PropertyGraph, TpchGraph}

import java.util.SplittableRandom

/** Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s. */
final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/**
 * Parameterised Cypher reads on the pristine graph: anchored lookup,
 * two-hop expand with aggregate and top-k, nation-anchored aggregate,
 * EXISTS and OPTIONAL MATCH subqueries, a bounded var-length expand and a
 * shortestPath from an anchor. Each round issues every template once, in a
 * fixed order; parameters come from a seeded Zipf over a key space whose
 * distinct (text, params) set is several times the engine's 256-entry plan
 * cache while all seven texts fit its parse cache.
 */
final class CypherInteractive(ctx: Ctx) extends Workload {
  import CypherInteractive._

  private var g: PropertyGraph = _
  private val rnd = new SplittableRandom(ctx.seed)
  private val custKeys = {
    // a seeded sample of the customer key space, Zipf-ranked
    val r = new SplittableRandom(ctx.seed ^ 0x5eedL)
    Array.fill(KeySpace)(r.nextLong(ctx.customers))
  }
  private val custZipf = new Zipf(KeySpace, 1.0, rnd.split())
  private val nationZipf = new Zipf(25, 1.0, rnd.split())
  private val pick = rnd.split()

  def setup(): Unit = {
    TpchGraph.clearMemo()
    g = TpchGraph.load(ctx.spark, ctx.data)
  }

  /** The lookup template on the tiny graph: warms the parser, planner,
    * Catalyst and code generation, within the run budget. */
  def warmup(): Unit = {
    val t = Templates.head
    try Run.cypher(ctx, TpchGraph.load(ctx.spark, ctx.tiny), t.cypher,
      t.params(Draw(7, 3, 200000.0, "F", 200)))
    catch { case _: Throwable => () }
  }

  def graphPlanNodes: Int = Plans.nodes(g)

  def round(i: Int): Seq[Op] = Templates.map { t =>
    val d = Draw(custKeys(custZipf.next()), nationZipf.next().toLong,
      MinPrices(pick.nextInt(MinPrices.size)),
      Statuses(pick.nextInt(Statuses.size)),
      PartBounds(pick.nextInt(PartBounds.size)))
    val params = t.params(d)
    Op(t.name, "read", 0, () => Run.cypher(ctx, g, t.cypher, params),
      _ => Pending(t.oracle(d)))
  }
}

object CypherInteractive {
  val KeySpace = 600
  val MinPrices = Seq(100000.0, 200000.0, 300000.0, 400000.0)
  val Statuses = Seq("F", "O", "P")
  val PartBounds = Seq(1000L, 2000L, 4000L)

  final case class Draw(ck: Long, nk: Long, minp: Double, status: String, pk: Long)

  final case class Template(name: String, cypher: String,
      params: Draw => Map[String, Any], oracle: Draw => String)

  val Templates: Seq[Template] = Seq(
    Template("lookup",
      "MATCH (c:Customer {key: $ck}) RETURN c.name AS name, c.acctbal AS acctbal, " +
        "c.mktsegment AS segment",
      d => Map("ck" -> d.ck),
      d => s"SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment " +
        s"FROM customer WHERE c_custkey = ${d.ck}"),
    Template("expand_topk",
      "MATCH (c:Customer {key: $ck})-[:PLACED]->(o:Order)-[r:CONTAINS]->(p:Part) " +
        "RETURN p.brand AS brand, count(*) AS n, sum(r.qty) AS qty " +
        "ORDER BY qty DESC, brand LIMIT 5",
      d => Map("ck" -> d.ck),
      d => "SELECT p_brand AS brand, count(*) AS n, sum(l_quantity) AS qty " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        s"JOIN part ON p_partkey = l_partkey WHERE o_custkey = ${d.ck} " +
        "GROUP BY p_brand ORDER BY qty DESC, brand LIMIT 5"),
    Template("nation_agg",
      "MATCH (n:Nation {key: $nk})<-[:FROM]-(c:Customer)-[:PLACED]->(o:Order) " +
        "WHERE o.totalprice > $minp " +
        "RETURN c.mktsegment AS segment, count(o) AS orders " +
        "ORDER BY orders DESC, segment LIMIT 3",
      d => Map("nk" -> d.nk, "minp" -> d.minp),
      d => "SELECT c_mktsegment AS segment, count(*) AS orders " +
        "FROM customer JOIN orders ON o_custkey = c_custkey " +
        s"WHERE c_nationkey = ${d.nk} AND o_totalprice > ${d.minp} " +
        "GROUP BY c_mktsegment ORDER BY orders DESC, segment LIMIT 3"),
    Template("exists",
      "MATCH (s:Supplier)-[:FROM]->(n:Nation {key: $nk}) " +
        "WHERE EXISTS { MATCH (s)<-[:SUPPLIED_BY]-(o:Order) WHERE o.totalprice > $minp } " +
        "RETURN count(s) AS suppliers",
      d => Map("nk" -> d.nk, "minp" -> (d.minp + 95000.0)),
      d => "SELECT count(*) AS suppliers FROM supplier s " +
        s"WHERE s_nationkey = ${d.nk} AND EXISTS (SELECT 1 FROM lineitem " +
        "JOIN orders ON o_orderkey = l_orderkey WHERE l_suppkey = s.s_suppkey " +
        s"AND o_totalprice > ${d.minp + 95000.0})"),
    Template("optional",
      "MATCH (c:Customer) WHERE c.key >= $ck AND c.key < $ck + 20 " +
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.status = $status " +
        "RETURN c.key AS ckey, count(o) AS n",
      d => Map("ck" -> d.ck, "status" -> d.status),
      d => "SELECT c_custkey AS ckey, count(o_orderkey) AS n FROM customer " +
        s"LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus = '${d.status}' " +
        s"WHERE c_custkey >= ${d.ck} AND c_custkey < ${d.ck} + 20 GROUP BY c_custkey"),
    Template("varlen",
      "MATCH (c:Customer {key: $ck})-[:FROM|IN_REGION*1..2]->(x) " +
        "RETURN x.name AS name, count(*) AS n",
      d => Map("ck" -> d.ck),
      d => "SELECT name, count(*) AS n FROM (" +
        "SELECT n_name AS name FROM customer JOIN nation ON n_nationkey = c_nationkey " +
        s"WHERE c_custkey = ${d.ck} UNION ALL " +
        "SELECT r_name FROM customer JOIN nation ON n_nationkey = c_nationkey " +
        s"JOIN region ON r_regionkey = n_regionkey WHERE c_custkey = ${d.ck}) " +
        "GROUP BY name"),
    Template("shortest",
      "MATCH (c:Customer {key: $ck}) " +
        "MATCH sp = shortestPath((c)-[:PLACED|CONTAINS*..4]->(p:Part)) " +
        "WHERE p.key < $pk RETURN p.key AS pkey, length(sp) AS hops",
      d => Map("ck" -> d.ck, "pk" -> d.pk),
      d => "SELECT DISTINCT l_partkey AS pkey, 2 AS hops FROM orders " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        s"WHERE o_custkey = ${d.ck} AND l_partkey < ${d.pk}"))
}

/** Logical-plan size of a graph snapshot: nodes of its node and rel plans. */
object Plans {
  def nodes(g: PropertyGraph): Int =
    g.nodes.queryExecution.logical.collect { case p => p }.size +
      g.rels.queryExecution.logical.collect { case p => p }.size
}

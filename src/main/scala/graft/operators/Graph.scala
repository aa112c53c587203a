package graft.operators

import graft.{QueryDef, Qh}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the customer↔supplier co-purchase
  * graph (edges = distinct (o_custkey, l_suppkey) pairs witnessed by
  * lineitem ⋈ orders). Complements [[Dedup]]'s connected-components
  * (label propagation): PageRank is the OTHER canonical bulk-iterative
  * graph shape — fixed-point score propagation — and exercises the loop-
  * with-lineage-control pattern (localCheckpoint per superstep, exactly
  * like dedup_cluster) that any Pregel-style computation on Spark needs.
  *
  * Integer-exact discipline: ranks are scaled longs (R0 = 1e12), every
  * contribution is `pr div deg` (integer division) and the damping step
  * is `(85 · Σ) div 100` — both engines run the identical integer
  * recurrence, so a 3-iteration unroll in portable SQL reproduces the
  * loop bit-for-bit. No float accumulates anywhere until the final
  * display column.
  *
  * Scale notes: each superstep is one equi-join (rank → edge src) plus
  * one groupBy(dst) with map-side partial aggregation — the standard
  * distributed PageRank; the edge list is the only large operand and is
  * localCheckpointed once. Total rank mass is N·R0, so a single node's
  * rank is < N·R0 and the 85·Σ intermediate stays within signed 64-bit
  * for N ≲ 10^5 at R0=1e12; a 100 TB graph (N ~ 1e9) would set
  * R0 = 1e18/N — same recurrence, rescaled constant.
  */
object Graph {
  import Qh._

  /** Node encoding: customers at 2·custkey, suppliers at 2·suppkey+1 —
    * integer node ids shuffle as 8-byte keys (a string tag would hash
    * variable-length keys on every superstep). */
  private val R0 = 1000000000000L

  /** r14 (guide §2.4/§3.1): the iteration-state side of every graph
    * superstep join (rank / frontier / tentative-distance / authority
    * tables) is NODE-sized while the other side is the EDGE list — and
    * because the edge list is a checkpointed LogicalRDD, Catalyst has no
    * stats and plans a sort-merge join that re-shuffles the edges EVERY
    * superstep. When the node-sized side is provably small (its count is
    * a free read off a just-checkpointed frame), [[Qh.bcastIfSmall]]
    * broadcasts it instead: the edge list is then never re-exchanged
    * after its one materialization, and each superstep's only shuffle
    * carries node-sized partial aggregates. Above the
    * [[Qh.BroadcastRows]] cap (a 100 TB graph with ~1e9 nodes) the
    * hint is skipped and the former shuffle-join shape
    * stands. */

  /** One PageRank superstep on the undirected edge list (already keyed
    * src→dst both directions): contrib = pr div deg, damped sum.
    * `nNodes` bounds both node-sized join sides (rank and the grouped
    * contribution table) for [[bcastIfSmall]]. */
  private def step(und: DataFrame, deg: DataFrame, rank: DataFrame,
      nNodes: Long): DataFrame = {
    val contrib = und
      .join(bcastIfSmall(rank, nNodes), und("src") === rank("node"))
      .select(col("dst").as("node"), expr("pr div deg").as("c"))
      .groupBy("node").agg(sum(col("c")).as("in_c"))
    deg.select(col("src").as("node"), col("deg"))
      .join(bcastIfSmall(contrib, nNodes), Seq("node"), "left")
      .select(col("node"), col("deg"),
        (lit(R0 * 15L / 100L) + expr("(85 * coalesce(in_c, 0)) div 100")).as("pr"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    // q55 — 3-iteration damped PageRank (d=0.85) over the bipartite
    // co-purchase graph, top-20 hubs. The oracle unrolls the identical
    // integer recurrence as chained CTEs.
    "q55_pagerank" -> QueryDef(
      (s, d) => {
        val edges = tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        // NB: do NOT pre-repartition before the lineage cut — under AQE
        // the checkpointed LogicalRDD reports UnknownPartitioning, so a
        // repartition here is a full shuffle whose layout Catalyst then
        // forgets (plan-audited in r9: the superstep joins re-exchange
        // either way; dropping the repartition removes one shuffle).
        val und = edges
          .union(edges.select(col("dst").as("src"), col("src").as("dst")))
          .localCheckpoint()
        val deg = und.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
        // Free read off the just-checkpointed frame: |nodes| drives the
        // superstep broadcast decision (see bcastIfSmall).
        val nNodes = deg.count()
        var rank = deg.select(col("src").as("node"), col("deg"), lit(R0).as("pr"))
        for (_ <- 1 to 3)
          rank = step(und, deg, rank, nNodes).localCheckpoint()
        rank
          .select(col("node"), col("deg"), col("pr"),
            (col("pr").cast("double") / 1.0e12).as("score"))
          .orderBy(col("pr").desc, col("node"))
          .limit(20)
      },
      Some("""WITH edges AS (
             |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |und AS (SELECT src, dst FROM edges
             |        UNION ALL SELECT dst, src FROM edges),
             |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
             |        FROM und GROUP BY src),
             |r0 AS (SELECT node, deg, CAST(1000000000000 AS BIGINT) AS pr FROM deg),
             |c1 AS (SELECT u.dst AS node, CAST(sum(divide(r.pr, r.deg)) AS BIGINT) AS in_c
             |       FROM und u JOIN r0 r ON u.src = r.node GROUP BY u.dst),
             |r1 AS (SELECT d.node, d.deg,
             |         150000000000 + divide(85 * COALESCE(c.in_c, 0), 100) AS pr
             |       FROM deg d LEFT JOIN c1 c ON d.node = c.node),
             |c2 AS (SELECT u.dst AS node, CAST(sum(divide(r.pr, r.deg)) AS BIGINT) AS in_c
             |       FROM und u JOIN r1 r ON u.src = r.node GROUP BY u.dst),
             |r2 AS (SELECT d.node, d.deg,
             |         150000000000 + divide(85 * COALESCE(c.in_c, 0), 100) AS pr
             |       FROM deg d LEFT JOIN c2 c ON d.node = c.node),
             |c3 AS (SELECT u.dst AS node, CAST(sum(divide(r.pr, r.deg)) AS BIGINT) AS in_c
             |       FROM und u JOIN r2 r ON u.src = r.node GROUP BY u.dst),
             |r3 AS (SELECT d.node, d.deg,
             |         150000000000 + divide(85 * COALESCE(c.in_c, 0), 100) AS pr
             |       FROM deg d LEFT JOIN c3 c ON d.node = c.node)
             |SELECT node, deg, pr, CAST(pr AS DOUBLE) / 1000000000000.0 AS score
             |FROM r3 ORDER BY pr DESC, node LIMIT 20""".stripMargin),
      doc = "3-superstep integer-exact PageRank (d=0.85) over the " +
        "customer↔supplier co-purchase graph; localCheckpoint lineage control"),

    // Q66 — triangle counting (Schank–Wagner degree-oriented edge
    // iterator) over the k-NN graph of the embedding corpus: nodes are
    // vectors, edges the symmetrized sim_knn_join top-3 neighbor pairs.
    // Triangles here measure LOCAL CLUSTERING of the embedding manifold
    // — the diversity/redundancy signal curation pipelines read (a
    // triangle-dense neighborhood is a tight semantic clump; SemDeDup's
    // targets are exactly the high-clustering regions). Why this graph:
    // its density is scale-INVARIANT by construction (m ≤ 3n — a
    // co-occurrence projection saturates to a clique as the corpus
    // grows), so the wedge join's Σ outdeg² cost stays linear-ish in n
    // at every sf. Every edge is oriented from the lower-(degree, id)
    // endpoint to the higher; a wedge a→b, a→c (b≺c) closes into a
    // triangle iff edge b→c exists — each triangle found EXACTLY once,
    // Σ outdeg² bounded by O(m^1.5) (the standard distributed
    // formulation; hub wedges never explode because hubs sit on the
    // RECEIVING end of the orientation). The ≺ order rides in one
    // integer key deg·2^40 + id (ids < 2^40; at bigger id spaces widen
    // the shift — the q55 R0 rescaling note). Two self-equi-joins + one
    // groupBy; no cartesian anywhere.
    "q66_triangles" -> QueryDef(
      (s, d) => {
        val (_, deg, closed) = knnGraph(s, d)
        val tri = closed
          .select(explode(array(col("ta"), col("tb"), col("tc"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("tri"))
        deg.join(tri, Seq("n"), "left")
          .select(col("n").as("vec_id"), col("deg"),
            coalesce(col("tri"), lit(0L)).as("tri"))
          .orderBy(col("tri").desc, col("vec_id")).limit(20)
      },
      Some {
        s"""$knnGraphSql,
           |tri AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
           |          SELECT unnest(list_value(ta, tb, tc)) AS n FROM closed)
           |        GROUP BY n)
           |SELECT deg.n AS vec_id, deg.deg AS deg,
           |  CAST(coalesce(tri.tri, 0) AS BIGINT) AS tri
           |FROM deg LEFT JOIN tri ON deg.n = tri.n
           |ORDER BY tri DESC, vec_id LIMIT 20""".stripMargin
      },
      doc = "degree-oriented edge-iterator triangle count over the " +
        "symmetrized k-NN(3) embedding graph — local clustering of the " +
        "manifold; m ≤ 3n edges, Σ outdeg² wedge bound"),

    // Q87 — global clustering coefficient (transitivity) of the same
    // k-NN(3) embedding graph: C = 3·triangles / wedges with wedges =
    // Σ_n deg·(deg−1)/2 — the one-number summary of how clumped the
    // embedding manifold is (rising transitivity between corpus
    // snapshots = growing semantic redundancy; the macro signal whose
    // micro form is q66's per-node ranking). All-integer: the oriented
    // closure counts each triangle exactly once, wedge mass is an exact
    // per-node polynomial, and the coefficient is a truncating ppm
    // division of non-negative 64-bit ints. Scale shape: shares q66's
    // degree-oriented edge iterator (Σ outdeg² bounded, no cartesian);
    // the three closing 1-row aggregates meet in broadcast cross joins.
    "q87_clustering_coeff" -> QueryDef(
      (s, d) => {
        val (pairs, deg, closed) = knnGraph(s, d)
        val nodes = deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
        val edges = pairs.agg(count(lit(1)).as("n_edges"))
        val tris = closed.agg(count(lit(1)).as("n_triangles"))
        nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(tris))
          .withColumn("global_cc_ppm",
            expr("n_triangles * 3 * 1000000 div n_wedges"))
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
            col("n_triangles"), col("global_cc_ppm"))
      },
      Some {
        s"""$knnGraphSql,
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           |    CAST(sum(divide(deg * (deg - 1), 2)) AS BIGINT) AS n_wedges FROM deg),
           |edg AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs),
           |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM closed)
           |SELECT n_nodes, n_edges, n_wedges, n_triangles,
           |  CAST(divide(n_triangles * 3 * 1000000, n_wedges) AS BIGINT) AS global_cc_ppm
           |FROM agg CROSS JOIN edg CROSS JOIN tri""".stripMargin
      },
      doc = "global clustering coefficient (transitivity) of the k-NN(3) " +
        "embedding graph in exact integer ppm: 3*triangles over exact " +
        "wedge mass; shares q66's oriented edge iterator"),

    // Q77 — k-hop BFS reachability (k=3) over the co-purchase graph from
    // the 3 top-degree hubs: the third canonical bulk-iterative graph
    // shape after fixed-point scoring (q55) and closure (dedup_cluster) —
    // frontier expansion with min-distance semantics, the spine of
    // neighborhood sampling (GraphSAGE fan-outs), blast-radius queries,
    // and k-hop feature collection.
    //
    // Scale shape: each hop is ONE equi-join of the CURRENT FRONTIER
    // (not the whole settled set) against the edge list, a distinct on
    // the expansion, and an anti-join against settled nodes — the
    // standard frontier-BFS; with localCheckpoint lineage cuts per hop,
    // exactly the dedup_cluster loop discipline. Settled stays
    // partitioned by node; nothing rescans prior frontiers. The oracle
    // unrolls the equivalent min-dist closure over 3 hops — frontier
    // BFS and min-dist relaxation provably agree on hop counts.
    // Output is the per-level rollup (bounded: k+1 rows) — dist,
    // reached-count, node-id checksum — so the gate pins the exact
    // REACHED SET, not just its size.
    "q77_khop_reach" -> QueryDef(
      (s, d) => {
        val edges = tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        // NB: no pre-repartition before the lineage cut — under AQE the
        // checkpointed LogicalRDD reports UnknownPartitioning (the hop
        // joins re-exchange regardless), so repartitioning here would
        // only add a forgotten shuffle (r9 plan audit, q55 note).
        val und = edges
          .union(edges.select(col("dst").as("src"), col("src").as("dst")))
          .localCheckpoint()
        val seeds = und.groupBy("src").agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("src")).limit(3)
          .select(col("src").as("node"))
        // Only the FRONTIER needs a lineage cut per hop (it feeds the
        // next expansion); `settled` stays a shallow union of already-
        // checkpointed frontiers — re-materializing the whole settled
        // set every hop would write O(reached) rows k times.
        var settled = seeds.withColumn("dist", lit(0L)).localCheckpoint()
        var frontier = settled.select("node")
        // One free read off the checkpointed edge list bounds every
        // node-sized side (frontier/settled ≤ distinct endpoints ≤
        // edge rows) — drives the per-hop broadcast (bcastIfSmall, r14):
        // under the cap neither the edge list nor the settled set is
        // ever re-shuffled, and no per-hop count jobs are added.
        val edgeRows = und.count()
        for (k <- 1 to 3) {
          val next = und.join(bcastIfSmall(frontier, edgeRows),
              und("src") === frontier("node"))
            .select(col("dst").as("node")).distinct()
            .join(bcastIfSmall(settled.select("node"), edgeRows),
              Seq("node"), "left_anti")
            .withColumn("dist", lit(k.toLong))
            .localCheckpoint()
          settled = settled.union(next)
          frontier = next.select("node")
        }
        settled.groupBy("dist")
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("node")).as("node_sum"),
            min(col("node")).as("min_node"),
            max(col("node")).as("max_node"))
          .orderBy("dist")
      },
      Some("""WITH edges AS (
             |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |und AS (SELECT src, dst FROM edges
             |        UNION ALL SELECT dst, src FROM edges),
             |seeds AS (SELECT src AS node
             |          FROM (SELECT src, count(*) AS deg FROM und GROUP BY src)
             |          ORDER BY deg DESC, src LIMIT 3),
             |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
             |d1 AS (SELECT node, min(dist) AS dist FROM (
             |         SELECT node, dist FROM d0
             |         UNION ALL
             |         SELECT u.dst AS node, d0.dist + 1 FROM und u
             |         JOIN d0 ON u.src = d0.node) GROUP BY node),
             |d2 AS (SELECT node, min(dist) AS dist FROM (
             |         SELECT node, dist FROM d1
             |         UNION ALL
             |         SELECT u.dst AS node, d1.dist + 1 FROM und u
             |         JOIN d1 ON u.src = d1.node) GROUP BY node),
             |d3 AS (SELECT node, min(dist) AS dist FROM (
             |         SELECT node, dist FROM d2
             |         UNION ALL
             |         SELECT u.dst AS node, d2.dist + 1 FROM und u
             |         JOIN d2 ON u.src = d2.node) GROUP BY node)
             |SELECT CAST(dist AS BIGINT) AS dist,
             |  CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(sum(node) AS BIGINT) AS node_sum,
             |  CAST(min(node) AS BIGINT) AS min_node,
             |  CAST(max(node) AS BIGINT) AS max_node
             |FROM d3 GROUP BY dist ORDER BY dist""".stripMargin),
      doc = "3-hop frontier BFS from the 3 top-degree co-purchase hubs: " +
        "per-hop equi-join + distinct + anti-join vs settled; per-level " +
        "rollup pins the exact reached set via node-id checksum"),

    // Q109 — HITS hubs & authorities (Kleinberg) on the directed
    // customer→supplier purchase graph: the OTHER eigenvector
    // centrality — PageRank (q55) scores undirected reach, HITS scores
    // the bipartite mutual reinforcement ("big buyers are the ones
    // buying from big suppliers, and vice versa") that a supplier-
    // ranking dashboard actually wants on a who-buys-from-whom graph.
    // Two exact UNNORMALIZED integer supersteps: a1 = in-degree,
    // h1 = Σ a1 over out-neighbors, a2 = Σ h1 over in-neighbors — pure
    // 64-bit sums both engines replay bit-for-bit (magnitudes bounded by
    // E·max_h1 ≤ E²: safe to E ≈ 3e9 edges; past that, rescale each
    // superstep by a power-of-ten div exactly like q55's R0 note —
    // same recurrence, one more div). Each superstep is one equi-join +
    // one hash agg on the edge key — the distributed HITS shape;
    // rankings of unnormalized iterates equal the normalized ones
    // (normalization is a positive scalar per iteration). Top-15
    // authorities via TakeOrdered (bounded driver result).
    "q109_hits" -> QueryDef(
      (s, d) => {
        val edges = tbl(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
          .distinct()
          .localCheckpoint() // both supersteps re-join the edge list
          // (no pre-repartition: forgotten under AQE — q55 note)
        // r14: node-sized authority/hub tables (≤ |edges| rows each)
        // broadcast into the superstep joins when small (bcastIfSmall) —
        // the edge list is then never re-shuffled after materialization.
        val nEdges = edges.count() // free read off the checkpointed frame
        val a1 = edges.groupBy("supp").agg(count(lit(1)).as("a1"))
          .localCheckpoint() // feeds both the h1 superstep and the final stitch
        val h1 = edges.join(bcastIfSmall(a1, nEdges), Seq("supp"))
          .groupBy("cust").agg(sum(col("a1")).as("h1"))
        val a2 = edges.join(bcastIfSmall(h1, nEdges), Seq("cust"))
          .groupBy("supp").agg(sum(col("h1")).as("a2"))
        a2.join(bcastIfSmall(a1, nEdges), Seq("supp"))
          .select(col("supp"), col("a1"), col("a2"))
          .orderBy(col("a2").desc, col("supp"))
          .limit(15)
      },
      Some("""WITH edges AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |a1 AS (SELECT supp, CAST(count(*) AS BIGINT) AS a1
             |       FROM edges GROUP BY supp),
             |h1 AS (SELECT cust, CAST(sum(a1) AS BIGINT) AS h1
             |       FROM edges JOIN a1 USING (supp) GROUP BY cust),
             |a2 AS (SELECT supp, CAST(sum(h1) AS BIGINT) AS a2
             |       FROM edges JOIN h1 USING (cust) GROUP BY supp)
             |SELECT supp, a1, a2 FROM a2 JOIN a1 USING (supp)
             |ORDER BY a2 DESC, supp LIMIT 15""".stripMargin),
      doc = "integer-exact 2-superstep HITS on the customer→supplier " +
        "graph: authority = in-degree-weighted mutual reinforcement, " +
        "one equi-join + hash agg per superstep, top-15 authorities"),

    // Q114 — weighted single-source shortest paths (3-round distributed
    // Bellman–Ford) from the top-degree hub: the DISTANCE metric the
    // reach (q77), centrality (q55), and clustering (q66/q87) reads
    // don't provide — "how tightly is everything coupled to the hub,
    // edge strength included". Edge weight = 1e6 div co-purchase count
    // (min 1): heavily-traded relationships are short. Each relaxation
    // round is one equi-join (edge src → tentative dist) + one
    // min-groupBy — the textbook distributed SSSP superstep; the edge
    // list is hash-partitioned once and localCheckpointed (the q55/q77
    // loop discipline), tentative distances localCheckpoint per round.
    // All-integer weights/distances, so the oracle unrolls the exact
    // recurrence (min is idempotent-commutative — no ordering hazard).
    // Seed = limit-1 dataframe (never a collect); 3 rounds = exact
    // distances for all paths of ≤3 edges (bounded-hop SSSP, the same
    // declared truncation as q77's 3-hop reach).
    "q114_sssp" -> QueryDef(
      (s, d) => {
        val co = tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
          .agg(count(lit(1)).as("co"))
        val e0 = co.select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"),
          greatest(lit(1L), expr("1000000 div co")).as("w"))
        val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"),
            col("w")))
          .localCheckpoint() // every relaxation round re-joins it
          // (no pre-repartition: forgotten under AQE — q55 note)
        val seed = und.groupBy("src").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("src")).limit(1)
          .select(col("src").as("node"))
        var dist = seed.withColumn("d", lit(0L)).localCheckpoint()
        // One free read off the checkpointed edge list bounds the
        // node-sized tentative-distance table (≤ distinct endpoints ≤
        // edge rows) and drives the per-round broadcast (bcastIfSmall,
        // r14) — under the cap the edge list is never re-shuffled
        // across relaxation rounds, with no per-round count jobs.
        val edgeRows = und.count()
        for (_ <- 1 to 3) {
          val relax = und.join(bcastIfSmall(dist, edgeRows),
              und("src") === dist("node"))
            .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
          dist = dist.select("node", "d").union(relax)
            .groupBy("node").agg(min(col("d")).as("d"))
            .localCheckpoint()
        }
        dist.orderBy("d", "node").limit(20)
      },
      Some("""WITH co AS (SELECT o_custkey AS c, l_suppkey AS sp,
             |    CAST(count(*) AS BIGINT) AS co
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  GROUP BY 1, 2),
             |e0 AS (SELECT c * 2 AS src, sp * 2 + 1 AS dst,
             |    greatest(1, divide(1000000, co)) AS w FROM co),
             |und AS (SELECT src, dst, w FROM e0
             |        UNION ALL SELECT dst, src, w FROM e0),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg FROM und GROUP BY 1),
             |seed AS (SELECT src AS node FROM deg ORDER BY dg DESC, src LIMIT 1),
             |d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM seed),
             |d1 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |    SELECT node, d FROM d0 UNION ALL
             |    SELECT u.dst, d0.d + u.w FROM und u JOIN d0 ON u.src = d0.node)
             |  GROUP BY 1),
             |d2 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |    SELECT node, d FROM d1 UNION ALL
             |    SELECT u.dst, d1.d + u.w FROM und u JOIN d1 ON u.src = d1.node)
             |  GROUP BY 1),
             |d3 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |    SELECT node, d FROM d2 UNION ALL
             |    SELECT u.dst, d2.d + u.w FROM und u JOIN d2 ON u.src = d2.node)
             |  GROUP BY 1)
             |SELECT node, d FROM d3 ORDER BY d, node LIMIT 20""".stripMargin),
      doc = "3-round distributed Bellman-Ford from the top-degree hub " +
        "over inverse-co-purchase-weight edges; integer distances, " +
        "min-groupBy relaxation supersteps, top-20 nearest")
  )

  /** Shared k-NN(3) embedding graph for q66/q87: symmetrized top-3
    * cosine-neighbor pairs (via the LSH bucket equi-join, never
    * all-pairs), node degrees, and the degree-oriented triangle closure
    * (each triangle surfaced EXACTLY once — see q66's doc for the
    * Schank–Wagner orientation argument). Returns (pairs(u,v),
    * deg(n,deg), closed(ta,tb,tc)); `pairs` and the oriented edge list
    * are localCheckpointed because both consumers fan out over them.
    */
  private def knnGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import Similarity.lshBucket
    import s.implicits._
    val emb = tbl(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), lshBucket(col("embedding")).as("bucket"))
    // Per-bucket LOCAL top-3 (r13, the q66/q87 4th-decade fix): the former
    // shape joined the bucket against itself — Θ(n²/B) pair ROWS, each
    // carrying two 64-float arrays, shuffled into a corpus-wide window for
    // row_number ≤ 3. With B fixed (256 LSH buckets) that pair exchange is
    // the measured growth term (e_diff 1.4 over the 4th decade). Grouping
    // the bucket instead moves only the linear posting set; each task
    // evaluates the same candidate cosines in place (once per unordered
    // pair — cosine is symmetric and the IEEE product/division order below
    // is commutative-identical to the joined form's per-direction
    // expression) and keeps a 3-slot insertion heap per member. Selection
    // order replicates the window's sort EXACTLY: (cosine desc, nbr_id
    // asc) with java.lang.Double.compare — Spark's DoubleType ordering
    // (NaN greatest, -0.0 < 0.0) — so the emitted neighbor set is the
    // row_number(≤3) set verbatim. Candidate COST stays Θ(Σ m_b²)·d — the
    // declared LSH-bucket candidate bound, now CPU-only with no quadratic
    // exchange; the oracle CTE keeps the window form and pins equality.
    val knnTop = emb.select(col("bucket").cast("long"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.toArray
        val n = ms.length
        val ids = new Array[Long](n)
        val vs = new Array[Array[Double]](n)
        var i = 0
        while (i < n) {
          ids(i) = ms(i)._2
          val f = ms(i)._3
          val v = new Array[Double](f.length)
          var k = 0
          while (k < f.length) { v(k) = f(k).toDouble; k += 1 }
          vs(i) = v
          i += 1
        }
        val nrm = vs.map { v =>
          var acc = 0.0; var k = 0
          while (k < v.length) { acc += v(k) * v(k); k += 1 }
          math.sqrt(acc)
        }
        val bc = Array.fill(n)(new Array[Double](3))
        val bi = Array.fill(n)(new Array[Long](3))
        val cnt = new Array[Int](n)
        def better(c1: Double, i1: Long, c2: Double, i2: Long): Boolean = {
          val cc = java.lang.Double.compare(c1, c2)
          cc > 0 || (cc == 0 && i1 < i2)
        }
        def offer(m: Int, c: Double, id: Long): Unit = {
          val k = cnt(m)
          if (k < 3) {
            var p = k
            while (p > 0 && better(c, id, bc(m)(p - 1), bi(m)(p - 1))) {
              bc(m)(p) = bc(m)(p - 1); bi(m)(p) = bi(m)(p - 1); p -= 1
            }
            bc(m)(p) = c; bi(m)(p) = id; cnt(m) = k + 1
          } else if (better(c, id, bc(m)(2), bi(m)(2))) {
            var p = 2
            while (p > 0 && better(c, id, bc(m)(p - 1), bi(m)(p - 1))) {
              bc(m)(p) = bc(m)(p - 1); bi(m)(p) = bi(m)(p - 1); p -= 1
            }
            bc(m)(p) = c; bi(m)(p) = id
          }
        }
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val (vi, vj) = (vs(i), vs(j))
            var acc = 0.0; var k = 0
            while (k < vi.length && k < vj.length) { acc += vi(k) * vj(k); k += 1 }
            val c = acc / (nrm(i) * nrm(j))
            offer(i, c, ids(j))
            offer(j, c, ids(i))
            j += 1
          }
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        i = 0
        while (i < n) {
          var k = 0
          while (k < cnt(i)) { out += ((ids(i), bi(i)(k))); k += 1 }
          i += 1
        }
        out.iterator
      }
      .toDF("vec_id", "nbr_id")
    val pairs = knnTop
      .select(least(col("vec_id"), col("nbr_id")).as("u"),
        greatest(col("vec_id"), col("nbr_id")).as("v"))
      .distinct().localCheckpoint()
    val deg = pairs.select(col("u").as("n"))
      .union(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val shift = 1099511627776L // 2^40
    val keyed = pairs
      .join(deg.select(col("n").as("u"), (col("deg") * shift + col("u")).as("ku")), Seq("u"))
      .join(deg.select(col("n").as("v"), (col("deg") * shift + col("v")).as("kv")), Seq("v"))
    val e = keyed.select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("a"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("b"),
        greatest(col("ku"), col("kv")).as("kb"))
      .localCheckpoint()
    val wedges = e.as("x").join(e.as("y"),
        col("x.a") === col("y.a") && col("x.kb") < col("y.kb"))
      .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
    val closed = wedges.join(e.as("z"),
        col("tb") === col("z.a") && col("tc") === col("z.b"))
      .select(col("ta"), col("tb"), col("tc"))
    (pairs, deg, closed)
  }

  /** Oracle CTE prefix shared by q66/q87: emb → knn → pairs → deg →
    * oriented edges → closed triangles (ta, tb, tc). */
  private def knnGraphSql: String = {
    import Similarity.{dotSql, lshBucketSql, normSql}
    s"""WITH emb AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
       |    ${normSql("embedding")} AS nrm FROM embeddings),
       |knn AS (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id,
       |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cosine
       |  FROM emb x JOIN emb y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |pairs AS (SELECT DISTINCT least(vec_id, nbr_id) AS u, greatest(vec_id, nbr_id) AS v
       |          FROM (SELECT vec_id, nbr_id,
       |                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rnk
       |                FROM knn) WHERE rnk <= 3),
       |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
       |          SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs)
       |        GROUP BY n),
       |e AS (SELECT CASE WHEN du.deg * 1099511627776 + u < dv.deg * 1099511627776 + v
       |                  THEN u ELSE v END AS a,
       |             CASE WHEN du.deg * 1099511627776 + u < dv.deg * 1099511627776 + v
       |                  THEN v ELSE u END AS b,
       |             greatest(du.deg * 1099511627776 + u, dv.deg * 1099511627776 + v) AS kb
       |      FROM pairs JOIN deg du ON pairs.u = du.n
       |                 JOIN deg dv ON pairs.v = dv.n),
       |closed AS (SELECT x.a AS ta, x.b AS tb, y.b AS tc
       |           FROM e x JOIN e y ON x.a = y.a AND x.kb < y.kb
       |                    JOIN e z ON x.b = z.a AND y.b = z.b)""".stripMargin
  }
}

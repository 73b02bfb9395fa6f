package graft.queries

import org.apache.spark.sql.functions._

/** Iterative graph analytics over the relational tables — the ranking twin
  * of `dedup_components`' label propagation: where components answers "which
  * nodes are the same entity", ranking answers "which nodes matter", the
  * other standard Pregel-style iteration a data-curation stack runs (e.g.
  * ranking sources/domains by link authority before sampling a training
  * corpus; Page et al. 1999).
  *
  * Graph construction is relational: the customer–supplier bipartite graph
  * induced by `orders ⋈ lineitem` (an edge per distinct trading pair),
  * symmetrized so every node has out-degree ≥ 1 — the row-level analog of a
  * web-graph's link table, built with one join + distinct, no driver-side
  * graph object. The iteration itself is the textbook relational PageRank:
  * rank/out-degree flows along edges (equi join on src), in-flows sum per
  * dst (one aggregation), damping mixes in the teleport mass. Every round
  * is two shuffles on the node key, each bounded by |E|; nothing is ever
  * collected, and the only broadcast is the 1-row node count.
  */
object GraphOps {
  import Tables.t

  val pagerank = Q(
    "graph_pagerank",
    "Damped PageRank (d=0.85, 3 synchronous iterations) over the " +
      "symmetrized customer-supplier trading graph from orders x lineitem; " +
      "suppliers are offset by 1e6 into a shared node-id space. Per " +
      "iteration: contributions rank/deg flow along the materialized " +
      "degree-annotated edge list (equi join on src), sum per dst, then " +
      "mix with teleport mass (1-d)/N — the relational Pregel loop, " +
      "exactly two |E|-scale node-key shuffles per round (degree rides " +
      "on the edge row, so no per-round join against the degree table; " +
      "the teleport left join moves only the N-row node set). The edge " +
      "list is materialized once (ids + one degree long — at 100 TB " +
      "nothing wider ever shuffles); the " +
      "node count is observed during the degree materialization and " +
      "folds into the teleport constant. Output: top-20 nodes by " +
      "rank in parts-per-million (rounded, id tie-break — TakeOrdered, " +
      "no global sort materialization). The oracle unrolls the three " +
      "iterations as CTEs; rank sums are doubles, so both sides round " +
      "ppm to 2 decimals (epsilon-shifted) before compare/order.",
    Some("""
      WITH pairs AS (SELECT DISTINCT o_custkey::BIGINT AS c,
                                     1000000 + l_suppkey::BIGINT AS s
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           edges AS (SELECT c AS src, s AS dst FROM pairs
                     UNION ALL
                     SELECT s AS src, c AS dst FROM pairs),
           deg AS (SELECT src, count(*)::BIGINT AS deg
                   FROM edges GROUP BY src),
           n AS (SELECT count(*)::DOUBLE AS n FROM deg),
           r0 AS (SELECT src AS node, 1.0 / n.n AS pr FROM deg, n),
           m1 AS (SELECT e.dst AS node, sum(r.pr / d.deg) AS m
                  FROM edges e
                  JOIN r0 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src
                  GROUP BY e.dst),
           r1 AS (SELECT d.src AS node,
                         0.15 / n.n + 0.85 * coalesce(m.m, 0.0) AS pr
                  FROM deg d CROSS JOIN n
                  LEFT JOIN m1 m ON m.node = d.src),
           m2 AS (SELECT e.dst AS node, sum(r.pr / d.deg) AS m
                  FROM edges e
                  JOIN r1 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src
                  GROUP BY e.dst),
           r2 AS (SELECT d.src AS node,
                         0.15 / n.n + 0.85 * coalesce(m.m, 0.0) AS pr
                  FROM deg d CROSS JOIN n
                  LEFT JOIN m2 m ON m.node = d.src),
           m3 AS (SELECT e.dst AS node, sum(r.pr / d.deg) AS m
                  FROM edges e
                  JOIN r2 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src
                  GROUP BY e.dst),
           r3 AS (SELECT d.src AS node,
                         0.15 / n.n + 0.85 * coalesce(m.m, 0.0) AS pr
                  FROM deg d CROSS JOIN n
                  LEFT JOIN m3 m ON m.node = d.src)
      SELECT node, round(pr * 1000000.0 + 1e-6, 2) AS rank_ppm
      FROM r3
      ORDER BY rank_ppm DESC, node ASC
      LIMIT 20""".stripMargin),
    (spark, dir) => {
      val pairs = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + lit(1000000L)).as("s"))
        .distinct()
      // Materialized once: every iteration re-reads the id-only edge list,
      // not the orders/lineitem join that built it. Symmetrization is an
      // explode of both directions (round 14) — the union form planted
      // the unmaterialized pairs subtree twice in the materialization
      // job (exchange reuse dedupes the distinct's shuffle, but the
      // post-shuffle aggregate and projection ran 2x).
      val edges = Q.materialize(
        pairs.select(explode(array(
            struct(col("c").as("src"), col("s").as("dst")),
            struct(col("s").as("src"), col("c").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst")))
      // The node count is OBSERVED during deg's materialization job
      // (round 14, Q.materializeCounted): it was previously a 1-row
      // aggregate subtree crossJoin(broadcast(...))-ed into EVERY
      // round's plan — one BroadcastExchange + one re-run count per
      // round. As a Scala double it folds into the teleport constants
      // at plan-build time; the arithmetic (1/n, 0.15/n) is the same
      // IEEE754 division either way, so the ranks are bit-identical.
      val (deg, nNodes) = Q.materializeCounted(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      // ONE |E|-scale cache, like the label-prop loop — and since round
      // 13 a SERIALIZED one: the round-12 g100 probe matrix proved the
      // deserialized localCheckpoint default is this query's scale
      // killer (uncompressed disk overflow + deserialized-rows heap
      // term, both in the first |E|-scale exchange; see Q.materialize's doc).
      // The round-9 shape
      // ALSO cached edges⋈deg (degree riding on the edge row) — a second
      // |E|-scale frame that halved the effective storage budget, and the
      // round-10 g30 probe measured the consequence: past the point where
      // both fit, pagerank churned evicted cache blocks to disk every
      // round (g10→g30 ~n^2 wall clock) while label_prop — same data,
      // same per-round join shape, ONE big cache — stayed exactly linear.
      // pr/deg is instead folded in by a NODE-sized join each round
      // (|V| ≪ |E|), so the per-round big work is still one |E| equi
      // join + one partial-aggregable sum, with half the cache bytes.
      // deg RIDES ON the rank row (round 13): the loop frame is
      // (node, deg, pr) — one extra long per |V| row in the per-round
      // checkpoint — so the out-weight pr/deg is a PROJECTION of the
      // checkpointed ranks instead of a per-round ranks⋈deg node-key
      // join (3 fewer |V|-scale joins per query, one fewer exchange
      // per round; same arithmetic, same oracle).
      var ranks = deg
        .select(col("src").as("node"), col("deg"),
          lit(1.0 / nNodes.toDouble).as("pr"))
      for (r <- 1 to 3) {
        val outW = ranks
          .select(col("node").as("wn"), (col("pr") / col("deg")).as("w"))
        val contrib = edges
          .join(outW, col("src") === col("wn"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("w")).as("m"))
        // materializeLoop cuts lineage each round — a 3-round plan of
        // self-referencing joins is small, but the cut keeps every round's
        // physical plan identical (and checkpoint-strategy fault-tolerant
        // on a cluster, like the components loop). The LAST round skips
        // the cut (round 14): its ranks feed only the final top-20, so
        // the eager materialization job bought nothing there.
        val next =
          deg.select(col("src").as("node"), col("deg")).as("nodes")
            .join(contrib.select(col("node").as("cn"), col("m")),
              col("nodes.node") === col("cn"), "left")
            .select(col("nodes.node").as("node"), col("nodes.deg").as("deg"),
              (lit(0.15 / nNodes.toDouble)
                + lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
        ranks = if (r < 3) Q.materializeLoop(next) else next
      }
      ranks
        .select(col("node"),
          Det.r2e(col("pr") * lit(1000000.0)).as("rank_ppm"))
        .orderBy(col("rank_ppm").desc, col("node").asc)
        .limit(20)
    })

  val triangles = Q(
    "graph_triangles",
    "Per-node triangle counts (top-20) over the SUPPORT-THRESHOLDED " +
      "supplier co-purchase graph: suppliers are adjacent when they serve " +
      "the same order in >=5 orders — the market-basket projection with " +
      "the association-rule support filter, which is what keeps the graph " +
      "sparse at every SF (without it the co-purchase graph over a small " +
      "supplier universe approaches a clique and triangle ENUMERATION is " +
      "Theta(n^3) no matter the algorithm). Pair blowup is bounded per " +
      "basket (TPC-H orders hold <=7 lineitems, so <=21 pairs/order; a " +
      "production pipeline enforces the same bound with a basket cap). " +
      "Counting " +
      "uses DEGREE-ORDERED ORIENTATION (Schank-Wagner; Cohen's MapReduce " +
      "formulation): each undirected edge points from its lower-(deg,id) " +
      "endpoint to the higher, so every out-neighborhood is O(sqrt(|E|)) " +
      "and the wedge self-join — the step a naive all-pairs count blows " +
      "up on — stays bounded; each triangle is generated at exactly one " +
      "apex and closed by one equi join against the oriented edge list. " +
      "Corner explode + count per node, top-20 (count desc, id asc). The " +
      "oracle counts the same triangles via the a<b<c three-way join — " +
      "orientation changes the join ORDER, never the triangle set.",
    Some("""
      WITH su AS (SELECT DISTINCT l_orderkey AS o, l_suppkey::BIGINT AS s
                  FROM lineitem),
           e AS (SELECT x.s AS a, y.s AS b
                 FROM su x JOIN su y ON x.o = y.o AND x.s < y.s
                 GROUP BY 1, 2 HAVING count(*) >= 5),
           tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                   FROM e e1
                   JOIN e e2 ON e2.a = e1.b
                   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
           corners AS (SELECT a AS node FROM tri
                       UNION ALL SELECT b FROM tri
                       UNION ALL SELECT c FROM tri)
      SELECT node, count(*)::BIGINT AS n_triangles
      FROM corners GROUP BY node
      ORDER BY n_triangles DESC, node ASC
      LIMIT 20""".stripMargin),
    (spark, dir) => {
      val su = t(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o"),
          col("l_suppkey").cast("long").as("s"))
        .distinct()
      // Undirected edge list (a < b) with the support filter (su is
      // per-order distinct, so count(*) = orders containing both),
      // materialized: referenced by the degree count AND the orientation
      // join.
      val edges = Q.materialize(
        su.as("x").join(su.as("y"),
            col("x.o") === col("y.o") && col("x.s") < col("y.s"))
          .groupBy(col("x.s").as("a"), col("y.s").as("b"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 5)
          .select(col("a"), col("b")))
      val deg = edges
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // Total order for orientation: (deg, id) packed into one long —
      // deg < 2^31 and ids fit 32 bits, so rank = deg<<32 | id is exact.
      val rank = deg.select(col("node"),
        (col("deg") * lit(4294967296L) + col("node")).as("rank"))
      val oriented = Q.materialize(edges
        .join(rank.select(col("node").as("a"), col("rank").as("ra")), "a")
        .join(rank.select(col("node").as("b"), col("rank").as("rb")), "b")
        .select(
          when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("src"),
          when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("dst"),
          greatest(col("ra"), col("rb")).as("rdst")))
      // Wedges at each apex: ordered out-neighbor pairs (u before v in
      // rank order), closed by the oriented edge u->v (which is how the
      // (u,v) edge is oriented, since rank(u) < rank(v)).
      val tri = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
        .select(col("e1.src").as("apex"),
          col("e1.dst").as("u"), col("e2.dst").as("v"))
        .join(oriented.select(col("src").as("u"), col("dst").as("v")),
          Seq("u", "v"))
      // Corner explode in ONE pass (round 14): `tri` is not materialized,
      // and the old union-of-3-projections planted the whole wedge join +
      // closing join THREE times in the final plan — exchange reuse
      // dedupes the shuffles but the post-shuffle join work ran 3x, and
      // the aggregate exchanged 3 branches. explode(array(...)) emits the
      // identical corner multiset (each triangle contributes apex, u, v
      // exactly once) from a single evaluation.
      tri.select(explode(array(col("apex"), col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node").asc)
        .limit(20)
    })

  val labelProp = Q(
    "graph_label_prop",
    "Synchronous label propagation (Raghavan et al. 2007) — community " +
      "detection over the same symmetrized customer-supplier trading " +
      "graph as graph_pagerank (components answers 'same entity', " +
      "pagerank 'which nodes matter', LPA 'which nodes cluster' — e.g. " +
      "grouping crawl domains into communities before per-community " +
      "sampling caps). Labels start as node ids; each of 3 synchronous " +
      "rounds reassigns every node the MODE of its neighbors' labels " +
      "(count desc, label asc — a total order, so the classic LPA " +
      "random tie-break is replaced by a deterministic one and the " +
      "result is engine- and layout-independent; synchronous sweeps can " +
      "oscillate on bipartite structure, which a fixed round count " +
      "makes deterministic too). Per round: one |E|-scale equi join " +
      "labels-onto-edges, a (node,label) count, then a per-node argmax " +
      "as max(struct(count, -label)) — partial-aggregable map-side, no " +
      "per-node window, nothing wider than (id, id, long) ever " +
      "shuffles. Output: top-20 communities by size. The oracle " +
      "unrolls the 3 rounds as CTEs with row_number argmax — same " +
      "deterministic mode, different engine idiom.",
    Some("""
      WITH pairs AS (SELECT DISTINCT o_custkey::BIGINT AS c,
                                     1000000 + l_suppkey::BIGINT AS s
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           edges AS (SELECT c AS src, s AS dst FROM pairs
                     UNION ALL
                     SELECT s AS src, c AS dst FROM pairs),
           l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
           c1 AS (SELECT e.src AS node, l.lab, count(*) AS c
                  FROM edges e JOIN l0 l ON l.node = e.dst
                  GROUP BY e.src, l.lab),
           l1 AS (SELECT node, lab
                  FROM (SELECT node, lab, row_number() OVER (
                          PARTITION BY node ORDER BY c DESC, lab) AS rk
                        FROM c1)
                  WHERE rk = 1),
           c2 AS (SELECT e.src AS node, l.lab, count(*) AS c
                  FROM edges e JOIN l1 l ON l.node = e.dst
                  GROUP BY e.src, l.lab),
           l2 AS (SELECT node, lab
                  FROM (SELECT node, lab, row_number() OVER (
                          PARTITION BY node ORDER BY c DESC, lab) AS rk
                        FROM c2)
                  WHERE rk = 1),
           c3 AS (SELECT e.src AS node, l.lab, count(*) AS c
                  FROM edges e JOIN l2 l ON l.node = e.dst
                  GROUP BY e.src, l.lab),
           l3 AS (SELECT node, lab
                  FROM (SELECT node, lab, row_number() OVER (
                          PARTITION BY node ORDER BY c DESC, lab) AS rk
                        FROM c3)
                  WHERE rk = 1)
      SELECT lab AS community, count(*)::BIGINT AS n_nodes
      FROM l3 GROUP BY lab
      ORDER BY n_nodes DESC, community ASC
      LIMIT 20""".stripMargin),
    (spark, dir) => {
      val pairs = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + lit(1000000L)).as("s"))
        .distinct()
      // (Round 14 measured, not shipped: pre-partitioning the
      // materialized edges on dst to let the per-round join reuse the
      // layout does NOT work through localCheckpoint — Spark 4.1's
      // LogicalRDD drops the child's outputPartitioning, so the join
      // re-exchanges anyway and the build-time repartition is a pure
      // extra |E| exchange. Verified with an executed-plan probe:
      // join against checkpoint(repartition(k)) still plans
      // ENSURE_REQUIREMENTS exchanges on both sides.)
      // Symmetrization by explode, one pairs evaluation (round 14) —
      // same rationale as pagerank's edge build.
      val edges = Q.materialize(
        pairs.select(explode(array(
            struct(col("c").as("src"), col("s").as("dst")),
            struct(col("s").as("src"), col("c").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst")))
      var labels: org.apache.spark.sql.DataFrame = null
      for (r <- 1 to 3) {
        // Round 1 is a PROJECTION, not a join (round 14, guide §1.2
        // "don't compute things you throw away"): l0 is the identity
        // labeling over every node and the symmetrized edge set makes
        // every dst a node, so joining l0 onto edges yields lab = dst
        // with count 1 per (src, dst) — the edge set is distinct — and
        // the deterministic mode (count desc, label asc) over all-ones
        // counts is simply the MINIMUM neighbor id. One aggregation
        // replaces the |E|-scale distinct + join + two-level aggregate;
        // bit-identical result, oracle untouched.
        val cnt = if (r == 1) null
        else edges
          .join(labels.select(col("node").as("dn"), col("lab")),
            col("dst") === col("dn"))
          .groupBy(col("src").as("node"), col("lab"))
          .agg(count(lit(1)).as("c"))
        // Deterministic mode via max(struct(c, -lab)): struct compare is
        // lexicographic, so max = highest count, then LOWEST label —
        // an algebraic aggregate that partial-aggregates map-side
        // (unlike a per-node rank window, which must co-locate each
        // node's label candidates before ranking).
        val next =
          if (r == 1)
            edges.groupBy(col("src").as("node"))
              .agg(min(col("dst")).as("lab"))
          else cnt
            .groupBy(col("node"))
            .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
            .select(col("node"), (-col("m.nl")).as("lab"))
        // The LAST round's labels feed exactly one downstream aggregate —
        // a lineage cut there spends an eager materialization job to
        // truncate a one-round plan that never self-joins again (round
        // 14: each skipped cut is one fewer driver-planned, eagerly-run
        // job; the loop-growth rationale only applies to frames the NEXT
        // round re-joins).
        labels = if (r < 3) Q.materializeLoop(next) else next
      }
      labels.groupBy(col("lab").as("community"))
        .agg(count(lit(1)).cast("long").as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community").asc)
        .limit(20)
    })

  val all: Seq[Q] = Seq(pagerank, triangles, labelProp)
}

package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph algorithms over document link graphs: PageRank, personalized
  * PageRank, triangles, communities and link prediction. */
object GraphQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // PageRank over the bipartite user↔item interaction graph from
    // the event log (item = the props.k key, offset into its own id
    // space; edges symmetrized so the walk alternates user→item→user
    // and no node dangles). The rank is the graph-centrality quality
    // signal a curation pipeline uses to weight sources/domains (the
    // web-graph analogue of domain authority). Fixed-point integer
    // power iteration — exact, shuffle-order-independent, one Spark
    // job per round (see GraphOps scaladoc); rows-only check (iterative
    // fixpoint not SQL-expressible), exact-equality + invariant gates
    // in Round7Spec. Multi-edges deliberately weight the walk by
    // interaction frequency.
    QueryDef("graph_pagerank", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id").cast("long").as("user"),
          (get_json_object(col("props"), "$.k").cast("long") + 1000000L)
            .as("item"))
        .filter(col("item").isNotNull)
      val edges = ev.select(col("user").as("src"), col("item").as("dst"))
        .union(ev.select(col("item").as("src"), col("user").as("dst")))
      ops.GraphOps.pagerank(edges, "src", "dst")
        .withColumn("kind",
          when(col("node") >= 1000000L, "item").otherwise("user"))
        .orderBy(col("rank_f").desc, col("node"))
        .limit(20)
        .select(col("node"), col("kind"),
          round(col("rank_f") / 1e15, 6).as("rank"))
    },
      pagerankOracleSql(12),
      key = "gpr"),

    // Personalized PageRank from a 3-user seed set over the same
    // bipartite user-item graph — the walker teleports to the seeds,
    // so ranks measure proximity TO THOSE USERS (the
    // recommend-from-here score). Fixed-point integer ranks, 12
    // unrollable rounds, teleport/dangling mass concentrated on the
    // seeds; the oracle replays every round as a CTE (the pagerank
    // discipline with a seed-indicator base).
    QueryDef("graph_ppr", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id").cast("long").as("user"),
          (get_json_object(col("props"), "$.k").cast("long") + 1000000L)
            .as("item"))
        .filter(col("item").isNotNull)
      val edges = ev.select(col("user").as("src"), col("item").as("dst"))
        .union(ev.select(col("item").as("src"), col("user").as("dst")))
      ops.GraphOps.personalizedPagerank(edges, "src", "dst",
          seeds = Seq(0L, 1L, 2L))
        .withColumn("kind",
          when(col("node") >= 1000000L, "item").otherwise("user"))
        .orderBy(col("rank_f").desc, col("node"))
        .limit(20)
        .select(col("node"), col("kind"),
          round(col("rank_f") / 1e15, 6).as("rank"))
    },
      pprOracleSql(12, Seq(0L, 1L, 2L))),

    // Exact triangle counting over the temporal co-occurrence graph:
    // users adjacent in the (event_type, hour) event sequence share an
    // undirected edge (the window is bucketed by type AND hour, so no
    // partition outgrows one hour of one stream — never a global
    // sort; hour-boundary pairs are deliberately out of contract).
    // GraphOps.triangles orients each edge low→high (degree, id) so
    // every triangle counts once and no hub can make the wedge join
    // quadratic (out-degree is O(√m) after orientation). Output: the
    // global count as node -1 plus the top-20 most clustered nodes.
    QueryDef("graph_triangles", (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val adj = t(s, d, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
          col("user_id"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(least(col("user_id"), col("nxt")).as("u"),
          greatest(col("user_id"), col("nxt")).as("v"))
        .distinct()
      val tri = ops.GraphOps.triangles(adj, "u", "v").localCheckpoint()
      val perNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node")).limit(20)
      tri.agg(count(lit(1)).as("n_triangles"))
        .select(lit(-1L).as("node"), col("n_triangles"))
        .unionByName(perNode)
        .orderBy(col("node"))
    },
      // Same temporal-adjacency graph, same degree-ordered orientation
      // ((deg, id) tuple compare), same two-join wedge closure.
      """WITH seq AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |         lead(user_id) OVER (
        |           PARTITION BY event_type, date_trunc('hour', ts)
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |e0 AS (SELECT DISTINCT least(user_id, nxt) AS u,
        |              greatest(user_id, nxt) AS v
        |       FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
        |deg AS (SELECT n, count(*) AS d FROM
        |        (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
        |        GROUP BY n),
        |ed AS (SELECT
        |  CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS a,
        |  CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS b
        |  FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM ed e1 JOIN ed e2 ON e2.a = e1.b
        |        JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, count(*) AS n_triangles FROM
        |       (SELECT x AS node FROM tri UNION ALL
        |        SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |       GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20)
        |SELECT * FROM (
        |  SELECT cast(-1 AS bigint) AS node,
        |         (SELECT count(*) FROM tri) AS n_triangles
        |  UNION ALL SELECT node, n_triangles FROM pn)
        |ORDER BY node""".stripMargin,
      key = "gtr"),

    // Community detection by deterministic synchronous label
    // propagation (min-label ties, self-loop damping, 4 fixed rounds)
    // over the SAME temporal co-occurrence graph as graph_triangles;
    // every update is an integer count argmax, so the oracle unrolls
    // the rounds as CTEs (the pagerank discipline) and the full
    // node→community assignment hash-matches cross-engine.
    QueryDef("graph_communities", (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val adj = t(s, d, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
          col("user_id"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(least(col("user_id"), col("nxt")).as("u"),
          greatest(col("user_id"), col("nxt")).as("v"))
        .distinct()
      ops.GraphOps.labelPropagation(adj, "u", "v", iters = 4)
        .select(col("node"), col("label").as("community"))
        .orderBy(col("node"))
    },
      lpaOracleSql(4),
      key = "gcm"),

    // Link prediction by common-neighbor counting over the temporal
    // co-occurrence graph (the graph_triangles adjacency): for every
    // NON-adjacent pair sharing a neighbor, the common-neighbor count
    // and neighborhood Jaccard; top-50 predicted links. Wedge centers
    // are capped at degree 64 — a super-hub's wedge contribution is
    // noise for link prediction (it neighbors everyone), and the cap
    // is what bounds per-center wedge work at 64² under ANY skew (the
    // contract a 100 TB graph needs; full degrees still feed the
    // Jaccard denominator). The whole pipeline is joins + one
    // aggregate on (a,b) + TakeOrdered.
    QueryDef("graph_link_predict", (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val e0 = t(s, d, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
          col("user_id"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(least(col("user_id"), col("nxt")).as("u"),
          greatest(col("user_id"), col("nxt")).as("v"))
        .distinct()
        .localCheckpoint()
      val und = e0.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e0.select(col("v").as("c"), col("u").as("n")))
      val deg = und.groupBy(col("c")).agg(count(lit(1)).as("d"))
      val centers = und
        .join(broadcast(deg.filter(col("d") <= 64).select(col("c"))),
          Seq("c"))
      val cn = centers.select(col("c"), col("n").as("a"))
        .join(centers.select(col("c"), col("n").as("b")), Seq("c"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      val nonEdge = cn.join(e0,
        cn("a") === e0("u") && cn("b") === e0("v"), "left_anti")
      nonEdge
        .join(deg.select(col("c").as("a"), col("d").as("deg_a")), Seq("a"))
        .join(deg.select(col("c").as("b"), col("d").as("deg_b")), Seq("b"))
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          round(col("cn").cast("double")
            / (col("deg_a") + col("deg_b") - col("cn")), 4).as("jaccard"))
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(50)
    },
      // Link prediction: same e0/deg chain as graph_triangles; centers
      // capped at degree 64, non-edges by anti-join, (cn DESC, a, b)
      // total order under the limit.
      """WITH seq AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |         lead(user_id) OVER (
        |           PARTITION BY event_type, date_trunc('hour', ts)
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |e0 AS (SELECT DISTINCT least(user_id, nxt) AS u,
        |              greatest(user_id, nxt) AS v
        |       FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT u AS c, v AS n FROM e0
        |        UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT c, count(*) AS d FROM und GROUP BY c),
        |ctr AS (SELECT und.c, und.n FROM und
        |        JOIN deg ON deg.c = und.c WHERE deg.d <= 64),
        |cn AS (SELECT x.n AS a, y.n AS b, count(*) AS cn
        |       FROM ctr x JOIN ctr y ON x.c = y.c AND x.n < y.n
        |       GROUP BY 1, 2),
        |ne AS (SELECT cn.* FROM cn
        |       LEFT JOIN e0 ON cn.a = e0.u AND cn.b = e0.v
        |       WHERE e0.u IS NULL)
        |SELECT ne.a, ne.b, ne.cn, da.d AS deg_a, db.d AS deg_b,
        |  round(cast(ne.cn AS double) / (da.d + db.d - ne.cn), 4)
        |    AS jaccard
        |FROM ne JOIN deg da ON da.c = ne.a JOIN deg db ON db.c = ne.b
        |ORDER BY ne.cn DESC, ne.a, ne.b LIMIT 50""".stripMargin)
  )

  /** graph_pagerank oracle: the power-iteration rounds unrolled as
    * CTEs over the SAME fixed-point integer arithmetic as
    * [[ops.GraphOps.pagerank]] — BIGINT ranks in 1e-15 units,
    * truncating integer division at every step (all values positive,
    * so DuckDB's floor `//` == Spark's truncating `div`), which makes
    * the iteration engine-portable BY CONSTRUCTION. The symmetrized
    * interaction graph has no dangling nodes, so the dangling-mass
    * term is structurally zero on both sides. */
  /** LPA oracle: the synchronous rounds unrolled as CTEs (the
    * pagerankOracleSql discipline) — integer count argmax with
    * (cnt DESC, label ASC) total tie order, self-loops included, over
    * the same hour-bucketed co-occurrence graph as graph_triangles. */
  private def lpaOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (SELECT src AS node, label FROM (
         |  SELECT a.src, l.label, count(*) AS cnt,
         |    row_number() OVER (PARTITION BY a.src
         |      ORDER BY count(*) DESC, l.label) AS rn
         |  FROM adj a JOIN l${i - 1} l ON l.node = a.dst
         |  GROUP BY a.src, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
       |         lead(user_id) OVER (
       |           PARTITION BY event_type, date_trunc('hour', ts)
       |           ORDER BY ts, event_id) AS nxt
       |  FROM events),
       |e0 AS (SELECT DISTINCT least(user_id, nxt) AS u,
       |              greatest(user_id, nxt) AS v
       |       FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
       |nodes AS (SELECT DISTINCT u AS node FROM
       |          (SELECT u FROM e0 UNION ALL SELECT v FROM e0) t(u)),
       |adj AS (SELECT u AS src, v AS dst FROM e0
       |        UNION ALL SELECT v, u FROM e0
       |        UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds
       |SELECT node, label AS community FROM l$iters
       |ORDER BY node""".stripMargin
  }

  private def pagerankOracleSql(iters: Int): String = {
    val rounds = pagerankRoundsSql(iters)
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS BIGINT) AS usr,
       |    TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
       |      + 1000000 AS item
       |  FROM events
       |  WHERE TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
       |          AS BIGINT) IS NOT NULL),
       |e AS (SELECT usr AS src, item AS dst FROM ev
       |      UNION ALL SELECT item, usr FROM ev),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |params AS (SELECT count(*) AS n,
       |    1000000000000000 // count(*) AS r_init,
       |    (15 * (1000000000000000 // count(*))) // 100 AS base
       |  FROM nodes),
       |r0 AS (SELECT node, (SELECT r_init FROM params) AS rank_f
       |       FROM nodes),
       |$rounds
       |SELECT node,
       |  CASE WHEN node >= 1000000 THEN 'item' ELSE 'user' END AS kind,
       |  round(rank_f / 1000000000000000.0, 6) AS rank
       |FROM r$iters
       |ORDER BY rank_f DESC, node LIMIT 20""".stripMargin
  }

  /** Personalized-PageRank oracle: [[pagerankOracleSql]] with the
    * teleport vector concentrated on the seed set — r0 and the
    * per-round base are CASE-gated on seed membership, everything
    * else (integer shares, `//` division, unrolled rounds) is the
    * certified pagerank replay verbatim. The bipartite graph is
    * symmetrized, so there is no dangling mass on either side. */
  private def pprOracleSql(iters: Int, seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val s = seeds.length
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    (CASE WHEN n.node IN ($seedList)
         |          THEN (SELECT base FROM params) ELSE 0 END) +
         |      (85 * coalesce(c.contrib, 0)) // 100 AS rank_f
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(s.share) AS BIGINT) AS contrib
         |    FROM e JOIN (
         |      SELECT r.node, r.rank_f // d.deg AS share
         |      FROM r${i - 1} r JOIN deg d USING (node)) s
         |      ON e.src = s.node
         |    GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS BIGINT) AS usr,
       |    TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
       |      + 1000000 AS item
       |  FROM events
       |  WHERE TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
       |          AS BIGINT) IS NOT NULL),
       |e AS (SELECT usr AS src, item AS dst FROM ev
       |      UNION ALL SELECT item, usr FROM ev),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |params AS (SELECT 1000000000000000 // $s AS r_init,
       |    (15 * (1000000000000000 // $s)) // 100 AS base),
       |r0 AS (SELECT node,
       |    CASE WHEN node IN ($seedList)
       |         THEN (SELECT r_init FROM params) ELSE 0 END AS rank_f
       |  FROM nodes),
       |$rounds
       |SELECT node,
       |  CASE WHEN node >= 1000000 THEN 'item' ELSE 'user' END AS kind,
       |  round(rank_f / 1000000000000000.0, 6) AS rank
       |FROM r$iters
       |ORDER BY rank_f DESC, node LIMIT 20""".stripMargin
  }
}

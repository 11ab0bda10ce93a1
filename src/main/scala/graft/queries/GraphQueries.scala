package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.memoUnit
import graft.operators.Graph
import graft.queries.Fixtures.t

/** Graph analytics over the shared co-purchase edge list: PageRank,
  * personalized PageRank, triangles, and HITS on the bipartite
  * purchase graph.
  */
object GraphQueries {
  /** Symmetric weighted co-purchase edge list over lineitem (parts
    * linked when they share an order) — THE graph-suite input: q142
    * (PageRank), q217 (personalized PageRank) consume it directly and
    * q146 (triangles) via the `src < dst ∧ w ≥ 2` restriction (the
    * symmetric frame carries both orientations with equal w, so the
    * filter reproduces the upper-triangle build exactly). The
    * per-order pair explosion + (src, dst) aggregation was rebuilt by
    * each query — the suite's heaviest shared prefix (r11 verdict) —
    * and is now built once per (JVM, dir) and billed on the
    * `_shared:copurchase-edges` bench line, the `_shared:neardup-pairs`
    * convention. Edge rows are bounded by orders × width² (width ≤ 7),
    * and the localCheckpoint is what pageRank would do to the frame
    * anyway (the round-10 lazy-re-execution lesson). q159's HITS graph
    * is NOT a consumer: it is the customer→part bipartite list
    * (orders ⋈ lineitem, no pair explosion — a different, cheaper
    * build).
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "copurchase") {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // the graph is symmetric by construction — count only the
      // src < dst half (halves the pair shuffle + aggregation hash)
      // and mirror the aggregated edges after (round-14, guide §2.3);
      // the materialized edge set is row-identical
      val half = li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      half.unionByName(half.select(col("dst").as("src"),
          col("src").as("dst"), col("w")))
        .localCheckpoint()
    }

  /** [[copurchaseEdges]] as its own bench line. */
  val CopurchaseEdges = Shared("_shared:copurchase-edges", copurchaseEdges)

  val all: Seq[Query] = Seq(
    // --- weighted PageRank over the part co-purchase graph (parts
    //     linked when they share an order; symmetric by construction,
    //     so no dangling mass). 3 synchronous power rounds: per round
    //     one edges⋈ranks join + one decimal-exact aggregation — the
    //     Pregel step as relational algebra. Edge fan-out is bounded
    //     by order width (≤7 lines), so the edge list — and every
    //     round's shuffle — grows linearly with the fact table ---
    Query("q142_pagerank", (s, dir) =>
      graft.operators.Graph.pageRank(copurchaseEdges(s, dir),
          "src", "dst", "w", iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(50),
      shared = Seq(CopurchaseEdges),
      // pagerank: 3 power rounds unrolled as CTEs. Parity discipline:
      // every float step is a fixed scalar IEEE op sequence (literals
      // cast to DOUBLE so DuckDB doesn't run them in DECIMAL), rounded
      // to 12 digits; the only accumulation is an exact DECIMAL(38,12)
      // SUM — partition/engine order cannot change a bit
      oracle = Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS src, b.pk AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        |  GROUP BY 1, 2),
        |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        |       (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS r FROM
        |       (SELECT src AS node FROM e UNION SELECT dst FROM e), nn),
        |r1 AS (
        |  SELECT e.dst AS node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |               CAST(0.85 AS DOUBLE) *
        |               CAST(SUM(CAST(ROUND(r0.r * e.w / o.wout, 12)
        |                 AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |  FROM e JOIN o ON e.src = o.src JOIN r0 ON e.src = r0.node, nn
        |  GROUP BY e.dst, nn.n),
        |r2 AS (
        |  SELECT e.dst AS node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |               CAST(0.85 AS DOUBLE) *
        |               CAST(SUM(CAST(ROUND(r1.r * e.w / o.wout, 12)
        |                 AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |  FROM e JOIN o ON e.src = o.src JOIN r1 ON e.src = r1.node, nn
        |  GROUP BY e.dst, nn.n),
        |r3 AS (
        |  SELECT e.dst AS node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |               CAST(0.85 AS DOUBLE) *
        |               CAST(SUM(CAST(ROUND(r2.r * e.w / o.wout, 12)
        |                 AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |  FROM e JOIN o ON e.src = o.src JOIN r2 ON e.src = r2.node, nn
        |  GROUP BY e.dst, nn.n)
        |SELECT node, ROUND(r, 8) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin)),

    // --- personalized PageRank from a trusted seed set: quality
    //     propagation over the co-purchase graph (score = graph
    //     proximity to curated seeds — the selection face of the
    //     pagerank machinery; q142's graph, seeds = nodes ≡ 0 mod 7) ---
    Query("q217_ppr_trust", (s, dir) => {
      val e = copurchaseEdges(s, dir)
      val seeds = e.select(col("src").as("node")).distinct()
        .filter(pmod(col("node"), lit(7)) === 0)
      graft.operators.Graph.personalizedPageRank(e, "src", "dst", "w",
          seeds, "node", iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(50)
    },
      shared = Seq(CopurchaseEdges),
      // q142's unrolled-round machinery with a seed-only teleport: r0 is
      // the teleport distribution and every round is
      // (1−d)·t + d·Σ ROUND(r·w/wout, 12) over in-edges, nodes LEFT JOIN
      // the contribution so in-edge-free nodes keep their teleport floor
      oracle = Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS src, b.pk AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        |  GROUP BY 1, 2),
        |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd WHERE node % 7 = 0),
        |tele AS (SELECT node, CASE WHEN node % 7 = 0
        |                           THEN CAST(1.0 AS DOUBLE) / ns.n
        |                           ELSE CAST(0.0 AS DOUBLE) END AS t
        |         FROM nd, ns),
        |r0 AS (SELECT node, t AS r FROM tele),
        |r1 AS (
        |  SELECT tele.node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tele.t +
        |               CAST(0.85 AS DOUBLE) *
        |               COALESCE(CAST(m.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 12) AS r
        |  FROM tele LEFT JOIN (
        |    SELECT e.dst AS node, SUM(CAST(ROUND(r0.r * e.w / o.wout, 12)
        |             AS DECIMAL(38,12))) AS m
        |    FROM e JOIN o ON e.src = o.src JOIN r0 ON e.src = r0.node
        |    GROUP BY 1) m ON tele.node = m.node),
        |r2 AS (
        |  SELECT tele.node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tele.t +
        |               CAST(0.85 AS DOUBLE) *
        |               COALESCE(CAST(m.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 12) AS r
        |  FROM tele LEFT JOIN (
        |    SELECT e.dst AS node, SUM(CAST(ROUND(r1.r * e.w / o.wout, 12)
        |             AS DECIMAL(38,12))) AS m
        |    FROM e JOIN o ON e.src = o.src JOIN r1 ON e.src = r1.node
        |    GROUP BY 1) m ON tele.node = m.node),
        |r3 AS (
        |  SELECT tele.node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tele.t +
        |               CAST(0.85 AS DOUBLE) *
        |               COALESCE(CAST(m.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 12) AS r
        |  FROM tele LEFT JOIN (
        |    SELECT e.dst AS node, SUM(CAST(ROUND(r2.r * e.w / o.wout, 12)
        |             AS DECIMAL(38,12))) AS m
        |    FROM e JOIN o ON e.src = o.src JOIN r2 ON e.src = r2.node
        |    GROUP BY 1) m ON tele.node = m.node)
        |SELECT node, ROUND(r, 8) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin)),

    // --- per-node triangle counts on the repeat-co-purchase graph
    //     (parts sharing ≥2 orders), DEGREE-CAPPED to 32 strongest
    //     neighbors per node first: an absolute weight threshold
    //     densifies as data duplicates (10× scale smoke measured 22×
    //     growth), the cap bounds wedge work at n·d² by contract.
    //     Degree orientation then caps generation at O(m^1.5) — the
    //     hub-proof exact algorithm; the oracle mirrors cap + closes
    //     triangles the naive 3-way-join way ---
    Query("q146_triangles", (s, dir) => {
      // the shared symmetric frame restricted to the upper triangle:
      // both orientations carry the same w, so this IS the src<dst
      // build (and the w ≥ 2 repeat-co-purchase floor applies after)
      val e = copurchaseEdges(s, dir)
        .filter(col("src") < col("dst") && col("w") >= 2)
      val capped = Graph.sparsifyByDegree(e, "src", "dst", "w", maxDegree = 32)
      Graph.triangleCounts(capped, "a", "b")
    },
      shared = Seq(CopurchaseEdges),
      // shard assign: the md5-prefix hash is replayed verbatim (same
      // portable-hash contract as q65)
      // triangles: oracle mirrors the degree cap (row_number over the
      // symmetric adjacency, weight desc / neighbor asc) then closes
      // x<y<z the naive way on the same canonical edge set
      oracle = Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS s, b.pk AS d, COUNT(*) AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |ew AS (SELECT s, d, w FROM e0 WHERE w >= 2),
        |sym AS (SELECT s, d, w FROM ew
        |        UNION ALL SELECT d AS s, s AS d, w FROM ew),
        |kept AS (
        |  SELECT s, d FROM (
        |    SELECT s, d, ROW_NUMBER() OVER (PARTITION BY s
        |             ORDER BY w DESC, d ASC) AS rn
        |    FROM sym) WHERE rn <= 32),
        |e AS (
        |  SELECT DISTINCT LEAST(s, d) AS s, GREATEST(s, d) AS d
        |  FROM kept),
        |tri AS (
        |  SELECT e1.s AS x, e1.d AS y, e2.d AS z
        |  FROM e e1 JOIN e e2 ON e1.d = e2.s
        |            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
        |nodes AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY 1""".stripMargin)),

    // --- HITS authorities over the bipartite customer→part purchase
    //     graph (2 rounds, L1-normalized): the rank cut orders on the
    //     ROUNDED score + id so the top-30 is engine-identical ---
    Query("q159_hits", (s, dir) => {
      val e = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
          "o_orderkey")
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      val (_, auth) = Graph.hits(e, "cust", "part", iters = 2)
      auth.select(col("id").as("part"), round(col("a"), 8).as("authority"))
        .orderBy(col("authority").desc, col("part")).limit(30)
    },
      // HITS: 2 rounds = 4 half-steps unrolled; round-12 scores into
      // DECIMAL(38,12) sums, L1 normalizer as a 1-row cross join
      oracle = Some("""WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS h FROM e),
        |a1r AS (
        |  SELECT e.dst AS id,
        |         SUM(CAST(ROUND(h0.h, 12) AS DECIMAL(38,12))) AS raw
        |  FROM e JOIN h0 ON e.src = h0.id GROUP BY 1),
        |a1 AS (
        |  SELECT id, ROUND(CAST(raw AS DOUBLE) / CAST(n.nrm AS DOUBLE), 12)
        |         AS a
        |  FROM a1r, (SELECT SUM(raw) AS nrm FROM a1r) n),
        |h1r AS (
        |  SELECT e.src AS id,
        |         SUM(CAST(ROUND(a1.a, 12) AS DECIMAL(38,12))) AS raw
        |  FROM e JOIN a1 ON e.dst = a1.id GROUP BY 1),
        |h1 AS (
        |  SELECT id, ROUND(CAST(raw AS DOUBLE) / CAST(n.nrm AS DOUBLE), 12)
        |         AS h
        |  FROM h1r, (SELECT SUM(raw) AS nrm FROM h1r) n),
        |a2r AS (
        |  SELECT e.dst AS id,
        |         SUM(CAST(ROUND(h1.h, 12) AS DECIMAL(38,12))) AS raw
        |  FROM e JOIN h1 ON e.src = h1.id GROUP BY 1),
        |a2 AS (
        |  SELECT id, ROUND(CAST(raw AS DOUBLE) / CAST(n.nrm AS DOUBLE), 12)
        |         AS a
        |  FROM a2r, (SELECT SUM(raw) AS nrm FROM a2r) n)
        |SELECT id AS part, ROUND(a, 8) AS authority FROM a2
        |ORDER BY authority DESC, part LIMIT 30""".stripMargin)))
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics expressed as joins + exact aggregation.
  *
  * PageRank here is the synchronous power iteration: each round every
  * node sends `rank · w/Σw` along its out-edges and the new rank is
  * `(1−d)/N + d · Σ inbound`. On Spark that is one join (edges ⋈
  * ranks, both hash-partitioned on the source key) and one
  * aggregation per round — the classic Pregel step without a graph
  * framework, so Catalyst still prunes/pushes and AQE can broadcast
  * the rank side while it is small relative to the edge list.
  *
  * Determinism contract (the whole point of the design): a
  * distributed `SUM(double)` is partition-order dependent in its last
  * bits, which would make every iteration — and therefore the final
  * ranking — irreproducible across runs and engines. Instead each
  * edge contribution is a fixed sequence of scalar IEEE ops rounded
  * to 12 digits, the per-node sum runs EXACTLY in `DECIMAL(38,12)`
  * (order-independent), and only the final damped combine returns to
  * double. Re-running on a different partitioning, cluster size, or
  * engine evaluating the same formula yields identical bytes.
  *
  * Scale: per-round cost is one shuffle of the edge list on `src`
  * plus one on `dst` — no all-pairs term anywhere; rank-frame lineage
  * is cut with `localCheckpoint` every `checkpointEvery` rounds so a
  * long power iteration does not accrete an unbounded plan (same
  * pattern as the dup-cluster pointer jumping in
  * `llm/Dedup.dupClusters`). The single driver-side action is one
  * `count()` for N.
  */
object Graph {

  /** Exact long-carried decimal sum (round-14 optimization, guide
    * §2.3 "narrower types"): every per-round score contribution is
    * `round(x, 12)` — exactly 12 fractional digits — and mass
    * conservation bounds each per-node (and the global) sum below
    * ~1, so the exact DECIMAL(38,12) aggregation can ride a LONG in
    * pico-units (value · 10¹²) with ~6 orders of overflow headroom
    * at ANY scale: the bound is Σ rank mass ≤ 1 + |E|·5e-13 of
    * rounding slack, which is scale-free. A long halves the shuffled
    * payload vs a 16-byte decimal and sums in codegen'd primitive
    * arithmetic instead of per-row BigDecimal allocation (measured:
    * the decimal reduce was 10-60 CPU-s/round at sf0.1 with GC to
    * match). Every step is exact integer arithmetic, and the
    * reconstruction multiplies by the exact decimal 1e-12 before the
    * cast to double, so the final double equals the old
    * `sum(decimal).cast("double")` bit for bit (both casts are
    * BigDecimal.doubleValue of the same exact value).
    */
  private val Pico = lit(1000000000000L)
  private val PicoInv = lit(BigDecimal("0.000000000001"))
  /** `round(x, 12)` → exact pico-unit long. */
  private def picoOf(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (round(x, 12).cast(DecimalType(38, 12)) * Pico).cast("long")
  /** Exact double of a pico-unit long sum. */
  private def picoToDouble(l: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (l * PicoInv).cast("double")

  /** Weighted PageRank over a directed edge list `(src, dst, w)`.
    *
    * Nodes with no inbound edges keep the `(1−d)/N` baseline each
    * round; dangling-node mass is NOT redistributed (the simplified
    * textbook variant) — ranks sum to slightly under 1 when sinks
    * exist, which is fine for ranking and keeps the oracle formula
    * closed-form. Output: `(node, rank)` with rank rounded to
    * `outDigits`.
    */
  /** Broadcast the node-sized score frame into the per-round edge
    * join when the node count — known EXACTLY from [[prepare]]'s one
    * driver action, not a Catalyst estimate — provably fits
    * (round-14, guide §3.1 "broadcast the side that fits"): the
    * per-round plan becomes BroadcastHashJoin over the checkpointed
    * edge blocks, which removes BOTH per-round exchanges of the join
    * (the full edge list re-exchanged on `src` — the one remaining
    * non-algorithmic shuffle, ~|E| rows × rounds — and the node-sized
    * rank exchange); the contribution `groupBy(dst)` keeps its
    * map-side partial aggregation, so the only exchange left per
    * round is node-scale. Join strategy cannot change the row set —
    * ranks stay bit-identical (oracle-pinned).
    *
    * Above the threshold the round keeps the SHUFFLE_HASH shape
    * (scale-stable, no driver collect of a huge rank frame). The
    * cutoff is deliberate and deterministic — a driver-known count
    * against a configured bound, not an optimizer size guess:
    * `SPARK_GRAFT_GRAPH_BCAST_NODES`, default 4M nodes ≈ 64 MB of
    * (long, double) rank rows per executor — comfortably inside
    * Spark's 8 GB broadcast cap and worth one node-sized driver
    * round-trip per iteration to keep |E| rows off the wire. At
    * billion-node scale the env lowers (or zeroes) the bound.
    */
  private def broadcastNodeLimit: Long =
    // system property first (same-JVM A/B in tools/benches), env second
    sys.props.get("graft.graph.bcastNodes")
      .orElse(sys.env.get("SPARK_GRAFT_GRAPH_BCAST_NODES"))
      .map(_.toLong).getOrElse(4000000L)

  /** Shared power-iteration state: cached degree-annotated edge list,
    * node frame, and the literal damping base.
    */
  private final case class PrState(e: DataFrame, nodes: DataFrame,
                                   base: Double, damping: Double,
                                   nNodes: Long) {
    /** One synchronous PageRank round over `ranks(node, r)`. */
    def step(ranks: DataFrame): DataFrame = {
      // node-sized rank side: BROADCAST when the exact node count
      // fits (no per-round edge exchange — see [[broadcastNodeLimit]]),
      // else SHUFFLE_HASH (build the hash on ranks, stream the edge
      // list — no size-threshold plan flip at scale). `wout` already
      // rides the edge row (annotated once in [[prepare]]), so the
      // round is ONE join; the contribution groupBy(dst) is the
      // algorithm's irreducible shuffle.
      val rankSide = ranks.withColumnRenamed("node", "src")
      val joined =
        if (nNodes <= broadcastNodeLimit) e.join(broadcast(rankSide), "src")
        else e.join(rankSide.hint("shuffle_hash"), "src")
      val contrib = joined
        .select(col("dst").as("node"),
          // scalar double ops in a fixed order, then rounded: the
          // only nondeterministic step (the SUM) runs as an exact
          // pico-unit long (see [[picoOf]] — same bits as the
          // DECIMAL(38,12) sum, half the shuffle bytes, primitive
          // codegen arithmetic)
          picoOf(col("r") * col("w") / col("wout")).as("c"))
      val next = contrib.groupBy(col("node"))
        .agg(round(lit(base) +
          lit(damping) * picoToDouble(sum(col("c"))), 12).as("r"))
      nodes.join(next, Seq("node"), "left")
        .select(col("node"), coalesce(col("r"), round(lit(base), 12)).as("r"))
    }
    def init: DataFrame = nodes.withColumn("r", lit(1.0 / nNodes))
  }

  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
                      wCol: String, damping: Double): PrState = {
    // The edge list is consumed once per iteration plus by the
    // degree/node prep — materialize it ONCE (upstream edge
    // construction is often a join/aggregation that would otherwise
    // re-run every time the lazy plan is referenced). Round-14
    // optimization finding: the previous `.repartition(src)
    // .localCheckpoint()` did NOT pin the partitioning — a checkpoint
    // scans back as `ExistingRDD ... UnknownPartitioning`, so every
    // round silently re-exchanged the full edge list on src, re-ran
    // the outDeg aggregation (an edge-scale pass + exchange) and
    // re-derived `nodes` (union+distinct over 2·|E|). Three edge-scale
    // passes per round that belong in prep. Now:
    //  - upstream lineage is cut once with a cheap localCheckpoint of
    //    the raw (src, dst, w) rows;
    //  - the round-invariant out-degree total `wout` is annotated onto
    //    each edge ONCE, so each round is one join, not an
    //    aggregation + two joins;
    //  - `nodes` is node-sized, so it is localCheckpointed and reused
    //    instead of re-unioning the edge list every round.
    // The annotated list itself stays a localCheckpoint (row blocks):
    // the `.persist()` alternative DOES carry HashPartitioning(src)
    // into the rounds and drops the per-round edge exchange from the
    // plan, but the columnar InMemoryRelation probe measured 3-20×
    // MORE per-round CPU + GC here than re-exchanging row blocks
    // (interpreted decimal pipeline over cache batches vs codegen over
    // shuffle rows) — measured q142 23.5 s → 38 s. Row checkpoint +
    // one 73 MiB/round exchange wins at every SF tested; a round-15
    // re-probe of the persisted list lost again, 1.05–1.20× in every
    // arm (plans/r15/graphbench_edgecache_probe.txt).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .repartition(col("src"))
      // wout via a src-partitioned window ON the frame being
      // checkpointed anyway: the repartition already clusters each
      // src, so the window adds only an in-partition sort — ONE edge
      // materialization total (the first cut of this round used a
      // groupBy + join + second checkpoint: an extra edge-scale pass
      // the bench charged back)
      .withColumn("wout", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // One tiny driver action: N. The per-round base (1-d)/N is then a
    // literal, so both engines evaluate the same two IEEE ops.
    val nNodes = nodes.count()
    PrState(e, nodes, (1.0 - damping) / nNodes, damping, nNodes)
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, iters: Int, damping: Double = 0.85,
               outDigits: Int = 8, checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val st = prepare(edges, srcCol, dstCol, wCol, damping)
    var ranks = st.init
    for (i <- 1 to iters) {
      ranks = st.step(ranks)
      // materialize EVERY round by default (node-count rows — cheap):
      // the rank frame feeds the next round through a BROADCAST whose
      // build side otherwise re-executes every earlier round's
      // edge-scale join/agg — measured 12 s → 30 s → 81 s of CPU over
      // 3 rounds before this, flat ~10 s/round after
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), round(col("r"), outDigits).as("rank"))
  }

  /** PERSONALIZED PageRank: teleport mass goes only to a trusted SEED
    * set — the seed-based quality-propagation technique a curation
    * pipeline uses to SELECT data (score every document/domain by its
    * graph proximity to a small curated set; rank is trust, the
    * selection cut is a threshold or top-k). `r₀ = t`,
    * `rₖ(v) = (1−d)·t(v) + d·Σ_in rₖ₋₁(src)·w/wout` with
    * `t(v) = 1/|seeds|` on seeds and 0 elsewhere.
    *
    * Same determinism contract and scale shape as [[pageRank]]: one
    * edge-scale join + decimal-summed aggregation per round,
    * node-count rank frames localCheckpointed every round, the seed
    * share a driver literal. Seeds not present in the graph are
    * ignored (they can receive no mass and would only dilute the
    * teleport); dangling-node mass evaporates (the simple PPR
    * variant — replayable verbatim in SQL).
    *
    * Output: `(node, rank)`; seed rows carry the teleport floor
    * `(1−d)/|seeds|` plus whatever the graph returns them.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, seeds: DataFrame, seedCol: String,
                           iters: Int, damping: Double = 0.85,
                           outDigits: Int = 8): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val st = prepare(edges, srcCol, dstCol, wCol, damping)
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .join(st.nodes, Seq("node"), "left_semi")
    val nSeeds = seedSet.count()
    require(nSeeds > 0, "no seed is a node of the graph")
    val tele = st.nodes
      .join(seedSet.withColumn("_s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("_s").isNotNull, lit(1.0 / nSeeds))
          .otherwise(lit(0.0)).as("t"))
      .localCheckpoint()
    var ranks = tele.select(col("node"), col("t").as("r"))
    for (i <- 1 to iters) {
      // same round shape as PrState.step: wout rides the edge row
      // (one join), rank side broadcast when the exact node count
      // fits, else shuffle-hash streamed over the cached edges
      val rankSide = ranks.withColumnRenamed("node", "src")
      val joined =
        if (st.nNodes <= broadcastNodeLimit)
          st.e.join(broadcast(rankSide), "src")
        else st.e.join(rankSide.hint("shuffle_hash"), "src")
      val m = joined
        .select(col("dst").as("node"),
          picoOf(col("r") * col("w") / col("wout")).as("c"))
        .groupBy(col("node"))
        .agg(picoToDouble(sum(col("c"))).as("_m"))
      ranks = tele.join(m, Seq("node"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) * col("t") +
            lit(damping) * coalesce(col("_m"), lit(0.0)), 12).as("r"))
      if (i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), round(col("r"), outDigits).as("rank"))
  }

  /** PageRank iterated to a fixed point: rounds run until the max
    * per-node rank change drops below `tol` (one tiny driver action
    * per round — the convergence check IS the loop condition, the
    * same driver-loop shape as `Dedup.dupClusters`). Every round is
    * localCheckpointed, so the plan stays one-round deep no matter
    * how many rounds the graph needs. Returns
    * `(node, rank, n_iters)` with the round count attached for
    * observability.
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        wCol: String, tol: Double = 1e-9,
                        maxIters: Int = 50, damping: Double = 0.85,
                        outDigits: Int = 8): DataFrame = {
    require(tol > 0 && maxIters >= 1, "need tol > 0 and maxIters >= 1")
    val st = prepare(edges, srcCol, dstCol, wCol, damping)
    var ranks = st.init.localCheckpoint()
    var iters = 0
    var delta = Double.MaxValue
    while (delta >= tol && iters < maxIters) {
      val next = st.step(ranks).localCheckpoint()
      delta = next.join(ranks.withColumnRenamed("r", "r0"), "node")
        .agg(max(abs(col("r") - col("r0")))).head().getDouble(0)
      ranks = next
      iters += 1
    }
    ranks.select(col("node"), round(col("r"), outDigits).as("rank"),
      lit(iters).as("n_iters"))
  }

  /** HITS hubs & authorities over a directed (typically bipartite)
    * edge list: `auth(p) = Σ h(c)` over in-edges, `hub(c) = Σ a(p)`
    * over out-edges, L1-normalized each half-round. Same determinism
    * contract as [[pageRank]]: scores are rounded to 12 digits before
    * every DECIMAL(38,12) sum, and the normalizer rides a 1-row
    * broadcast (no driver action in the loop). Returns
    * `(hubs(id, h), authorities(id, a))`.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "iters must be >= 1")
    // two pinned copies, one per half-round join key: the same
    // stream-the-edges discipline as [[prepare]] (a node-sized score
    // frame past the broadcast threshold otherwise flips each half to
    // a sort-merge join re-shuffling the edge list every round); the
    // second copy costs one bounded materialization up front and
    // removes a per-round edge exchange forever after
    val eBySrc = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().repartition(col("src")).localCheckpoint()
    val eByDst = eBySrc.repartition(col("dst")).localCheckpoint()
    // exact side counts for the broadcast decision (one bounded job;
    // the score frames are node-sized: hubs = distinct src, auths =
    // distinct dst) — same deterministic driver-known cutoff as
    // [[broadcastNodeLimit]] in the PageRank family
    val sideN = eBySrc.agg(
      countDistinct(col("src")).as("_ns"),
      countDistinct(col("dst")).as("_nd")).head()
    val bcastHalf = Map(
      "src" -> (sideN.getLong(0) <= broadcastNodeLimit),
      "dst" -> (sideN.getLong(1) <= broadcastNodeLimit))

    // Round-15 (§2.3 "narrower types" — the q142 pico-long lesson,
    // unlocked by special-casing the first half below): every half
    // that runs through this code now consumes L1-NORMALIZED scores,
    // so each per-node sum is bounded by the total mass
    // Σ score = 1 + n·5e-13 rounding slack at ANY scale (each src id
    // appears at most once per dst — the edge set is distinct) and
    // rides an exact pico-unit LONG: primitive codegen sum, half the
    // shuffled bytes, no per-row BigDecimal (the decimal reduce was
    // the measured CPU+GC wall of the four edge-scale half-rounds).
    // Only the GLOBAL normalizer — bounded by max-degree × mass, NOT
    // by 1 — returns to exact decimal, as one tiny aggregation over
    // the node-sized raw frame. Bit-equality with the old
    // DECIMAL(38,12) path (oracle-pinned, HitsParity spec):
    // `_rp · 1e-12` is the exact value the decimal sum produced, the
    // normalizer sums those same exact decimals, and both casts to
    // double are BigDecimal.doubleValue of equal exact values.
    def half(scores: DataFrame, joinKey: String, outKey: String,
             scoreCol: String, outCol: String,
             checkpoint: Boolean = true): DataFrame = {
      val e = if (joinKey == "src") eBySrc else eByDst
      val scoreSide = scores.withColumnRenamed("id", joinKey)
      val raw = (if (bcastHalf(joinKey)) e.join(broadcast(scoreSide), joinKey)
                 else e.join(scoreSide.hint("shuffle_hash"), joinKey))
        .select(col(outKey).as("id"), picoOf(col(scoreCol)).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("_rp"))
      val nrm = raw.agg(sum(col("_rp") * PicoInv).as("nrm"))
      // materialize each half-round the NEXT half consumes (node-count
      // rows): its broadcast build side would otherwise re-execute
      // every earlier half's edge-scale work (the q142 lesson). The
      // LAST half is returned LAZY instead: a consumer that discards
      // it — q159 keeps only the authorities — never executes its
      // edge-scale join+agg, and the one-round plan stays visible to
      // explain() (the same exposure pageRank's final round has).
      val out = raw.crossJoin(broadcast(nrm))
        .select(col("id"),
          round(picoToDouble(col("_rp")) / col("nrm").cast("double"), 12)
            .as(outCol))
      if (checkpoint) out.localCheckpoint() else out
    }

    // First half-round, special-cased EXACTLY (round-15): the hub init
    // is h ≡ 1.0 on precisely the distinct src set, so every edge
    // joins and contributes ROUND(1.0, 12) = 1 — the raw authority is
    // the IN-DEGREE (an exact integer) and the normalizer is |E|. One
    // count aggregation over the dst-partitioned edge copy replaces an
    // edge-scale join + decimal aggregation, and removing this
    // UNNORMALIZED half is what makes the pico-long carrier above safe
    // by construction: an |E|-scale per-node decimal sum was the
    // documented pico overflow hazard (> ~9.2e6 in-degree), while
    // integer counts < 2^53 cast to double exactly — bit-equal to the
    // ROUND(1.0,12)-decimal sums they replace.
    val a1 = {
      val counted = eByDst.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("_n"))
      val tot = counted.agg(sum(col("_n")).as("nrm"))
      counted.crossJoin(broadcast(tot))
        .select(col("id"),
          round(col("_n").cast("double") / col("nrm").cast("double"), 12)
            .as("a"))
        .localCheckpoint()
    }
    var auth = a1
    var hub = half(auth, "dst", "src", "a", "h", checkpoint = iters > 1)
    for (i <- 2 to iters) {
      auth = half(hub, "src", "dst", "h", "a")
      hub = half(auth, "dst", "src", "a", "h", checkpoint = i < iters)
    }
    (hub, auth)
  }

  /** Degree-capped sparsification of a weighted undirected graph:
    * every node keeps its `maxDegree` strongest incident edges
    * (weight desc, neighbor id tiebreak) and an edge survives if
    * EITHER endpoint keeps it — the standard kNN-graph union. Output
    * is the canonical `(a < b)` edge set.
    *
    * Why this exists: any absolute edge filter (weight ≥ T) densifies
    * as the corpus grows — repeated/duplicated data inflates every
    * co-occurrence weight past the threshold, degrees grow linearly
    * with scale, and downstream wedge/pair work grows QUADRATICALLY
    * (measured 22× at a 10× scale smoke before this cap existed).
    * A per-node cap makes downstream cost a contract: at most
    * `n · maxDegree` edges and `n · maxDegree²` wedges, whatever the
    * data does. One shuffle (the per-node rank window).
    */
  def sparsifyByDegree(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, maxDegree: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = edges.select(col(srcCol).as("s"), col(dstCol).as("d"),
        col(wCol).as("w"))
      .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d"),
        col(wCol).as("w")))
    val rank = Window.partitionBy(col("s"))
      .orderBy(col("w").desc, col("d").asc)
    sym.withColumn("_rn", row_number().over(rank))
      .filter(col("_rn") <= maxDegree)
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
  }

  /** Per-node triangle counts over an undirected graph given as an
    * edge list (either orientation, duplicates tolerated).
    *
    * Scale design — degree orientation: enumerating wedges from raw
    * adjacency costs Σ deg(v)², which a single hub can turn
    * quadratic. Orienting every edge from its lower-(degree, id)
    * endpoint to the higher caps oriented out-degree at O(√m), so
    * wedge generation is O(m^1.5) worst case — the optimal exact
    * bound — and the hub's wedges are generated by its (low-degree)
    * neighbors instead of the hub itself. Every step is an equi-join
    * or hash aggregation on node/edge keys; nothing touches the
    * driver.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edge set (a < b), deduped — materialized
    // once: it feeds degree counting, orientation, and the wedge
    // close, and its upstream construction should not re-run 3×
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient low → high by (deg, id); ties on degree break on id so
    // the orientation is total and acyclic
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), "b")
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges u→v1, u→v2 (v1 < v2) closed by the canonical edge set
    val wedges = oriented.as("x").join(oriented.as("y"), "u")
      .filter(col("x.v") < col("y.v"))
      .select(col("u"), col("x.v").as("a"), col("y.v").as("b"))
    val tris = wedges.join(und, Seq("a", "b"))
    tris.select(col("u").as("node"))
      .union(tris.select(col("a").as("node")))
      .union(tris.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Caching
import graft.Caching.LoopCheckpoint
import graft.Caching.ScopedPersist

/** SURVEY §2.3 — graph analytics over an edge list, complementing the
  * connected components in [[Dedup.connectedComponentsTwoPhase]]:
  * PageRank by power iteration. Every step is a distributed join/aggregate — the
  * driver never sees a row; per-round localCheckpoint caps lineage
  * (the CC lesson: persist alone leaves the plan tree growing), and
  * superseded checkpoint blocks are RELEASED as the loop advances
  * (the 100 TB lesson: a 50-round loop must not hold 50 copies of the
  * rank table in executor storage). A fixed iteration count keeps the
  * result reproducible.
  */
object Graph {

  /** PageRank over (src, dst) edges. Returns (id, rank). Dangling
    * nodes (no out-edges) contribute no redistributed mass — the
    * plain (1−d) + d·Σ formulation, reproducible and join-only.
    * At 100 TB: edges partition by src for the contribution join and
    * by dst for the aggregation — two shuffles per round, both on
    * uniform-ish keys; skewed hub dsts are exactly what AQE's skew
    * handling splits.
    *
    * Checkpoint cadence: every round checkpoints LAZILY (flat Catalyst
    * plan, no job), and every `ckptEvery`-th round — plus the last —
    * checkpoints EAGERLY. The eager job materializes the intervening
    * lazy rounds' blocks too, after which every superseded round is
    * released, so executor storage holds at most `ckptEvery` rank
    * tables at the eager peak and 1 in steady state, at the cost of
    * iters/ckptEvery jobs instead of one. The final eager round also
    * makes the RESULT self-contained, so the operator's own persisted
    * inputs (edges/nodes/outDeg) are unpersisted before returning —
    * callers see exactly one retained table: the returned ranks.
    */
  def pageRank(edgesIn: DataFrame, iters: Int = 10,
               damping: Double = 0.85, ckptEvery: Int = 5): DataFrame = {
    val edges = edgesIn.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct().persist()
    // round 18 (guide §2.4): out-degree is loop-INVARIANT — join it
    // into the persisted edge table once instead of re-joining outDeg
    // inside every iteration (one join per round instead of two; the
    // rank/__out division and its decimal quantization are unchanged,
    // so contributions are bit-identical and q91 stays hash-green).
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("__out"))
    val edgesDeg = edges.join(outDeg, "src").persist()
    var ranks = nodes.withColumn("rank", lit(1.0))
    var superseded = List.empty[DataFrame] // checkpoints not yet released
    for (i <- 1 to iters) {
      // each contribution is an IEEE double (bit-identical in any
      // engine) QUANTIZED to DECIMAL(28,14) before the per-dst sum:
      // decimal addition is exact, so the aggregate is independent of
      // partitioning/order — the run is bit-reproducible at any
      // parallelism AND mirrors in a DuckDB oracle (the q74/q101
      // discipline; quantization error 1e-14/edge is far below any
      // consumer's tolerance)
      val contribs = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("id"))
        .select(col("dst").as("id"),
          (col("rank") / col("__out")).cast(DecimalType(28, 14)).as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__in"))
      val eager = i % ckptEvery == 0 || i == iters
      val next = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) + lit(damping) *
            coalesce(col("__in").cast("double"), lit(0.0))).as("rank"))
        .loopCheckpoint(eager)
      // only rounds THIS loop checkpointed are ours to free (round 0's
      // plan may contain a CALLER checkpoint under nodes/edges)
      if (i > 1) superseded ::= ranks
      if (eager) {
        // the eager job just materialized `next`; every older round's
        // blocks are now dead weight — free them
        superseded.foreach(Caching.releaseCheckpoint)
        superseded = Nil
      }
      ranks = next
    }
    edges.unpersist(false); nodes.unpersist(false); edgesDeg.unpersist(false)
    ranks
  }

  /** Single-source BFS: minimum hop count from `source` to every node
    * reachable in ≤ `maxDepth` edges, over (src, dst) edges. Returns
    * (id, dist_hops). Pure join/aggregate relaxation — round k extends
    * every known shortest path by one edge and keeps the minimum, so
    * after `maxDepth` rounds the result is exactly min-hops over paths
    * of ≤ maxDepth edges (the same semantics as a depth-bounded
    * recursive-CTE closure). At 100 TB: each round is one shuffle on
    * dst + a min-aggregate; frontier stays a (node, dist) table, never
    * driver-side; checkpoint cadence + superseded-block release as in
    * [[pageRank]].
    */
  def bfs(edgesIn: DataFrame, source: Long, maxDepth: Int,
          ckptEvery: Int = 5): DataFrame = {
    val edges = edgesIn.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().persist()
    var dist = edges.sparkSession.range(1)
      .select(lit(source).as("id"), lit(0L).as("dist_hops"))
    var superseded = List.empty[DataFrame]
    for (i <- 1 to maxDepth) {
      val next = dist.join(edges, dist("id") === edges("src"))
        .select(col("dst").as("id"), (col("dist_hops") + 1L).as("dist_hops"))
      val eager = i % ckptEvery == 0 || i == maxDepth
      val merged = dist.union(next)
        .groupBy(col("id")).agg(min(col("dist_hops")).as("dist_hops"))
        .loopCheckpoint(eager)
      if (i > 1) superseded ::= dist // round 0's plan isn't ours to free
      if (eager) {
        superseded.foreach(Caching.releaseCheckpoint)
        superseded = Nil
      }
      dist = merged
    }
    edges.unpersist(false) // result is self-contained after the final eager round
    dist
  }

  /** Per-node triangle participation over an UNDIRECTED edge set given
    * as canonical (a < b) pairs: for each node, the number of
    * triangles it belongs to. The classic three-way self-join on the
    * ordered orientation (a<b<c) counts each triangle once; joining
    * ordered edges bounds fan-out by forward-degree (the compact-
    * forward algorithm — hub nodes contribute their lower-degree
    * orientation only, which is what makes this tractable on
    * power-law graphs).
    */
  def triangleCounts(edgesIn: DataFrame): DataFrame = {
    val e = edgesIn.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .filter(col("a") < col("b")).distinct().scopedPersist()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** HITS hubs & authorities (Kleinberg '99) over directed (src, dst)
    * edges, in EXACT integer arithmetic: with h₀ ≡ 1, each round
    * computes a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v) — without
    * per-round normalization these are integer path counts (round-k
    * authority = #paths of length 2k−1 ending at v alternating
    * out/in), so every intermediate is a BIGINT and the result is
    * bit-identical in any engine and under any partitioning. The
    * single normalization (divide by the max) happens ONCE at the
    * end — the established exact-integers-to-one-IEEE-division
    * discipline. Two rounds on a ≤200²-edge graph bound every count
    * by ~deg³·n < 2⁶³; at true scale the caller drops to normalized
    * doubles via the q91 decimal-quantize route instead.
    *
    * Scale shape per round: two shuffles (aggregate by dst, then by
    * src) on the edge keys — exactly PageRank's contribution pattern;
    * hub dsts are what AQE skew-split handles. Returns
    * (id, auth, hub, auth_norm, hub_norm).
    */
  def hits(edgesIn: DataFrame, iters: Int = 2): DataFrame = {
    // Enforce the exact-integer precondition instead of documenting it:
    // counts grow ~deg^(2·iters), so unbounded iters (or a huge edge
    // set) would wrap the non-ANSI BIGINT sums silently. iters ≤ 3 and
    // ≤ 200² distinct edges keep every intermediate < 2⁶³ with wide
    // margin; at true scale callers use the normalized-double /
    // decimal-quantize route (q91 discipline) instead.
    require(iters >= 1 && iters <= 3,
      s"hits(): iters=$iters outside the exact-integer bound [1,3]; " +
        "use the normalized-double variant beyond that")
    // the guard counts a SEPARATE frame (not the scopedPersist'd
    // `edges`): counting through the cache would materialize it at
    // plan-build time, flipping its AQE cached-plan print from the
    // compact initial form to the finalized stage tree and inflating
    // the plan-audit exchange counts for reasons unrelated to the
    // actual shuffle work
    val nEdges = edgesIn.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().count()
    require(nEdges <= 200L * 200L,
      s"hits(): $nEdges edges exceeds the 200²-edge exact-integer " +
        "precondition (Long-overflow guard)")
    val edges = edgesIn.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().scopedPersist()
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    var h = nodes.withColumn("h", lit(1L))
    var a = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      a = edges.join(h.select(col("id").as("src"), col("h")), "src")
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
        .select(col("dst").as("id"), col("a"))
      a = a.scopedPersist() // consumed by h-update AND the final output
      h = edges.join(a.select(col("id").as("dst"), col("a")), "dst")
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
        .select(col("src").as("id"), col("h"))
    }
    // ONE 1-row maxima frame broadcast onto the node table; left joins
    // restore sources/sinks (auth 0 / hub 0) dropped by the inner
    // aggregation joins above.
    val maxes = a.agg(max(col("a")).as("ma"))
      .crossJoin(h.agg(max(col("h")).as("mh")))
    nodes
      .join(a, Seq("id"), "left").join(h, Seq("id"), "left")
      .select(col("id"), coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
      .crossJoin(broadcast(maxes))
      .select(col("id"), col("auth"), col("hub"),
        round(col("auth").cast("double") / col("ma"), 6).as("auth_norm"),
        round(col("hub").cast("double") / col("mh"), 6).as("hub_norm"))
  }

  /** k-CORE decomposition (Seidman '83) by synchronous peeling over
    * canonical (a < b) undirected edges: repeatedly delete every node
    * whose degree within the surviving subgraph is < k; the fixpoint
    * is the maximal subgraph of minimum degree ≥ k — the standard
    * "dense cohesive region" filter upstream of community detection,
    * and the degeneracy-ordering backbone of triangle/clique work.
    * A FIXED round count keeps the unrolled DuckDB oracle exactly
    * equivalent (the q233 contract); callers pick `rounds` ≥ the
    * graph's peel depth and the spec asserts one extra round is a
    * no-op (true fixpoint reached).
    *
    * Scale shape per round: the symmetric edge view semi-joins the
    * survivor set on BOTH endpoints (two uniform-key hash joins), then
    * one partial-agg degree count — no windows, no driver round trips;
    * per-round loopCheckpoint + superseded-block release as in
    * [[pageRank]]. Returns surviving (id, core_deg).
    */
  def kCore(edgesIn: DataFrame, k: Int, rounds: Int,
            ckptEvery: Int = 4): DataFrame = {
    val e = edgesIn.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v"))).persist()
    def degWithin(surv: DataFrame): DataFrame =
      sym.join(surv.select(col("id").as("u")), "u")
        .join(surv.select(col("id").as("v")), "v")
        .groupBy(col("u")).agg(count(lit(1)).as("c"))
    var surv = sym.select(col("u").as("id")).distinct()
    var superseded = List.empty[DataFrame]
    for (i <- 1 to rounds) {
      val eager = i % ckptEvery == 0 || i == rounds
      val next = degWithin(surv)
        .filter(col("c") >= k).select(col("u").as("id"))
        .loopCheckpoint(eager)
      if (i > 1) superseded ::= surv
      if (eager) {
        superseded.foreach(Caching.releaseCheckpoint)
        superseded = Nil
      }
      surv = next
    }
    // MATERIALIZE the final degree pass before releasing sym — the
    // round-15 advisory fix: an unpersist before evaluation would
    // silently recompute the symmetric edge union (and every
    // checkpoint subtree above it) at collect time. The eager
    // checkpoint is the PageRank/BFS convention: the caller gets ONE
    // self-contained table and releases it (releaseCheckpoint).
    val out = degWithin(surv)
      .select(col("u").as("id"), col("c").as("core_deg"))
      .loopCheckpoint()
    Caching.releaseCheckpoint(surv) // final round, superseded by out
    sym.unpersist(false)
    out
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. '07) over
    * canonical (a < b) undirected edges: every node starts labeled
    * with its own id; each round it adopts the MODE of its neighbors'
    * labels, ties to the SMALLEST label — fully deterministic (the
    * async/random-order variant of the paper is not reproducible,
    * which disqualifies it here; synchronous + min-tie is the
    * GraphFrames/Pregel convention). A fixed iteration count keeps
    * the result stable (synchronous LPA can oscillate on bipartite
    * structures — a bounded-round snapshot is the honest contract).
    *
    * Scale shape per round: one join of labels onto the symmetric
    * edge view (fan-out = degree, exactly the PageRank contribution
    * join) + two partial-agg groupBys; the mode-argmax collapses to
    * max(struct(count, −label)) so no per-node window or sort exists.
    * Per-round loopCheckpoint caps lineage like CC/BFS/PageRank.
    */
  def labelPropagation(edgesIn: DataFrame, iters: Int = 3,
                       ckptEvery: Int = 5): DataFrame = {
    val e = edgesIn.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v"))).persist()
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id"))
    var superseded = List.empty[DataFrame]
    for (i <- 1 to iters) {
      val eager = i % ckptEvery == 0 || i == iters
      val next = sym
        .join(labels.select(col("id").as("v"), col("lbl")), "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("lbl")).as("negl"))).as("m"))
        .select(col("u").as("id"), (-col("m")("negl")).as("lbl"))
        .loopCheckpoint(eager)
      if (i > 1) superseded ::= labels
      if (eager) {
        superseded.foreach(Caching.releaseCheckpoint)
        superseded = Nil
      }
      labels = next
    }
    sym.unpersist(false)
    labels
  }

  /** Link prediction over an UNDIRECTED edge set given as canonical
    * (a < b) pairs (round 15): for every NON-adjacent pair (u, w) at
    * distance 2, the three classical neighborhood scores —
    * common-neighbor count, Jaccard |Γu∩Γw| / |Γu∪Γw|, and
    * Adamic–Adar Σ_z 1/ln(deg z) (Adamic & Adar, Soc. Netw. 2003).
    * The reference's STRING PPI table (tidy-api-ftp.R:147-162) is
    * exactly the edge list this runs on: "which unlinked gene pairs
    * share the most interaction partners" is the standard PPI
    * completion query.
    *
    * Plan shape: candidate pairs come from ONE self-join of the
    * symmetric view on the shared neighbor z (fan-out Σ deg², the
    * same wedge join triangleCounts does), a partial-agg groupBy on
    * (u, w), a degree join (|V| rows — AQE broadcasts it when it
    * fits, shuffles it when a 100 TB graph's node table doesn't),
    * and an anti-join against the existing edges — no window, no
    * driver loop. The Adamic–Adar
    * 1/ln(deg z) terms are IEEE doubles QUANTIZED to DECIMAL(18,12)
    * before the per-pair sum (the pageRank discipline), so the score
    * is independent of partitioning/order and mirrors in a DuckDB
    * oracle.
    *
    * HOT-HUB GUARD (round 16 — the lshCandidatePairs cap-64
    * discipline applied to the wedge join): the raw fan-out is
    * Σ deg(z)², so on a power-law crawl/PPI graph one 10⁶-degree hub
    * emits 10¹² wedges. Each shared neighbor z therefore contributes
    * wedges only from its `maxFanout` LOWEST-ID neighbors (the native
    * map-side-pruned TopKPerKey operator — the hub's adjacency never
    * concentrates in one task), bounding the fan-out at
    * Σ min(deg z, maxFanout)². Documented truncation semantics: z's
    * dropped neighbors lose their wedge terms, so for pairs touching
    * an over-cap hub `common_neighbors` and the scores are LOWER
    * BOUNDS — each dropped AA term is ≤ 1/ln(maxFanout). Degrees in
    * the AA weight and the Jaccard denominator stay the TRUE degrees
    * (only candidate generation is truncated). Node ids must be
    * double-exact (< 2⁵³) for the deterministic lowest-id pick.
    */
  def linkPrediction(edgesIn: DataFrame, maxFanout: Int = 256): DataFrame = {
    require(maxFanout >= 2, s"maxFanout must be >= 2, got $maxFanout")
    val e = edgesIn.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .filter(col("a") < col("b")).distinct().scopedPersist()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // per-z adjacency capped to the maxFanout lowest-id neighbors
    val capped = graft.plans.TopKPlan.topKPerKey(
      sym.select(col("v").as("z"), col("u").as("n"),
        negate(col("u").cast("double")).as("__ns")),
      Seq("z"), "__ns", "n", maxFanout)
      .select(col("z"), col("n"))
      .scopedPersist() // consumers: both sides of the wedge join
    // wedges u—z—w with u < w; score terms quantized per shared z
    val wedges = capped.select(col("n").as("u"), col("z")).as("l")
      .join(capped.select(col("z"), col("n").as("w")).as("r"), "z")
      .filter(col("u") < col("w"))
      .join(deg.select(col("u").as("z"), col("deg").as("zdeg")), "z")
    val scored = wedges.groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(lit(1.0) / log(col("zdeg").cast("double")), 12)
          .cast(DecimalType(18, 12))).as("aa_dec"))
      .join(e.select(col("a").as("u"), col("b").as("w"),
        lit(1).as("__adj")), Seq("u", "w"), "left_anti")
    scored
      .join(deg.select(col("u"), col("deg").as("du")), "u")
      .join(deg.select(col("u").as("w"), col("deg").as("dw")), "w")
      .select(col("u"), col("w"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("du") + col("dw") - col("common_neighbors")).cast("double"), 6)
          .as("jaccard"),
        round(col("aa_dec").cast("double"), 6).as("adamic_adar"))
  }

  /** Degree assortativity coefficient (Newman, PRL 2002) of an
    * UNDIRECTED edge set given as canonical (a < b) pairs: the
    * Pearson correlation of the degrees at either end of an edge,
    * computed over the symmetric orientation (each edge counted in
    * both directions, the standard estimator — which also makes the
    * two endpoint marginals identical). Positive r = hubs link to
    * hubs (social graphs); negative = hubs link to leaves (PPI /
    * technological graphs) — the one-number summary a curation
    * pipeline logs next to triangle count and degeneracy to detect
    * link-farm topology shifts between crawls.
    *
    * Every moment (Σd₁, Σd₁², Σd₁d₂ over directed edge ends) is an
    * EXACT BIGINT sum of integer degrees, so the single final
    * correlation division is the only IEEE step — bit-identical in
    * any engine under any partitioning (the Welch/χ² discipline).
    * Plan shape: one degree groupBy + two |V|-row joins onto the
    * edge list (AQE broadcasts them when the node table fits) + one
    * 1-row aggregate; no window, no driver loop.
    */
  def assortativity(edgesIn: DataFrame): DataFrame = {
    val e = edgesIn.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .filter(col("a") < col("b")).distinct().scopedPersist()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("u"), col("deg").as("d1")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("d2")), "v")
      .agg(count(lit(1)).as("m2"),
        sum(col("d1")).as("s1"),
        sum(col("d1") * col("d1")).as("s11"),
        sum(col("d1") * col("d2")).as("s12"))
      .select(col("m2"),
        round(col("s1").cast("double") / col("m2"), 6).as("mean_end_deg"),
        round((col("m2") * col("s12") - col("s1") * col("s1")).cast("double") /
          (col("m2") * col("s11") - col("s1") * col("s1")).cast("double"), 6)
          .as("assortativity"))
  }
}

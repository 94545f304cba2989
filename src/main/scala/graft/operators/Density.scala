package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caching.ScopedPersist

/** SURVEY §2.3 — DENSITY-based clustering: grid-cell DBSCAN
  * (Ester et al. KDD'96). The clustering family so far is
  * centroid-shaped (k-means/IVF q62, nearest-centroid q125) or
  * graph-shaped (CC q59, LPA q233, k-core q244); DBSCAN finds
  * arbitrary-shape dense regions AND labels noise — the outlier
  * semantics centroid methods cannot express (every point gets a
  * centroid; DBSCAN is allowed to say "this is background").
  *
  * Exactness & scale shape: points live in integer micro-units, so
  * the ε-predicate is the exact integer compare
  * (Δx² + Δy² ≤ ε²) — no float distances anywhere. Neighbor pairs
  * generate through an ε-sized GRID: each point probes its 3×3
  * neighboring cells (a 9-row broadcast offset frame — no corpus
  * blow-up) and meets exactly the points that can possibly be within
  * ε, so candidate cost is Σ |cell|·|3×3 neighborhood| instead of
  * n² — the q31-LSH shape with a geometric key. Each unordered pair
  * is generated exactly once (probe side a, home-cell side b, a < b).
  * Core points (≥ minPts neighbors incl. self) cluster via the
  * pointer-jumping CC operator; border points attach to the minimum
  * neighboring core cluster (deterministic); the rest is noise.
  */
object Density {

  /** points: (id, x, y) in integer micro-units. Returns
    * (vec_id, role ∈ core|border|noise, cluster; noise = −1). */
  def dbscan2d(points: DataFrame, eps: Long, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1)
    val spark = points.sparkSession
    import spark.implicits._
    val p = points
      .select(col("id"), col("x"), col("y"),
        expr(s"(x + 10000000) div $eps").as("cx"),
        expr(s"(y + 10000000) div $eps").as("cy"))
      .scopedPersist() // consumers: probe side, home side, final spine
    val offsets = (for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx.toLong, dy.toLong))
      .toDF("dx", "dy")
    val probe = p.crossJoin(broadcast(offsets))
      .select(col("id").as("a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val pairs = probe
      .join(p.select(col("id").as("b"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("a") < col("b"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= eps * eps)
      .select(col("a"), col("b"))
      .scopedPersist() // consumers: degrees, core edges, border attach
    val sym = pairs.select(col("a").as("id"), col("b").as("nb"))
      .unionByName(pairs.select(col("b").as("id"), col("a").as("nb")))
    val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val core = p.select(col("id"))
      .join(deg, Seq("id"), "left")
      .filter(coalesce(col("deg"), lit(0L)) + 1 >= minPts)
      .select(col("id"))
      .scopedPersist() // consumers: core-edge semis, CC self-loops, role
    val coreEdges = pairs
      .join(core.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("id").as("b")), Seq("b"), "left_semi")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    // two-phase (large-star/small-star) CC: the eps-graph's giant
    // component is chain-shaped across space (diameter ~ range/eps),
    // where min-label pointer jumping needs ~20 rounds; the two-phase
    // step converges in 8 on the same edges (23.3 s -> 5.3 s at
    // sf0.1, identical labels by the operator's contract)
    // every core point also enters as a self-loop, so core points
    // without a core neighbor come back labeled with their own id
    val coreClusters = Dedup.connectedComponentsTwoPhase(coreEdges
        .unionByName(core.select(col("id").as("doc_a"), col("id").as("doc_b"))))
      .select(col("doc_id").as("id"), col("cluster_id").as("cluster"))
    val border = sym
      .join(core.select(col("id")), Seq("id"), "left_anti") // u not core
      .join(coreClusters.select(col("id").as("nb"), col("cluster")), "nb")
      .groupBy(col("id")).agg(min(col("cluster")).as("bcluster"))
    p.select(col("id").as("vec_id"))
      .join(coreClusters.select(col("id").as("vec_id"),
        col("cluster").as("ccluster")), Seq("vec_id"), "left")
      .join(border.select(col("id").as("vec_id"), col("bcluster")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("ccluster").isNotNull, lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("ccluster"), col("bcluster"), lit(-1L)).as("cluster"))
  }
}

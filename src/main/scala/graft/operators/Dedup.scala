package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.Caching.{LoopCheckpoint, ScopedPersist}

/** SURVEY.md §2.3 #30-33 — document deduplication at training-corpus
  * scale. All stages are shuffle-on-key DataFrame algebra: never
  * O(n²), no driver-side state, and every self-join is hot-bucket
  * bounded (see [[boundedBucketPairs]]).
  */
object Dedup {

  /** Exact dedup on normalized text: md5 group, keep lowest id.
    * One shuffle on the 128-bit hash; at 100 TB the hash key is
    * uniformly distributed so no skew handling is needed.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(concat_ws(" ", GraftFunctions.normWords(col(textCol)))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures: distinct (doc, shingle) → ONE md5 per
    * shingle; seed s's hash is the 4-hex-char slice at offset 4s
    * (16 independent bits per seed — the seed-salted-slice trick).
    * 8× fewer string hashes than hashing per (seed, shingle), same
    * plan shape, and still bit-reproducible in the DuckDB oracle as
    * `substr(md5(sh), seed*4+1, 4)`.
    *
    * The shuffle is on doc_id — the per-seed mins aggregate map-side,
    * so only ≤ docs rows cross the exchange regardless of shingle
    * count. For the no-oracle production path see
    * [[lshBandsNarrow]] (xxhash64, no exchange, no shingle rows).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int, nSeeds: Int): DataFrame = {
    require(nSeeds <= 8, s"seed slices are 4 hex chars of one md5: nSeeds <= 8, got $nSeeds")
    val hashed = docShingles(docs, idCol, textCol, shingleWidth)
      .select(col("doc_id"), md5(col("sh")).as("h"))
    val mins = (0 until nSeeds).map(s =>
      min(substring(col("h"), s * 4 + 1, 4)).as(s"mh_$s"))
    hashed
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until nSeeds).map(s => col(s"mh_$s")): _*)))
      .withColumnRenamed("pos", "seed")
      .withColumnRenamed("col", "minhash")
  }

  /** (doc_id, shingle) stream — the front of [[minhashSignatures]]
    * and of the aggregate band formulation the specs hold
    * [[lshBandsMd5Narrow]] against. Deliberately NOT deduplicated:
    * min() is duplicate-insensitive, so a distinct here would add a
    * full shuffle of the shingle stream for nothing — the grouped min
    * handles repeats map-side.
    * normWords is bound to a column before shingling (higher-order
    * lambdas disable subexpression elimination).
    */
  private[graft] def docShingles(docs: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      GraftFunctions.normWords(col(textCol)).as("ws"))
    if (shingleWidth == 1) words.select(col("doc_id"), explode(col("ws")).as("sh"))
    else words.select(col("doc_id"),
      explode(GraftFunctions.wordShingles(col("ws"), shingleWidth)).as("sh"))
  }

  /** EXACT set-similarity self-join by PREFIX FILTERING (AllPairs/
    * PPJoin — Bayardo WWW'07, Xiao'08), threshold t = tNum/tDen over
    * Jaccard on `shingleWidth`-word shingle SETS. The deterministic
    * alternative to MinHash-LSH: zero false negatives by
    * construction. Prefix principle: under any global token order,
    * J(A,B) ≥ t implies the first |s| − ⌈t·|s|⌉ + 1 tokens of each
    * share one; ordering by (df, token) puts the RAREST tokens in
    * the prefix so candidate cost is Σ df_prefix². All threshold
    * math is integer (⌈tN·n/tD⌉ = (tN·n + tD−1) div tD; J ≥ t ⇔
    * tD·inter ≥ tN·union; length filter tD·min ≥ tN·max) — no float
    * compares before the final display division. Verify counts exact
    * intersections by joining candidates back to the shingle table —
    * quadratic work strictly BEHIND the candidate generator. NOTE on
    * duplicate GROUPS: the exact join's output is inherently
    * quadratic in group size (a g-copy family emits C(g,2) pairs) —
    * that is the contract's cost, and the reason LSH+CC (q59) stays
    * the default at 100 TB while this runs on audit slices.
    */
  def setSimJoin(docs: DataFrame, idCol: String, textCol: String,
                 shingleWidth: Int, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum < tDen, s"threshold $tNum/$tDen out of (0,1)")
    // Shingles travel as 60-bit md5-derived LONG keys, never as
    // strings: the token table, the prefix inverted index and the
    // verify arrays all move 8-byte keys (the r14 stress measured the
    // string form at 37 GB shuffle on 501k docs — hashing the token
    // space is the difference between shipping text and shipping
    // keys). "Exact" rides the same md5-collision assumption as q30's
    // exact dedup, and BOTH engines hash identically, so the oracle
    // equality still proves the pipeline end to end.
    // Round 18 (guide §2.4 "remove shuffles outright"): the per-doc
    // sorted key array is built NARROWLY — distinct shingle set
    // (ShingleSet already dedups) → md5HexLong per element →
    // array_distinct (a same-doc 60-bit collision must collapse to
    // ONE key) → sort_array — so the old explode → distinct →
    // groupBy/collect_list spelling's TWO full exchanges of the token
    // table and its sort-aggregate disappear. The token table
    // re-derives from the persisted arrays by one explode and carries
    // `n`, so the prefix stage no longer joins docSets either.
    // Identical values end to end (same keys, same sorted arrays,
    // same counts) — q247 stays hash-green.
    val docSets = docs.select(col(idCol).as("doc_id"),
        sort_array(array_distinct(transform(
          GraftFunctions.shingleSet(
            GraftFunctions.normWords(col(textCol)), shingleWidth),
          w => GraftFunctions.md5HexLong(w, 1, 15)))).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"), col("hs"))
      .scopedPersist() // consumers: token-table derivations ×2 + verify join ×2
    val sh = docSets.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val pref = sh.join(dfc, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rn") <=
        col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("h"), col("n"))
    val cand = pref.as("pa")
      .join(pref.as("pb"), col("pa.h") === col("pb.h") &&
        col("pa.doc_id") < col("pb.doc_id"))
      .filter(col("pa.n") * tDen >= col("pb.n") * tNum &&
        col("pb.n") * tDen >= col("pa.n") * tNum)
      .select(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"))
      .distinct()
    cand
      .join(docSets.select(col("doc_id").as("a"), col("n").as("na"),
        col("hs").as("ha")), "a")
      .join(docSets.select(col("doc_id").as("b"), col("n").as("nb"),
        col("hs").as("hb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("n_inter"),
        col("na"), col("nb"))
      .select(col("a"), col("b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .select(col("a"), col("b"), col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union"), 6).as("jac"))
  }

  /** Oracle-reproducible LSH bands: band b's signature is the md5 of
    * its rowsPerBand [[minhashSignatures]] minima joined by ',', the
    * whole signature stage fused into ONE codegen'd kernel per
    * document (Md5BandSig) — the same md5-slice arithmetic as the
    * DuckDB oracles, but NO exchange, no sort-aggregate, and no
    * per-shingle row materialization before the bucket join. The
    * q31b/q59/q79/q103 front; bit-equality with the aggregate
    * formulation (doc_id groupBy over [[docShingles]]) is
    * spec-asserted (DedupSimilaritySpec).
    */
  def lshBandsMd5Narrow(docs: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int, nSeeds: Int, rowsPerBand: Int): DataFrame = {
    require(nSeeds <= 8, s"seed slices are 4 hex chars of one md5: nSeeds <= 8, got $nSeeds")
    require(nSeeds % rowsPerBand == 0, "nSeeds must be a multiple of rowsPerBand")
    docs
      .select(col(idCol).as("doc_id"),
        GraftFunctions.normWords(col(textCol)).as("__ws"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.md5BandSig(col("__ws"),
          shingleWidth, nSeeds, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_sig"))
  }

  /** FULLY NARROW LSH front: normalization, shingling, all per-seed
    * minima, and per-band signature folding happen inside ONE
    * codegen'd expression per document (MinHashBandSig) — no shingle
    * explode, no aggregate, no shuffle of any kind until the
    * candidate bucket join itself. At 100 TB this means the entire
    * signature stage is a single map pass over the corpus scan;
    * compare [[minhashSignatures]], whose oracle-reproducible md5
    * path pays one doc_id exchange. Output schema matches
    * [[lshBandsMd5Narrow]] (doc_id, band, band_sig) so
    * [[lshCandidatePairs]] consumes either interchangeably.
    */
  def lshBandsNarrow(docs: DataFrame, idCol: String, textCol: String,
                     shingleWidth: Int, nSeeds: Int, rowsPerBand: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        GraftFunctions.normWords(col(textCol)).as("__ws"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.minhashBandSig(col("__ws"),
          shingleWidth, nSeeds, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_sig"))

  /** Hot-bucket-bounded self-join: all docs sharing a bucket key
    * become candidate pairs, but a bucket with n > maxBucket members
    * emits its n−1 CHAIN pairs (consecutive by id) instead of all
    * n(n−1)/2 — linear, and connectivity-preserving, so downstream
    * connected-components still recovers the full duplicate group.
    * Without the guard a single boilerplate bucket of 10⁷ docs at
    * 100 TB would emit 10¹⁴ pairs; with it, 10⁷−1.
    */
  private def boundedBucketPairs(rows: DataFrame, bucketKeys: Seq[String],
      idCol: String, maxBucket: Int): DataFrame = {
    val keys = bucketKeys.map(col)
    val wOrd = Window.partitionBy(keys: _*).orderBy(col(idCol))
    // same partition+order spec for both window functions (the count
    // just widens the frame) ⇒ Catalyst evaluates them in a single
    // WindowExec over ONE shuffle+sort; both join branches below
    // reuse that partitioning
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val t = rows
      .withColumn("__bn", count(lit(1)).over(wAll))
      .withColumn("__rn", row_number().over(wOrd))
      .scopedPersist()
    def side(suffix: String, rnShift: Int): DataFrame =
      t.select(keys ++ Seq((col("__rn") + rnShift).as("__rn"), col("__bn"),
        col(idCol).as(s"doc_$suffix")): _*)
    val joinKeys = bucketKeys
    val small = {
      val a = side("a", 0).filter(col("__bn") <= maxBucket).drop("__rn", "__bn")
      val b = side("b", 0).filter(col("__bn") <= maxBucket).drop("__rn", "__bn")
      a.join(b, joinKeys).filter(col("doc_a") < col("doc_b"))
    }
    val chain = {
      val a = side("a", 0).filter(col("__bn") > maxBucket).drop("__bn")
      val b = side("b", -1).filter(col("__bn") > maxBucket).drop("__bn")
      a.join(b, joinKeys :+ "__rn").drop("__rn")
    }
    small.select(col("doc_a"), col("doc_b"))
      .unionByName(chain.select(col("doc_a"), col("doc_b")))
  }

  /** Candidate pairs = docs sharing any band signature. The join key
    * (band, band_sig) is high-cardinality ⇒ well-distributed shuffle;
    * oversized buckets (mass-duplicated boilerplate) degrade to chain
    * pairs — linear output, same transitive closure.
    */
  def lshCandidatePairs(bandsIn: DataFrame, maxBucket: Int = 64): DataFrame =
    boundedBucketPairs(bandsIn, Seq("band", "band_sig"), "doc_id", maxBucket)
      .distinct()

  /** Incremental dedup: flag each batch doc against (1) a persisted
    * corpus band index and (2) earlier docs in its own batch, WITHOUT
    * recomputing corpus signatures — the daily-increment shape at
    * 100 TB, where re-running full-corpus dedup per ingest is a
    * non-starter. The index side collapses to ONE row per
    * (band, band_sig) bucket (the bucket's min doc id), so the probe
    * join is bounded at nBands rows per batch doc and no index bucket
    * can explode; in production that aggregate IS the stored index —
    * mergeable (min of mins), append-only, bucketed on band_sig so
    * daily probes are co-located shuffle-free joins. Batch-internal
    * dups reuse the bucket-min trick (join each doc to its bucket's
    * min id, flag if min < self): no O(bucket²) pair generation
    * anywhere in the operator.
    *
    * Returns one row per batch doc: (doc_id, status, dup_of) with
    * status ∈ dup_index | dup_batch | keep; dup_index wins when both
    * apply, dup_of is the smallest matching id on the winning side.
    */
  def incrementalLshDedup(index: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          shingleWidth: Int = 3, nSeeds: Int = 8,
                          rowsPerBand: Int = 4): DataFrame =
    probeBatch(
      bandIndex(index, idCol, textCol, shingleWidth, nSeeds, rowsPerBand, lshBandsMd5Narrow),
      batch, idCol, textCol, shingleWidth, nSeeds, rowsPerBand, lshBandsMd5Narrow)

  /** The persisted index shape for incremental dedup: ONE min-id row
    * per (band, band_sig). Mergeable (min of mins) and append-only,
    * so generations written by successive ingests coexist and are
    * re-aggregated at read time. `bandsOf` picks the signature
    * family: [[lshBandsMd5Narrow]] (oracle-reproducible) or
    * [[lshBandsNarrow]] (production: zero-shuffle codegen'd front).
    */
  def bandIndex(corpus: DataFrame, idCol: String, textCol: String,
                shingleWidth: Int, nSeeds: Int, rowsPerBand: Int,
                bandsOf: (DataFrame, String, String, Int, Int, Int) => DataFrame): DataFrame =
    bandsOf(corpus, idCol, textCol, shingleWidth, nSeeds, rowsPerBand)
      .groupBy(col("band"), col("band_sig"))
      .agg(min(col("doc_id")).as("idx_min"))

  /** Probe a batch against a prebuilt [[bandIndex]] — the inner step
    * of [[incrementalLshDedup]], exposed for the streaming wrapper
    * (graft.streaming.DedupStream), which reuses it per micro-batch.
    */
  private[graft] def probeBatch(idxMin: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                shingleWidth: Int, nSeeds: Int, rowsPerBand: Int,
                                bandsOf: (DataFrame, String, String, Int, Int, Int) => DataFrame): DataFrame = {
    val batchBands = bandsOf(batch, idCol, textCol, shingleWidth, nSeeds, rowsPerBand)
      .scopedPersist()
    val vsIndex = batchBands.join(idxMin, Seq("band", "band_sig"))
      .groupBy(col("doc_id")).agg(min(col("idx_min")).as("dup_of_index"))
    val batchMin = batchBands.groupBy(col("band"), col("band_sig"))
      .agg(min(col("doc_id")).as("bat_min"))
    val vsBatch = batchBands.join(batchMin, Seq("band", "band_sig"))
      .filter(col("bat_min") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("bat_min")).as("dup_in_batch"))
    batch.select(col(idCol).as("doc_id"))
      .join(vsIndex, Seq("doc_id"), "left")
      .join(vsBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of_index").isNotNull, lit("dup_index"))
          .when(col("dup_in_batch").isNotNull, lit("dup_batch"))
          .otherwise(lit("keep")).as("status"),
        coalesce(col("dup_of_index"), col("dup_in_batch")).as("dup_of"))
  }

  /** Exact n-gram Jaccard for a set of candidate pairs: explode both
    * sides' distinct shingles, count intersection via join, union by
    * inclusion–exclusion. Pure integer arithmetic until one final
    * double division.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
                   textCol: String, shingleWidth: Int): DataFrame = {
    // Shingle SETS stay packed as per-doc arrays: the whole derivation
    // is narrow (no explode, no distinct shuffle), and the pair join
    // moves one array-valued row per doc instead of |shingles| rows.
    // Intersection/union are then O(|set|) array ops per pair.
    // ShingleSet is a plain unary kernel, so norm+shingle+distinct is
    // ONE collapse-safe projection; the single persist exists only so
    // the a/b join sides share the materialization.
    val sets = docs
      .select(col(idCol).as("doc_id"),
        GraftFunctions.shingleSet(GraftFunctions.normWords(col(textCol)),
          shingleWidth).as("shset"))
      .filter(size(col("shset")) > 0)
      .scopedPersist()
    val a = sets.select(col("doc_id").as("doc_a"), col("shset").as("set_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("shset").as("set_b"))
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("n_inter"),
        size(col("set_a")).cast("long").as("n_a"),
        size(col("set_b")).cast("long").as("n_b"))
      .withColumn("jaccard",
        // round(.,6): engine-version-robust repr (see SURVEY §5)
        round(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 6))
  }

  /** All near-dup pairs (doc_a < doc_b, hamming) with
    * hamming(simhash) ≤ maxHamming ≤ 3 over [[simhashTable]]
    * signatures, via the native Manku 3-of-6 block-key self-join
    * ([[graft.plans.HammingJoinPlan.simhashPairs]]: one shuffle,
    * bucket-local pair dedup). Buckets over `maxBucket` members (mass
    * duplicates ⇒ identical signatures) degrade to linear chain pairs
    * that keep the group connected. The id is widened to bigint, the
    * exec's id type.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int, maxBucket: Int = 64): DataFrame =
    graft.plans.HammingJoinPlan.simhashPairs(
      simhashTable(docs, idCol, textCol).withColumn("doc_id", col("doc_id").cast("long")),
      "doc_id", "simhash", maxHamming, maxBucket)

  /** Diagnostic only (Stress's `cc_rounds`): rounds the most recent CC run took. */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Connected components over a pair list: the cluster step of
    * near-dup dedup — transitive closure of LSH candidate pairs, every
    * node labeled with its component's minimum id (one canonical id
    * per duplicate group). The two-phase alternating LARGE-STAR /
    * SMALL-STAR algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC'14); on the stress corpus it beat
    * min-label propagation with pointer jumping (SURVEY §31b).
    *
    * Per iteration, from the current edge multiset E (kept with
    * u > v invariant after small-star; mixed after large-star):
    *  - large-star: group the symmetric neighborhood by u, m =
    *    min(u, min Γ(u)); re-hang every LARGER neighbor v > u on m.
    *  - small-star: group by u over smaller neighbors (v < u), m =
    *    min Γ₍₋₎(u); re-hang u and its smaller neighbors on m.
    * Both steps strictly flatten trees toward stars; the fixed point
    * is a star forest whose centers are component minima. Convergence
    * is detected every 2nd round by an (edge count, order-invariant
    * xxhash64 XOR) signature going stable — one driver action per
    * round pair, and the driver only ever sees those two scalars.
    *
    * Block lifetime: each round's edges ride
    * [[graft.Caching.loopCheckpoint]] (flat Catalyst plan; lineage
    * otherwise grows until plan construction blows the driver heap);
    * each convergence check materializes the newest round, and every
    * older round's blocks are then released — at 100 TB a 50-round run
    * must not retain 50 copies. The loop's pair/node persists are
    * unpersisted before returning, and the returned labels are a
    * materialized checkpoint.
    */
  def connectedComponentsTwoPhase(pairsIn: DataFrame, maxIter: Int = 50): DataFrame = {
    val pairs = pairsIn.scopedPersist()
    val nodes = pairs.select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node")))
      .distinct()
      .scopedPersist()
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .loopCheckpoint(true)
    var superseded = List.empty[DataFrame]
    var sig = (-1L, 0L)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (round 18: measured an explicit repartition(u) here so the
      // groupBy and the large-star join share one exchange — SLOWER on
      // every CC consumer (q59 2.35→3.4 s, q79 2.6→2.9 s, q258 mixed):
      // AQE broadcast-converts the mins side anyway, so the repartition
      // only added a round-trip. Reverted — an r17 co-partitioning
      // experiment on the earlier min-label CC failed the same way.)
      val sym = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      // Round 17 (guide §2.4): no distinct between the stars — the
      // small-star min is duplicate-insensitive and the round ends in
      // a distinct anyway, so deduping large-star output bought one
      // full exchange per round for nothing (duplicates cannot
      // compound across rounds: every round's output IS deduped).
      // Round 18 (guide §3.1): each star's "group-min joined back onto
      // the same rows" is ONE partitioned window, not an aggregate +
      // self-join — m = least(u, min Γ(u)) per row is min(v) OVER
      // (PARTITION BY u). Identical values (a window min IS the group
      // min); per round this drops both join stages, and at real scale
      // it replaces [agg-shuffle + SMJ re-shuffle of the edge table —
      // a |V|-row mins side does not broadcast at 100 TB] with a
      // single edge-sized exchange+sort per star. Window groups are
      // degree-sized (spillable), the same buffering profile the SMJ
      // alternative had.
      val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      val large = sym
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      val small = large
        .withColumn("m", min(col("v")).over(wU))
        .select(col("u"), col("v"), col("m"))
        .select(
          // u hangs on m, and each smaller neighbor v (≠ m) hangs on m
          array(struct(col("u").as("a"), col("m").as("b")),
            struct(col("v").as("a"), col("m").as("b"))).as("es"))
        .select(explode(col("es")).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .loopCheckpoint(false)
      superseded ::= edges
      i += 1
      // convergence check every 2nd round: one driver action per
      // round pair, at most two redundant rounds. Signature is order-invariant and overflow-free:
      // count + XOR of row hashes (a SUM of hashes overflows long
      // under ANSI mode). At the star-forest fixed point the edge set
      // is literally identical round to round, so a stable signature
      // across the 2-round stride is the fixed point.
      if (i % 2 == 0 || i >= maxIter) {
        val s = small.agg(count(lit(1)), coalesce(
          expr("bit_xor(xxhash64(u, v))"), lit(0L))).head
        val newSig = (s.getLong(0), s.getLong(1))
        converged = newSig == sig
        sig = newSig
        superseded.foreach(graft.Caching.releaseCheckpoint)
        superseded = Nil
      }
      edges = small
    }
    lastCcRounds.set(i)
    // fixed point: a star forest (u → component min). Nodes that are
    // centers (or isolated among the pairs) label themselves. The
    // label extraction materializes eagerly so the RETURNED frame is a
    // self-contained checkpoint read (1 exchange in every consumer's
    // plan); the CC loop has
    // already run jobs at construction, so this adds one node-sized
    // job, not a new execution phase.
    val out = nodes
      .join(edges.select(col("u").as("node"), col("v").as("label")),
        Seq("node"), "left")
      .groupBy(col("node"))
      .agg(coalesce(min(col("label")), first(col("node"))).as("cluster_id"))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .loopCheckpoint(true)
    graft.Caching.releaseCheckpoint(edges)
    nodes.unpersist(false)
    pairs.unpersist(false)
    out
  }

  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      GraftFunctions.simhash64(GraftFunctions.normWords(col(textCol))).as("simhash"))

  /** [[simhashTable]] with md5-bit token hashes — same vote scheme,
    * DuckDB-reproducible (see TextOps.simhash64Md5). */
  def simhashTableMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      GraftFunctions.simhashMd5(GraftFunctions.normWords(col(textCol))).as("simhash"))

  /** Span-level duplicate detection (round 8) — the windowed
    * approximation of suffix-array ExactSubstr dedup ("Deduplicating
    * Training Data Makes Language Models Better"): doc-level dedup
    * misses the boilerplate / license header / template PARAGRAPHS
    * that repeat across otherwise-distinct documents, and those
    * repeated spans are what the model memorizes.
    *
    * Each doc is cut into `window`-token windows on a `stride` grid
    * and each window is md5-fingerprinted; a repeated span collides
    * on its grid windows when its occurrences sit at offsets
    * CONGRUENT mod `stride` (always true for position-templated
    * boilerplate — headers, footers, license blocks — and for whole-
    * doc copies). For offset-ROBUST span detection use
    * [[winnowedFingerprints]]; the grid variant is the cheaper pass
    * (fan-out len/stride vs len) and counts occurrences exactly.
    *
    * Plan shape: tokenize + window expansion are NARROW (fan-out
    * len/stride per doc, arithmetic, no join); then ONE shuffle on the
    * fingerprint with partial aggregation. Output is aggregate-only
    * (counts + min doc), never a per-hash doc list — a boilerplate
    * span repeated in 10^9 docs is one row, not a hot-key list.
    */
  def spanFingerprints(docs: DataFrame, idCol: String, textCol: String,
                       window: Int = 20, stride: Int = 10): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    docs
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= window)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - window,
          lit(stride))).as("__s"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__s") + 1, lit(window)))).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Winnowing fingerprints (round 8) — offset-robust span-level
    * duplicate detection (the MOSS algorithm): hash every k-token
    * gram, then in every window of w consecutive gram hashes select
    * the MINIMUM hash. The winnowing theorem guarantees any repeated
    * run of ≥ w+k−1 tokens shares at least one selected fingerprint
    * REGARDLESS of where it sits in each document — the guarantee the
    * [[spanFingerprints]] grid cannot give (it needs offsets congruent
    * mod stride), at ~1/stride more candidate hashes.
    *
    * Plan shape: fingerprint selection is one NARROW codegen'd kernel
    * call per doc ([[graft.functions.WinnowOps.winnow]] — monotonic-
    * deque sliding min, O(len) per doc where the compositional
    * `transform`+`array_min(slice)` spelling is O(len·w)); the only
    * shuffle in the operator is the final fingerprint groupBy
    * (partial-agg, uniform md5 key). No per-doc window function.
    */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, w: Int = 13): DataFrame =
    fingerprintAgg(winnowDocFingerprints(docs, idCol, textCol, k, w))

  /** Per-doc winnowing fingerprints (doc_id, fp) — the probe/index
    * primitive [[graft.streaming.SpanStream]] builds on. Fully narrow
    * (one kernel call + explode per doc). */
  def winnowDocFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, w: Int = 13): DataFrame =
    tokenized(docs, idCol, textCol, minLen = k + w - 1)
      .select(col("doc_id"),
        explode(GraftFunctions.winnow(col("__toks"), k, w)).as("fp"))

  /** Exact-substring dedup with SPAN EXTENTS (round 9) — the Lee et
    * al.'21 ExactSubstr operator ("Deduplicating Training Data Makes
    * Language Models Better", §4.1): report the exact boundaries of
    * every maximal token run that is part of some substring of length
    * ≥ L occurring more than once in the corpus. The fingerprint
    * passes prove a repeat EXISTS ([[spanFingerprints]] needs offsets
    * congruent mod stride; [[winnowedFingerprints]] needs runs
    * ≥ w+k−1) but report hash collisions, not extents — this is the
    * operator a cut-the-span-out pipeline actually needs, and it
    * catches any threshold L.
    *
    * Suffix-array-free distributed formulation: every L-gram position
    * keys by its gram hash; a hash occurring ≥ 2 times corpus-wide
    * (cross-doc or within-doc — both memorizable) marks its positions
    * covered; each covered start p contributes the token interval
    * [p, p+L−1], and overlapping-or-abutting intervals per doc merge
    * into maximal spans (two starts p < q share a span iff q−p ≤ L).
    * A repeated substring of length s ≥ L yields s−L+1 consecutive
    * covered starts, so its merged extent is exactly the repeated run;
    * distinct repeats that overlap or abut union into one span — the
    * same all-duplicated-bytes semantics as the paper's cut step.
    *
    * Plan shape: L-gram fan-out is NARROW (len rows/doc); duplicate
    * detection is ONE aggregate-only shuffle on the uniform gram key
    * ([[gramHash]]: an 8-byte xxhash64 long in production, md5 on the
    * oracle path — never a doc list per hash); the hit join re-shuffles grams on
    * the same key; island-merge is one doc-keyed window whose
    * partitioning the final groupBy REUSES (doc_id ⊂ group key ⇒ no
    * 4th exchange). O(corpus tokens) rows end to end — the suffix
    * array of the single-node original replaced by hash shuffles.
    *
    * Returns (doc_id, span_start, span_end, span_len): 1-based
    * inclusive token indices per maximal duplicated span.
    */
  def exactSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 15, longKeys: Boolean = true): DataFrame = {
    // Round 18 (guide §2.5/§1.2): the stride-1 gram-hash pass is the
    // dominant per-row compute and the token table is consumed by BOTH
    // the duplicate-count branch and the hit join — fan the tokenized
    // front to session parallelism (no-op at real scale) so the hash
    // pass runs wide, and the fan-out exchange is REUSED by the two
    // branches instead of re-tokenizing per branch. Downstream is
    // partitioning-invariant (hash groupBy + per-doc windows).
    import graft.Caching.FanOut
    val grams = tokenized(docs, idCol, textCol, minLen).fanOutSmallScan()
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (minLen - 1))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        gramHash(col("__toks"), col("pos"), minLen, longKeys).as("h"))
    val dupHashes = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2).select(col("h"))
    val hits = grams.join(dupHashes, "h").select(col("doc_id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(w)
    hits
      .withColumn("__new",
        (prev.isNull || (col("pos") - prev) > minLen).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minLen - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** SUFFIX-ARRAY-GRADE exact-substring dedup (round 16 — the Lee et
    * al.'21 "ExactSubstr" tier with full occurrence attribution):
    * every MAXIMAL exact match of ≥ `minLen` whitespace tokens
    * between two occurrence sites in the corpus, reported as
    * (doc_a, start_a, doc_b, start_b, match_len) — the output a
    * generalized suffix array yields by scanning rank-adjacent
    * suffixes for LCPs ≥ L (the MEM enumeration of MUMmer /
    * Manber–Myers'90). q156 reports only which token spans are
    * COVERED by some repeat; this reports each repeated substring
    * itself, with both extents and its exact maximal length — no
    * fixed grid, no chosen width.
    *
    * Construction — anchor-hash + aligned-run merging, the
    * DataFrame-native equivalent of the suffix-array scan (SA-IS /
    * suffix-automaton construction is pointer-chasing and hostile to
    * DataFrame expression, the HNSW argument): a match of length
    * m ≥ L between sites a and b ⟺ a run of m−L+1 CONSECUTIVE
    * positions whose L-gram hashes ([[gramHash]]) collide at alignment offset
    * delta = pos_b − pos_a. So: stride-1 L-grams (one row per token,
    * the q149/q156 front), keep hashes with 2..maxOccurrences
    * occurrences, pair occurrences within a hash group (ordered, so
    * each unordered site pair appears once), then merge runs of
    * consecutive pos_a per (doc_a, doc_b, delta). Run maximality is
    * token-level maximality: the gram one left/right of a run edge
    * matches iff the single boundary token matches (its other L−1
    * tokens lie inside the matched region) — hence every emitted
    * extent is exactly non-extendable.
    *
    * Scale shape: the gram front is narrow (one hash per token —
    * an 8-byte xxhash64 long by default, the round-17 long-key cut;
    * md5 on the oracle path, see [[gramHash]]); the only shuffles
    * are the occurrence-count groupBy, the pair
    * self-join on the uniform gram key, and the per-(doc_a,
    * doc_b, delta) run-merge window — each window partition is
    * bounded by a single document's length. The pair fan-out is
    * Σ min(occ, maxOccurrences)² per gram: grams hotter than
    * `maxOccurrences` (corpus boilerplate — license headers, nav
    * chrome) are DROPPED, the lshCandidatePairs cap discipline;
    * matches running through an over-cap gram split or vanish, a
    * documented one-sided degradation (q156's coverage spans and
    * q31's LSH+CC remain the recall paths for boilerplate-heavy
    * corpora).
    */
  def maximalExactMatches(docs: DataFrame, idCol: String, textCol: String,
                          minLen: Int = 15,
                          maxOccurrences: Int = 64,
                          longKeys: Boolean = true): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxOccurrences >= 2, s"maxOccurrences >= 2, got $maxOccurrences")
    // (round 18: measured a fanOutSmallScan on this front — unlike
    // exactSubstrSpans, the grams here are PERSISTED, so the hash pass
    // runs once either way and the fan-out exchange only added a round
    // trip: q323 1.17 → 1.67 s bench. Reverted; the q156 front keeps
    // it because its two consumer branches REUSE the fan-out exchange.)
    val grams = tokenized(docs, idCol, textCol, minLen)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (minLen - 1))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        gramHash(col("__toks"), col("pos"), minLen, longKeys).as("h"))
      .scopedPersist() // consumers: occurrence counts + both pair sides
    val dupHashes = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxOccurrences)
      .select(col("h"))
    val occ = grams.join(dupHashes, "h")
    val pairs = occ.select(col("h"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"))
      .join(occ.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), "h")
      .filter(col("doc_a") < col("doc_b") ||
        (col("doc_a") === col("doc_b") && col("pos_a") < col("pos_b")))
      .withColumn("delta", col("pos_b") - col("pos_a"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("delta"))
      .orderBy(col("pos_a"))
    val prev = lag(col("pos_a"), 1).over(w)
    pairs
      .withColumn("__new", (prev.isNull || col("pos_a") - prev > 1).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("delta"), col("__grp"))
      .agg(min(col("pos_a")).as("start_a"), max(col("pos_a")).as("__last"))
      .select(col("doc_a"), col("start_a"),
        col("doc_b"), (col("start_a") + col("delta")).as("start_b"),
        (col("__last") - col("start_a") + minLen).as("match_len"))
  }

  /** APPLY step for [[maximalExactMatches]] (round 16 — the Lee et
    * al.'21 cut: every repeated substring ≥ L tokens survives only at
    * its globally FIRST occurrence; all later occurrences are cut out
    * of their documents). The q79-applies-q59 composition pattern for
    * the suffix tier: q323 reports the matches, this rewrites the
    * corpus.
    *
    * Every MEM pair is emitted with sites ordered by (doc, pos), so
    * the set of LATER sites — the b-sides — is exactly the set of
    * non-first occurrences: cutting all b-side spans keeps each
    * repeated substring's first site and nothing else repeated ≥ L
    * survives (modulo the documented hot-gram occurrence cap).
    * Overlapping/nested cut intervals merge per doc (running-max-end
    * islands — per-doc windows, bounded by one document's length);
    * token rows anti-join the cut positions and documents reassemble
    * in position order (whitespace normalized to single spaces — the
    * paragraphDedup reassembly contract).
    *
    * Output per document (ALL documents, including short/uncut ones):
    * token counts, spans/tokens cut, and the cleaned text's length +
    * md5 digest (the q204 discipline — oracle-checkable byte-for-byte
    * without hauling megabyte strings through the compare).
    */
  def applyMemDedup(docs: DataFrame, idCol: String, textCol: String,
                    minLen: Int = 15,
                    maxOccurrences: Int = 64,
                    longKeys: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mems = maximalExactMatches(docs, idCol, textCol, minLen,
      maxOccurrences, longKeys)
    val spans = mems.select(col("doc_b").as("doc_id"),
      col("start_b").as("s"),
      (col("start_b") + col("match_len")).as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e").desc)
    val merged = spans
      .withColumn("pmax", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        (col("pmax").isNull || col("s") > col("pmax")).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .scopedPersist() // consumers: cut positions + span counts
    // SHUFFLE_HASH, not broadcast: cutPos is O(tokens cut) — the
    // explode multiplies the compact interval rows AFTER the exchange
    // AQE reads its size estimate from, so at stress scale (501k docs,
    // 1.24M MEMs) the "small" side is really tens of millions of rows
    // and the auto-broadcast build OOMs the driver. Shuffled on
    // (doc_id, pos) both sides partition evenly; the per-partition
    // hash build is corpus/parts — the scale-correct plan.
    val cutPos = merged.select(col("doc_id"),
      explode(sequence(col("s"), col("e") - 1)).as("pos"))
      .hint("shuffle_hash")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(filter(split(col(textCol), " "), t => t =!= "")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tok"))
      .scopedPersist() // consumers: totals + the kept side
    val totals = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val kept = toks.join(cutPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("tok")))), x => x.getField("tok")), " ")
          .as("clean"))
    val nSpans = merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("spans_cut"))
    docs.select(col(idCol).as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .join(nSpans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L))
          - coalesce(col("n_kept"), lit(0L))).as("tokens_cut"),
        coalesce(col("spans_cut"), lit(0L)).as("spans_cut"),
        length(coalesce(col("clean"), lit(""))).cast("long").as("clean_len"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }

  /** Site rank packing for the MEM index: one long per (doc, pos) so
    * the "globally first site" argmin is a plain associative MIN —
    * the paragraphDedup rank discipline. 10⁹ positions per doc bounds
    * doc_id at ~9.2·10⁹ before overflow (both far beyond any corpus
    * this library meets; a require guards the pos side).
    */
  private[graft] val memPosBase = 1000000000L

  /** INCREMENTAL MEM INDEX (round 17 — the q103/SpanStream
    * generational discipline applied to the q323 suffix tier): the
    * corpus-side state is ONE row per distinct L-gram hash holding
    * the gram's globally FIRST site, packed as
    * rank = doc_id·10⁹ + pos. min(rank) is associative, so
    * generations append per batch and min-merge exactly like the
    * q103 band index — a new batch probes "does any of my documents
    * share a ≥ minLen-token run with the lake" at DELTA cost: one
    * narrow gram front over the batch + one equi-join against the
    * index, never a recompute over lake text.
    */
  def memIndexMinSites(docs: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 15, longKeys: Boolean = true): DataFrame =
    tokenized(docs, idCol, textCol, minLen)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (minLen - 1))).as("pos"))
      .select(
        gramHash(col("__toks"), col("pos"), minLen, longKeys).as("h"),
        (col("doc_id") * memPosBase + col("pos")).as("rank"))
      .groupBy(col("h")).agg(min(col("rank")).as("rank"))

  /** Probe a batch against a min-merged MEM index frame (`(h, rank)`
    * from [[memIndexMinSites]], min-of-mins across generations):
    * every maximal run of consecutive batch positions whose gram is
    * HELD by the lake at a consistent alignment diagonal against the
    * gram's indexed FIRST site, reported as
    * (doc_id, start, lake_doc, lake_start, match_len ≥ minLen) —
    * q323's MEM shape, one-sided (the lake side is always the
    * indexed first occurrence).
    *
    * COVERAGE guarantee (one-sided, documented): every batch token
    * inside a run of ≥ minLen tokens shared with the lake is covered
    * by some reported match — each shared L-gram alone yields a
    * ≥ minLen extent. Extents may FRAGMENT relative to the true MEM
    * when consecutive grams' first lake sites disagree (a substring
    * whose prefix also occurs earlier elsewhere): the diagonal
    * breaks, the run splits, nothing is lost — the q156-grade
    * coverage contract with q323-grade attribution. The full
    * two-sided MEM enumeration within a batch stays
    * [[maximalExactMatches]]'s job.
    *
    * Plan shape: narrow gram front over the BATCH only; one
    * equi-join on the uniform gram key (at cluster scale the index
    * is hash-bucketed on h ⇒ co-partitioned join, only the batch
    * side shuffles — the ScaleSpec bucketed-probe discipline); the
    * run-merge window partitions by (doc, lake_doc, delta), bounded
    * by one batch document's length.
    */
  def memProbe(index: DataFrame, batch: DataFrame,
               idCol: String, textCol: String,
               minLen: Int = 15, longKeys: Boolean = true): DataFrame = {
    val grams = tokenized(batch, idCol, textCol, minLen)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (minLen - 1))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        gramHash(col("__toks"), col("pos"), minLen, longKeys).as("h"))
    val hits = grams.join(index.select(col("h"), col("rank")), "h")
      .select(col("doc_id"), col("pos"),
        // `div`, not `/`: Column / is IEEE double division, which
        // silently loses low bits once rank exceeds 2⁵³ — long
        // integer division unpacks exactly at any doc_id
        expr(s"rank div ${memPosBase}L").as("lake_doc"),
        (col("rank") % memPosBase).as("lake_pos"))
      .withColumn("delta", col("lake_pos") - col("pos"))
    val w = Window.partitionBy(col("doc_id"), col("lake_doc"), col("delta"))
      .orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(w)
    hits
      .withColumn("__new", (prev.isNull || col("pos") - prev > 1).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("lake_doc"), col("delta"), col("__grp"))
      .agg(min(col("pos")).as("start"), max(col("pos")).as("__last"))
      .select(col("doc_id"), col("start"),
        col("lake_doc"), (col("start") + col("delta")).as("lake_start"),
        (col("__last") - col("start") + minLen).as("match_len"))
  }

  /** The L-gram shuffle key for the exact-substring family (round 17
    * — the q247 long-key discipline applied to the gram front).
    *
    * `longKeys = true` (production default): `xxhash64` over the
    * token-slice ARRAY — one codegen'd 8-byte long per gram, no
    * concatenated gram string and no 32-hex md5 materialized at all.
    * The key was the fat constant of the tier: every gram row carries
    * it through the occurrence-count groupBy, the persisted gram
    * cache, and BOTH sides of the pair self-join, so a 40-byte
    * UnsafeRow string vs an 8-byte long is a ~3-5× cut on the
    * operator's total shuffle volume (measured: STRESS_r17). A
    * 64-bit collision between two DIFFERENT grams fabricates one
    * spurious anchor (an ≥ minLen false MEM if isolated); expected
    * spurious pairs ≈ G²/2⁶⁵ over G corpus grams — ~3 per 10¹⁰-gram
    * corpus, the documented one-sided cost of the long path.
    *
    * `longKeys = false`: the md5 hex string — 128-bit, collision-free
    * for practical purposes, and EXPRESSIBLE IN DuckDB, so it is the
    * path every oracle SQL mirrors; q156/q323/q324 pin it to keep the
    * engine-vs-oracle compare a comparison of identical functions.
    * Round17Spec pins the two paths' emitted output bit-equal on the
    * planted MEM corpus.
    *
    * Tokens contain no spaces (whitespace split), so the md5 path's
    * `concat_ws(" ")` is injective on token sequences — both keys
    * collide exactly on gram equality (modulo hash collisions).
    */
  private def gramHash(toks: Column, pos: Column, minLen: Int,
                       longKeys: Boolean): Column =
    if (longKeys) xxhash64(slice(toks, pos, lit(minLen)))
    else md5(concat_ws(" ", slice(toks, pos, lit(minLen))))

  private[graft] def tokenized(docs: DataFrame, idCol: String, textCol: String,
                        minLen: Int): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    docs
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= minLen)
  }

  /** Paragraph-level exact dedup with document reassembly (the
    * RefinedWeb / Falcon curation step): across the WHOLE corpus,
    * each distinct paragraph survives only at its globally first
    * occurrence — ordered by (doc_id, position) — and every document
    * is rebuilt from its surviving paragraphs in original order.
    * Catches the boilerplate/quote reuse that document-level exact
    * dedup (q30) misses without the fuzziness of MinHash.
    *
    * Shuffle budget: paragraph-hash groupBy (keeper election, uniform
    * 128-bit key) → hash equi-join back (AQE broadcasts the keeper
    * table when it fits; both sides shuffle on the same uniform key
    * otherwise) → per-doc rollup. Three exchanges total, all on
    * uniform keys — no skew handling needed at 100 TB. The keeper
    * rank is doc_id·10^5 + position packed into one long so the
    * argmin is a plain MIN, not a struct comparison.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    val posBase = 100000L
    val paras = docs
      .select(col(idCol).as("doc_id"),
        when(col(textCol) === "", array().cast("array<string>"))
          .otherwise(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as("__paras"))
      .select(col("doc_id"), posexplode(col("__paras")))
      .select(col("doc_id"), col("pos"),
        md5(col("col")).as("h"), col("col").as("para"),
        (col("doc_id") * posBase + col("pos")).as("rank"))
      .scopedPersist() // keeper election AND the join-back read it
    val keepers = paras.groupBy(col("h")).agg(min(col("rank")).as("min_rank"))
    paras.join(keepers, "h")
      .withColumn("__kept", (col("rank") === col("min_rank")).cast("int"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(col("__kept")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__kept") === 1,
            struct(col("pos"), col("para"))))),
          x => x.getField("para")), sep).as("__new_text"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(md5(col("__new_text"))).as("new_hash"))
  }

  private[graft] def fingerprintAgg(perDocFps: DataFrame): DataFrame =
    perDocFps
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
}

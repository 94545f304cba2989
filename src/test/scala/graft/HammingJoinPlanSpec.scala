package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.{HammingBlocks, HammingJoinPlan, HammingSelfJoinExec}
import graft.queries.TextQueries

class HammingJoinPlanSpec extends SparkSpecBase {

  /** The exec's `numOverCapBuckets` metric after `pairs` has run. */
  private def overCapBuckets(pairs: org.apache.spark.sql.DataFrame): Long =
    new AdaptiveSparkPlanHelper {}
      .collectFirst(pairs.queryExecution.executedPlan) { case e: HammingSelfJoinExec => e }
      .getOrElse(fail("HammingSelfJoinExec missing from the plan"))
      .metrics("numOverCapBuckets").value

  test("native hamming self-join plans HammingSelfJoinExec with no SQL-level shuffle") {
    val df = TextQueries.queries("q110_simhash_pairs_native")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HammingSelfJoin"), s"custom exec missing:\n$plan")
    // the one fan-out shuffle lives INSIDE the exec (RDD-level); the
    // SQL plan below the top-level orderBy must contain no Exchange,
    // no Window, no Join and no pair-set distinct
    val body = plan.split("HammingSelfJoin", 2)(1)
    assert(!body.contains("Exchange"), s"unexpected SQL shuffle below the exec:\n$plan")
    assert(!plan.contains("Window"), "fell back to the window formulation")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
      "fell back to a join formulation")
  }

  test("q110 and q32b equal a brute-force all-pairs hamming scan") {
    def pairsOf(q: String) = TextQueries.queries(q)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val native = pairsOf("q110_simhash_pairs_native")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val sigs = Dedup.simhashTableMd5(planted, "doc_id", "text")
    val a = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("hb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(native.nonEmpty, "pair search found nothing — test data degenerate")
    assert(native == brute, "native hamming join diverged from brute force")
    assert(pairsOf("q32b_simhash_pairs") == brute)
  }

  test("recall 1.0 on seeded bit flips at hamming <= 3") {
    import spark.implicits._
    // 500 planted near-dups: doc i's sig XOR a mask of <= 3 bits —
    // every (i, i + 10000) pair is at hamming <= 3 by construction and
    // MUST come back (pigeonhole guarantee, exercised end-to-end)
    val base = (0L until 500L).map { i =>
      (i, scala.util.hashing.MurmurHash3.stringHash(s"doc$i").toLong * 2654435761L)
    }
    val flipped = base.map { case (i, s) =>
      val nBits = (i % 4).toInt // 0..3 flips
      val sig = (0 until nBits).foldLeft(s) { (acc, k) =>
        acc ^ (1L << (((i * 7 + k * 13) % 64).toInt))
      }
      (i + 10000L, sig)
    }
    val sigs = (base ++ flipped).toDF("doc_id", "simhash")
    val pairs = HammingJoinPlan.simhashPairs(sigs, "doc_id", "simhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = base.indices.filter { i =>
      val expectH = java.lang.Long.bitCount(base(i)._2 ^ flipped(i)._2)
      expectH <= 3 && !pairs.contains((base(i)._1, flipped(i)._1))
    }
    assert(missing.isEmpty, s"planted pairs missed: $missing")
  }

  test("pairs are emitted exactly once (local dedup across the 20 triples)") {
    import spark.implicits._
    // identical sigs match on ALL 20 triples — without the
    // first-matching-triple rule each pair would appear 20 times
    val sigs = (0L until 30L).map(i => (i, 0x0123456789abcdefL)).toDF("doc_id", "simhash")
    val pairs = HammingJoinPlan.simhashPairs(sigs, "doc_id", "simhash")
    val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.toSet.size, "duplicate pairs emitted")
    assert(rows.length == 30 * 29 / 2) // under-cap bucket: all pairs
    assert(overCapBuckets(pairs) == 0)
  }

  test("over-cap buckets degrade to linear chain pairs, connectivity preserved") {
    import spark.implicits._
    val n = 1000
    val sigs = (0L until n.toLong).map(i => (i, 0x7777000012345678L)).toDF("doc_id", "simhash")
    val pairs = HammingJoinPlan.simhashPairs(sigs, "doc_id", "simhash", maxBucket = 64)
    val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // linear, not quadratic: C(1000, 2) would be ~500k
    assert(collected.length < 3L * n, s"quadratic blowup: ${collected.length} pairs")
    // identical sigs share all 20 triple buckets, each one over the cap
    assert(overCapBuckets(pairs) == 20)
    // the chain still connects the whole group into one component
    val clusters = Dedup.connectedComponentsTwoPhase(
        pairs.select(col("doc_a"), col("doc_b")))
      .select("cluster_id").distinct().count()
    assert(clusters == 1, s"mass-dup group fragmented into $clusters components")
  }

  test("ids and signatures must be bigint; int ids keep their sign through simhashNearDups") {
    import spark.implicits._
    val text = "same boilerplate text repeated across the corpus every time"
    val docs = Seq((-5, text), (-3, text), (7, text)).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((-5L, -3L), (-5L, 7L), (-3L, 7L)))
    val intSigs = Seq((1L, 5), (2L, 5)).toDF("doc_id", "simhash")
    val err = intercept[IllegalArgumentException](
      HammingJoinPlan.simhashPairs(intSigs, "doc_id", "simhash"))
    assert(err.getMessage.contains("'simhash'"), err.getMessage)
  }

  test("firstMatchingTriple is defined for every pair at hamming <= 3") {
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val a = rnd.nextLong()
      val nBits = rnd.nextInt(4)
      val b = (0 until nBits).foldLeft(a)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
      val t = HammingBlocks.firstMatchingTriple(a, b)
      assert(t >= 0 && t < 20,
        s"pigeonhole violated for hamming ${java.lang.Long.bitCount(a ^ b)}")
    }
  }
}

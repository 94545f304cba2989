package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Round-8 span-dedup + density-pruning invariants: the detection
  * guarantees each operator claims, exercised with planted spans at
  * controlled offsets.
  */
class SpanDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def wordsDoc(seed: Int, n: Int): String =
    (0 until n).map(i => s"w${seed}_$i").mkString(" ")

  // a 25-token span (≥ w+k−1 = 20) shared verbatim
  private val span = (0 until 25).map(i => s"shared_$i").mkString(" ")

  test("winnowing catches a shared span at INCONGRUENT offsets; grid does not") {
    // doc 1 carries the span at token offset 0; doc 2 at offset 3 —
    // 3 ≢ 0 (mod 10), so the q147 grid windows never align, while the
    // winnowing theorem guarantees a shared fingerprint.
    val docs = Seq(
      (1L, span + " " + wordsDoc(1, 40)),
      (2L, wordsDoc(2, 3) + " " + span + " " + wordsDoc(3, 40))
    ).toDF("doc_id", "text")

    val win = Dedup.winnowedFingerprints(docs, "doc_id", "text", k = 8, w = 13)
    assert(win.count() > 0, "winnowing must fingerprint the shifted span")
    assert(win.agg(min(col("n_docs"))).as[Long].head() == 2L)

    val grid = Dedup.spanFingerprints(docs, "doc_id", "text", 20, 10)
    assert(grid.count() == 0,
      "grid spans at incongruent offsets must NOT collide — if this " +
        "starts passing the grid semantics changed")
  }

  test("grid catches the span at congruent offsets, with exact occurrence counts") {
    // offsets 0 and 10 are congruent mod stride=10 → the grid sees it
    val docs = Seq(
      (1L, span + " " + wordsDoc(1, 40)),
      (2L, wordsDoc(2, 10) + " " + span + " " + wordsDoc(3, 40))
    ).toDF("doc_id", "text")
    val grid = Dedup.spanFingerprints(docs, "doc_id", "text", 20, 10)
      .collect()
    assert(grid.nonEmpty)
    grid.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 2L)
      assert(r.getAs[Long]("n_occurrences") == 2L)
      assert(r.getAs[Long]("first_doc") == 1L)
    }
  }

  /** The compositional spelling of [[Dedup.winnowedFingerprints]] —
    * the kernel's parity baseline and the shape the DuckDB oracle
    * mirrors. `__hs` is a materialized projection column, NOT an
    * inline subtree: it is referenced from inside a higher-order
    * lambda where Catalyst disables subexpression elimination (see
    * GraftFunctions.wordShingles).
    */
  private def winnowedFingerprintsComposed(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame =
    Dedup.fingerprintAgg(
      Dedup.tokenized(docs, idCol, textCol, minLen = k + w - 1)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
            i => md5(concat_ws(" ", slice(col("__toks"), i, lit(k)))))
            .as("__hs"))
        .select(col("doc_id"),
          explode(array_distinct(
            transform(sequence(lit(1), size(col("__hs")) - (w - 1)),
              i => array_min(slice(col("__hs"), i, lit(w)))))).as("fp")))

  test("winnow kernel (deque) is bit-identical to the compositional formulation") {
    // real corpus + planted shifted spans, several (k, w) shapes
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val planted = base.unionByName(Seq(
      (900001L, span + " " + wordsDoc(7, 31)),
      (900002L, wordsDoc(8, 7) + " " + span)).toDF("doc_id", "text"))
    for ((k, w) <- Seq((8, 13), (4, 5), (3, 18))) {
      val native = Dedup.winnowedFingerprints(planted, "doc_id", "text", k, w)
        .collect().map(_.toString).sorted.toSeq
      val composed = winnowedFingerprintsComposed(planted, "doc_id", "text", k, w)
        .collect().map(_.toString).sorted.toSeq
      assert(native == composed, s"kernel diverged at k=$k w=$w")
      assert(native.nonEmpty, s"planted span must collide at k=$k w=$w")
    }
  }

  test("round-8 kernels are SQL-callable and agree with the column API") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, span + " tail words here and more filler to clear the minimum"))
      .toDF("doc_id", "text").createOrReplaceTempView("winnow_docs")
    val viaSql = spark.sql(
      """SELECT graft_winnow(filter(split(text, ' '), t -> t != ''), 8, 13) AS fps
        |FROM winnow_docs""".stripMargin)
      .select(explode(col("fps"))).as[String].collect().toSet
    val viaApi = graft.operators.Dedup.winnowDocFingerprints(
        Seq((1L, span + " tail words here and more filler to clear the minimum"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select("fp").as[String].collect().toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
    val nc = spark.sql(
      """SELECT graft_nearest_centroid(array(CAST(1.0 AS FLOAT)),
        |  array(named_struct('cid', 3, 'cemb', array(CAST(0.0 AS FLOAT))),
        |        named_struct('cid', 7, 'cemb', array(CAST(1.0 AS FLOAT))))) AS c
        |""".stripMargin).as[Int].head()
    assert(nc == 7)
    val adc = spark.sql(
      "SELECT graft_adc_dist(array(1, 0), array(array(10.0D, 20.0D), array(5.0D, 6.0D))) AS d")
      .as[Double].head()
    assert(adc == 25.0) // luts(0)(code=1)=20 + luts(1)(code=0)=5
  }

  test("exactSubstrSpans reports exact extents for a planted repeat") {
    // a 17-token repeat planted at different offsets in two docs; with
    // minLen = 15 the covered L-gram positions are the 3 consecutive
    // starts of the repeat, so the merged extent must be exactly the
    // 17 tokens at each occurrence
    val rep = (0 until 17).map(i => s"rep_$i").mkString(" ")
    val docs = Seq(
      (1L, rep + " " + wordsDoc(1, 30)),            // tokens 1..17
      (2L, wordsDoc(2, 5) + " " + rep + " " + wordsDoc(3, 12)) // tokens 6..22
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 15)
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 1L, 17L, 17L), (2L, 6L, 22L, 17L)), s"got $spans")
  }

  test("abutting repeats union into one maximal span; within-doc repeats count") {
    // doc 3 repeats its own 15-token block twice (within-doc repeat);
    // doc 4 carries two DIFFERENT 15-token blocks back to back, each
    // repeated elsewhere — its extents must merge into one 30-token span
    val blockA = (0 until 15).map(i => s"a_$i").mkString(" ")
    val blockB = (0 until 15).map(i => s"b_$i").mkString(" ")
    val docs = Seq(
      (3L, blockA + " " + wordsDoc(4, 8) + " " + blockA),
      (4L, blockA + " " + blockB),
      (5L, blockB + " " + wordsDoc(5, 20))
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 15)
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 3: two occurrences of blockA at 1..15 and 24..38
    assert(spans.contains((3L, 1L, 15L, 15L)) && spans.contains((3L, 24L, 38L, 15L)),
      s"within-doc repeat extents wrong: $spans")
    // doc 4: blockA (1..15) and blockB (16..30) abut -> one 30-token span
    assert(spans.contains((4L, 1L, 30L, 30L)), s"abutting spans must merge: $spans")
    assert(spans.contains((5L, 1L, 15L, 15L)))
  }

  test("exactSubstr catches a short repeat winnowing provably misses") {
    // winnowing's guarantee starts at w+k−1 = 20 tokens; this repeat
    // is 16 tokens. With k = 8 the repeat yields 9 shared gram hashes,
    // fewer than one full w = 13 window, and in these fixed docs the
    // sliding-min never selects one in both docs — deterministic miss.
    val short = (0 until 16).map(i => s"s_$i").mkString(" ")
    val docs = Seq(
      (6L, short + " " + wordsDoc(6, 30)),
      (7L, wordsDoc(7, 9) + " " + short + " " + wordsDoc(8, 25))
    ).toDF("doc_id", "text")
    val win = Dedup.winnowedFingerprints(docs, "doc_id", "text", k = 8, w = 13)
    assert(win.count() == 0,
      "if winnowing starts catching this 16-token repeat the fixture " +
        "changed; pick a repeat the sliding-min skips in one doc")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 15)
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((6L, 1L, 16L, 16L), (7L, 10L, 25L, 16L)), s"got $spans")
  }

  test("exactSubstrSpans finds nothing in a repeat-free corpus") {
    val docs = Seq((1L, wordsDoc(11, 60)), (2L, wordsDoc(12, 60)))
      .toDF("doc_id", "text")
    assert(Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 15).count() == 0)
  }

  test("winnowing produces no fingerprint for unique docs") {
    val docs = Seq((1L, wordsDoc(1, 60)), (2L, wordsDoc(2, 60)))
      .toDF("doc_id", "text")
    assert(Dedup.winnowedFingerprints(docs, "doc_id", "text").count() == 0)
  }

  test("LSH density pruning is one-sided: keeps a superset of the exact rule") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("verdict") === "keep").select("vec_id").as[Long]
        .collect().toSet
    val exact = kept(Similarity.densityPruneExact(emb, tau = 0.2, floor = 5))
    val lsh = kept(Similarity.densityPruneLsh(emb, tau = 0.2, floor = 5))
    assert(exact.subsetOf(lsh),
      s"LSH pruned ${(exact -- lsh).size} vectors the exact rule keeps")
    assert(exact.nonEmpty)
  }

  test("density verdicts: sparse points always keep; dense regions thin toward the floor") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val out = Similarity.densityPruneExact(emb, tau = 0.2, floor = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    out.filter(_._2 <= 5).foreach { case (id, d, v) =>
      assert(v == "keep", s"vec $id density $d must keep")
    }
    val dense = out.filter(_._2 > 5)
    if (dense.length > 20) {
      val keptFrac = dense.count(_._3 == "keep").toDouble / dense.length
      assert(keptFrac < 1.0, "dense regions must thin")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextOps}
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.TextQueries

class DedupSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)

  test("exact dedup groups planted copies") {
    val d = TextQueries.queries("q30_exact_dedup")(spark, sf)
    // 50 planted copies → exactly the doc_id<50 hashes carry n_copies=2
    assert(d.filter(col("n_copies") === 2).count() == 50)
    assert(d.filter(col("n_copies") === 2).filter(col("keep_id") >= 50).count() == 0)
  }

  test("LSH candidate pairs contain every planted exact duplicate") {
    val pairs = TextQueries.queries("q31b_lsh_pairs")(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 50L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missing planted pairs: ${(planted -- pairs).take(5)}")
  }

  test("simhash is identical for identical docs, near for near-dups") {
    val base = docs.filter(col("doc_id") < 20).select(col("doc_id"), col("text"))
    // mutate: append two words — token multiset differs by 2
    val mutated = base.select((col("doc_id") + 5000).as("doc_id"),
      concat(col("text"), lit(" zzz www")).as("text"))
    val t = Dedup.simhashTable(base.unionByName(mutated), "doc_id", "text")
      .select(col("doc_id"), col("simhash")).as[(Long, Long)].collect().toMap
    (0L until 20L).foreach { i =>
      val h = TextOps.hamming64(t(i), t(i + 5000))
      assert(h <= 16, s"doc $i: hamming $h too large for a 2-token mutation")
    }
  }

  test("planted exact copies collide in every band; quads match") {
    val copies = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 7000).as("doc_id"), col("text"))
    val t = Dedup.simhashTable(
      docs.filter(col("doc_id") < 5).select(col("doc_id"), col("text"))
        .unionByName(copies), "doc_id", "text")
      .select(col("doc_id"), col("simhash")).as[(Long, Long)].collect().toMap
    (0L until 5L).foreach(i => assert(t(i) == t(i + 7000)))
  }

  test("dup clusters: every planted copy lands in its original's cluster") {
    val clusters = TextQueries.queries("q59_dup_clusters")(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    (0L until 50L).foreach { i =>
      if (clusters.contains(i + 1000000)) // planted pair surfaced by LSH
        assert(clusters(i + 1000000) == clusters.getOrElse(i, i),
          s"copy of $i not in its cluster")
    }
    // cluster ids are the minimum member (canonical keep-id)
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min)
    }
  }

  test("ngram jaccard of a doc with itself is 1.0") {
    val base = docs.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
    val both = base.unionByName(
      base.select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val pairs = base.select(col("doc_id").as("doc_a"),
      (col("doc_id") + 9000).as("doc_b"))
    val j = Dedup.ngramJaccard(both, pairs, "doc_id", "text", 3)
    assert(j.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("ANN LSH results are a subset of brute-force scoring universe and recall > 0") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.annLsh(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(approx.nonEmpty, "ANN returned nothing — buckets too fine")
    // every ANN hit must be a real vector pair with correct cosine; recall check:
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall below the 0.6 bar")
  }

  test("IVF ANN reaches reasonable recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = (ivf intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below the 0.5 bar")
  }

  test("IVF distributed-centroid path is result-identical to the broadcast path") {
    // same codebook, same probes, same neighbors — the ONLY difference
    // may be the join strategy Catalyst picks (hinted broadcast vs
    // size-based choice); results must be bit-equal.
    val queries = emb.filter(col("vec_id") < 5)
    def run(dist: Boolean) =
      Similarity.ivfTopK(emb, queries, 10, distributedCentroids = dist)
        .select("query_id", "neighbor_id", "cos_sim")
        .collect().map(_.toString).sorted.toSeq
    assert(run(dist = false) == run(dist = true))
  }

  test("semantic dedup drops exactly the planted copies; LSH path never over-drops") {
    val exact = TextQueries.queries("q112_semantic_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toList
    // every planted copy (id ≥ 1M) drops with dup_of = its original
    val planted = exact.filter(_._1 >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach { case (id, verdict, dupOf) =>
      assert(verdict == "drop" && dupOf.contains(id - 1000000L),
        s"planted copy $id: ($verdict, $dupOf)")
    }
    // random 64-dim vectors are never near-dups of each other: all
    // originals keep
    assert(exact.filter(_._1 < 1000000L).forall(_._2 == "keep"),
      "an original dropped — tau boundary broken")

    // the LSH scale path has one-sided error: its drop set is a
    // subset of the exact drop set, and it still catches every
    // planted exact copy (cos = 1.0 collides in every table)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.unionByName(
      emb.filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val lsh = Similarity.semanticDedupLsh(corpus, tau = 0.999)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val exactDrops = exact.filter(_._2 == "drop").map(_._1).toSet
    val lshDrops = lsh.filter(_._2 == "drop").keySet
    assert(lshDrops.subsetOf(exactDrops),
      s"LSH dropped docs the exact rule keeps: ${lshDrops -- exactDrops}")
    assert(planted.map(_._1).toSet.subsetOf(lshDrops),
      "LSH path missed a planted exact copy")
  }

  test("cosine expression agrees with a plain scala dot product") {
    val rows = emb.filter(col("vec_id") < 3)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val spark2 = spark
    import spark2.implicits._
    val df = rows.toSeq.toDF("vec_id", "embedding")
    val got = df.crossJoin(df.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .select(col("vec_id"), col("v2"),
        GraftFunctions.cosine(col("embedding"), col("e2")).as("c"))
      .as[(Long, Long, Double)].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val m = rows.toMap
    got.foreach { case (i, j, c) =>
      assert(math.abs(c - cos(m(i), m(j))) < 1e-12)
    }
  }

  test("multimodal decodeFrames is deterministic and one row per sampled frame") {
    val media = Multimodal.attachBinary(docs.limit(20))
    val f1 = Multimodal.decodeFrames(spark, media, sampleEvery = 3)
    val expected = media.select(col("doc_id"), col("meta.n_frames").as("nf"))
      .as[(Long, Int)].collect()
      .map { case (_, nf) => (nf + 2) / 3 }.sum
    assert(f1.count() == expected)
    val a = f1.orderBy("doc_id", "frame_idx").collect().toSeq
    val b = Multimodal.decodeFrames(spark, media, 3).orderBy("doc_id", "frame_idx").collect().toSeq
    assert(a == b)
  }

  test("image header decode reads REAL png bytes (and bmp, and rejects non-images)") {
    import spark.implicits._
    // real PNG bytes from the JDK encoder — not hand-forged magic
    def pngBytes(w: Int, h: Int, typ: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, typ)
      img.setRGB(0, 0, 0xff8040)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // minimal hand-built BMP: "BM" + BITMAPINFOHEADER with LE dims at
    // 18/22 (height negative = top-down) and 24bpp at offset 28
    val bmp = new Array[Byte](54)
    bmp(0) = 'B'; bmp(1) = 'M'
    def putLE(off: Int, v: Int): Unit = (0 until 4).foreach(i => bmp(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    putLE(14, 40); putLE(18, 31); putLE(22, -17); bmp(28) = 24
    val rows = Seq(
      (1L, pngBytes(7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)),
      (2L, pngBytes(3, 9, java.awt.image.BufferedImage.TYPE_INT_ARGB)),
      (3L, bmp),
      (4L, "just text, not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = graft.operators.Multimodal.decodeImageMeta(rows)
      .select(col("doc_id"), col("img.format"), col("img.width"),
        col("img.height"), col("img.channels"))
      .orderBy("doc_id").collect()
    assert(got(0).toSeq == Seq(1L, "png", 7, 5, 3))
    assert(got(1).toSeq == Seq(2L, "png", 3, 9, 4))
    assert(got(2).toSeq == Seq(3L, "bmp", 31, 17, 3))
    assert(got(3).getString(1) == "unknown" && got(3).isNullAt(2))
    // SQL registration round-trip
    graft.functions.GraftFunctions.register(spark)
    rows.createOrReplaceTempView("imgpayloads")
    val viaSql = spark.sql(
      "SELECT graft_image_header(payload).width AS w FROM imgpayloads WHERE doc_id = 1")
      .first().getInt(0)
    assert(viaSql == 7)
  }

  test("resize plan: fits the 224 box, preserves orientation, exact patch grid") {
    val rows = Multimodal.resizePlan(Multimodal.attachBinary(docs)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (inW, inH, outW, outH, nP) =
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))
      assert(outW <= 224 && outH <= 224 && outW >= 1 && outH >= 1)
      assert(math.max(outW, outH) == 224, "long side must hit the target")
      assert((inW >= inH) == (outW >= outH), "orientation preserved")
      assert(nP == ((outW + 15) / 16).toLong * ((outH + 15) / 16))
    }
  }

  test("int8 quantization: dequant error within half a level, round-trip deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = q.join(emb, q("vec_id") === emb("vec_id"))
      .select(q("vec_id"), col("q_min"), col("q_max"), col("codes"), col("embedding"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (mn, mx) = (r.getDouble(1), r.getDouble(2))
      val codes = r.getSeq[Int](3)
      val vec = r.getSeq[Float](4)
      val level = math.max(mx - mn, 1e-30) / 255.0
      assert(codes.forall(c => c >= 0 && c <= 255), "codes must fit one byte")
      codes.zip(vec).foreach { case (c, x) =>
        val dq = mn + c * level
        assert(math.abs(dq - x) <= level / 2.0 + 1e-6,
          s"vec ${r.getLong(0)}: |$dq - $x| > half level $level")
      }
    }
  }

  test("simhash near-dup pairs include every planted exact copy at hamming 0") {
    val pairs = TextQueries.queries("q32b_simhash_pairs")(spark, sf)
    val planted = pairs.filter(col("doc_b") === col("doc_a") + 1000000)
    assert(planted.count() == 50)
    assert(planted.filter(col("hamming") =!= 0).count() == 0)
  }

  /** The aggregate formulation of [[Dedup.lshBandsMd5Narrow]] — the
    * parity baseline for the fused kernel and the shape the DuckDB
    * oracles mirror: per-seed md5-slice minima and the per-band md5
    * fold in ONE doc_id aggregation over the shingle stream.
    */
  private def lshBandsMd5(docs: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String, shingleWidth: Int, nSeeds: Int,
                          rowsPerBand: Int): org.apache.spark.sql.DataFrame = {
    val hashed = Dedup.docShingles(docs, idCol, textCol, shingleWidth)
      .select(col("doc_id"), md5(col("sh")).as("h"))
    val mins = (0 until nSeeds).map(s =>
      min(substring(col("h"), s * 4 + 1, 4)).as(s"mh_$s"))
    val bandSigs = (0 until nSeeds / rowsPerBand).map { b =>
      md5(concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*))
    }
    hashed
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), posexplode(array(bandSigs: _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_sig"))
  }

  test("fused md5 band kernel is bit-identical to the aggregate formulation") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val viaAgg = lshBandsMd5(docs, "doc_id", "text", 3, 8, 4)
      .orderBy("doc_id", "band").collect().toSeq
    val viaKernel = Dedup.lshBandsMd5Narrow(docs, "doc_id", "text", 3, 8, 4)
      .orderBy("doc_id", "band").collect().toSeq
    assert(viaKernel == viaAgg)
  }

  test("incremental dedup: planted copies of indexed docs flag dup_index at the original") {
    val out = TextQueries.queries("q103_incremental_dedup")(spark, sf)
    val planted = out.filter(col("doc_id") >= 2000000).collect()
    assert(planted.length == 50)
    planted.foreach { r =>
      assert(r.getString(1) == "dup_index",
        s"doc ${r.getLong(0)}: expected dup_index, got ${r.getString(1)}")
      // an exact copy shares every band with its original, so dup_of
      // is the original's id unless an even-smaller indexed doc
      // collides on some band
      assert(r.getLong(2) <= r.getLong(0) - 2000000,
        s"doc ${r.getLong(0)}: dup_of ${r.getLong(2)} above its original")
    }
    // fresh batch docs (no planted twin) must not all be flagged
    assert(out.filter(col("doc_id") >= 400 and col("doc_id") < 2000000 and
      col("status") === "keep").count() > 0)
  }

  test("cosine near-dup pairs are exactly the planted copies") {
    val pairs = TextQueries.queries("q34b_cosine_neardup")(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 20L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(pairs), s"missing ${(planted -- pairs).take(3)}")
    // natural max cosine in the corpus is ~0.51 — nothing else qualifies
    assert(pairs == planted)
  }

  test("pii scrub counts and redacts every planted email and phone") {
    val r = TextQueries.queries("q69_pii_scrub")(spark, sf)
    // every doc_id % 5 == 0 got exactly one planted email, % 7 one phone
    assert(r.filter(col("doc_id") % 5 === 0 && col("n_emails") =!= 1).count() == 0)
    assert(r.filter(col("doc_id") % 7 === 0 && col("n_phones") =!= 1).count() == 0)
    assert(r.filter(col("scrubbed").contains("@example.com")).count() == 0)
    assert(r.filter(col("scrubbed").contains("555-0100")).count() == 0)
    assert(r.filter(col("scrubbed").contains("<EMAIL>")).count() ==
      r.filter(col("n_emails") > 0).count())
  }

  test("decontamination flags every planted copy of a benchmark doc") {
    val r = TextQueries.queries("q70_decontaminate")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    // copies of benchmark docs 0..19 live at 1000000..1000019 and are
    // verbatim — every one with >=8 words must flag
    val docs = Tables.documents(spark, sf)
    val longEnough = TextQueries.queries("q38_token_count")(spark, sf)
      .filter(col("doc_id") < 20 && col("ws_tokens") >= 8)
      .select("doc_id").as[Long].collect().toSet
    longEnough.foreach { id =>
      assert(r.contains(id + 1000000), s"planted copy of benchmark doc $id not flagged")
    }
  }

  test("repetition signals are bounded ratios") {
    val r = TextQueries.queries("q71_repetition")(spark, sf)
    assert(r.filter(col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1).count() == 0)
    assert(r.filter(col("top_word_frac") <= 0 || col("top_word_frac") > 1).count() == 0)
  }

  test("sequence packing stays within budget plus one document") {
    val packed = TextQueries.queries("q76_pack_sequences")(spark, sf)
    val perBin = packed.groupBy("lang", "seq_bin")
      .agg(sum("n_tokens").as("bin_tokens"), max("n_tokens").as("max_doc"))
    // contiguous fill: a bin can overflow the budget by at most the
    // doc that crossed the boundary
    assert(perBin.filter(col("bin_tokens") > lit(1024L) + col("max_doc")).count() == 0)
    // every doc is packed exactly once
    assert(packed.count() == Tables.documents(spark, sf).count())
  }

  test("mix upsampling replicates exactly per stratum weight") {
    val up = TextQueries.queries("q77_mix_upsample")(spark, sf)
    val docs = Tables.documents(spark, sf)
    val en = docs.filter(col("lang") === "en").count()
    val other = docs.filter(col("lang") =!= "en").count()
    assert(up.count() == 2 * en + other)
    assert(up.filter(col("lang") === "en").groupBy("doc_id").count()
      .filter(col("count") =!= 2).count() == 0)
  }

  test("perceptual-hash near-dup: parity with brute force, planted copies at hamming 0") {
    val pairs = TextQueries.queries("q117_phash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // exact planted copies (doc_id < 50, +1_000_000) share the payload
    // byte-for-byte, so their aHashes are equal — all 50 must surface
    (0L until 50L).foreach { i =>
      assert(pairs.contains((i, i + 1000000L, 0)),
        s"planted copy pair ($i, ${i + 1000000}) missing")
    }
    // parity with a brute-force O(n²) scan over the same signatures
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val sigs = planted
      .select(col("doc_id"),
        graft.functions.ImageFunctions.aHash64(encode(col("text"), "utf-8")).as("ahash"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("ahash").as("ha"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("ahash").as("hb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == brute, "native hamming join diverged from brute force on aHash sigs")
  }

  test("aHash64 is deterministic and locality-preserving on a single-byte edit") {
    val base = ("the quick brown fox jumps over the lazy dog " * 8).getBytes("UTF-8")
    val edited = base.clone(); edited(100) = 'X'.toByte
    val h1 = graft.functions.ImageOps.aHash64(base)
    assert(h1 == graft.functions.ImageOps.aHash64(base.clone()))
    val h2 = graft.functions.ImageOps.aHash64(edited)
    val hamming = java.lang.Long.bitCount(h1 ^ h2)
    assert(hamming <= 3, s"one-byte edit moved $hamming bits — sampling not local")
    assert(graft.functions.ImageOps.aHash64(Array.emptyByteArray) == 0L)
    // SQL registration round-trip matches the JVM kernel
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Seq(Tuple1(base)).toDF("payload").createOrReplaceTempView("ahashpayloads")
    val viaSql = spark.sql(
      "SELECT graft_ahash64(payload) AS h FROM ahashpayloads").first().getLong(0)
    assert(viaSql == h1)
  }

  test("text query oracles' keys are a subset of query keys") {
    assert(TextQueries.oracleSql.keySet.subsetOf(TextQueries.queries.keySet))
  }

  test("NFC kernel: composes decomposed forms, leaves NFC text alone") {
    import graft.functions.TextOps
    import org.apache.spark.unsafe.types.UTF8String
    def n(s: String): String = TextOps.nfc(UTF8String.fromString(s)).toString
    assert(n("Café") == "Café", "combining acute must compose")
    assert(n("Ångström") == "Ångström")
    assert(n("한") == "한", "Hangul jamo must compose")
    assert(n("ﬁle") == "ﬁle", "ligatures are NFC-invariant")
    assert(n(n("Café")) == n("Café"), "NFC is idempotent")
    val ascii = UTF8String.fromString("plain ascii")
    assert(TextOps.nfc(ascii) eq ascii, "ASCII fast path must not allocate")
    // after normalization, the two spellings dedup identically
    val q = TextQueries.queries("q131_nfc_normalize")(spark, sf)
    val planted = q.filter(col("doc_id") >= 9000000L)
      .select(col("doc_id"), col("nfc_text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(planted(9000001L) == "Café du Monde")
    assert(planted(9000002L) == "Ångström")
    assert(planted(9000005L) == "ﬁle ligature")
  }

  test("compression ratio: repetition compresses below prose, deterministic") {
    val r = TextQueries.queries("q138_compress_ratio")(spark, sf).cache()
    assert(r.filter(col("deflate_ratio") <= 0).count() == 0)
    val byId = r.filter(col("doc_id") >= 9200000L)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(byId(9200001L) < 0.1,
      s"50x-repeated text should compress hard, got ${byId(9200001L)}")
    assert(byId(9200002L) > byId(9200001L) * 3,
      "prose must compress far less than planted repetition")
    // deterministic under recomputation
    val again = TextQueries.queries("q138_compress_ratio")(spark, sf)
    assert(r.exceptAll(again).isEmpty && again.exceptAll(r).isEmpty)
    r.unpersist()
  }

  test("script mix: planted scripts classify correctly, ASCII corpus is latin") {
    val m = TextQueries.queries("q137_script_mix")(spark, sf).cache()
    val planted = m.filter(col("doc_id") >= 9100000L)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(planted(9100001L) == "cyrillic")
    assert(planted(9100002L) == "han")
    assert(planted(9100003L) == "latin") // latin plurality in the mixed row
    assert(planted(9100004L) == "none")  // digits belong to no script
    // the ASCII corpus is uniformly latin with zero foreign-script chars
    assert(m.filter(col("doc_id") < 9100000L)
      .filter(col("main_script") =!= "latin"
        || col("n_cyrillic") > 0 || col("n_han") > 0).count() == 0)
    m.unpersist()
  }

  test("containment: an excerpt's shingles are fully contained in its source") {
    val c = TextQueries.queries("q132_containment")(spark, sf).cache()
    assert(c.count() > 0)
    // contiguity ⇒ every excerpt shingle exists in the original
    assert(c.filter(col("cont_b") =!= 1.0).count() == 0,
      "an excerpt must be fully contained (cont_b == 1)")
    assert(c.filter(col("n_inter") =!= col("n_b")).count() == 0)
    assert(c.filter(col("verdict") === "distinct").count() == 0,
      "asymmetric containment must not read as 'distinct'")
    // Jaccard never exceeds either containment
    assert(c.filter(col("jaccard") > col("cont_a") + 1e-9
      || col("jaccard") > col("cont_b") + 1e-9).count() == 0)
    c.unpersist()
  }

  test("q174: recall report has the expected tier semantics") {
    val rows = SparkEntry.queries("q174_dedup_recall")(spark, sf)
      .collect().map(r => r.getAs[String]("tier") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_caught"),
          r.getAs[Double]("recall"))).toMap
    assert(rows.keySet === Set("exact", "minhash_lsh", "simhash"))
    // exact hashing catches EXACTLY the plants too short to mutate
    // (< 13 normalized words → the copy is the normalized original)
    val unmutated = Tables.documents(spark, sf)
      .filter(col("doc_id") < 50)
      .filter(size(graft.functions.GraftFunctions.normWords(col("text"))) < 13)
      .count()
    assert(rows("exact")._2 === unmutated)
    // LSH (band-or over shingle overlap) dominates hamming<=3 at this
    // mutation rate
    assert(rows("minhash_lsh")._2 >= rows("simhash")._2)
    assert(rows("minhash_lsh")._2 > rows("exact")._2,
      "the fuzzy tier must catch plants exact hashing cannot")
    // recall is caught/50 exactly
    rows.values.foreach { case (_, caught, recall) =>
      assert(math.abs(recall - caught / 50.0) < 1e-9)
    }
  }

  test("every text query returns rows at sf0.001") {
    TextQueries.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
    }
  }

  test("q192 BLEU contamination: planted self-pairs score a perfect 1.0") {
    val rows = TextQueries.queries("q192_bleu_contam")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("p1", "p2", "p3", "p4").foreach { p =>
        val v = r.getAs[Double](p)
        assert(v > 0.0 && v <= 1.0, s"$p out of (0,1]: $r")
      }
      assert(r.getAs[Double]("bleu") >= 0.0 && r.getAs[Double]("bleu") <= 1.0)
    }
    // the eval excerpt is a PREFIX of its source doc: every n-gram is
    // contained and the doc is at least as long, so bleu == 1 exactly
    val self = rows.filter(r =>
      r.getAs[Long]("doc_id") == r.getAs[Long]("eval_id") - 3000000L)
    assert(self.nonEmpty, "self-pairs missing from the candidate set")
    self.foreach { r =>
      assert(r.getAs[Double]("p4") == 1.0 && r.getAs[Double]("bleu") == 1.0,
        s"self-pair not perfect: $r")
    }
  }

  test("q196 CDC chunking: accounting identities and boundary stability") {
    import org.apache.spark.sql.functions._
    val rows = TextQueries.queries("q196_cdc_chunks")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, nd) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_distinct_chunks"))
      assert(nd >= 1L && nd <= nc)
      val ratio = r.getAs[Double]("dup_chunk_ratio")
      assert(ratio >= 0.0 && ratio < 1.0)
      assert(r.getAs[Double]("avg_chunk_words") >= 1.0,
        "a chunk holds at least one word")
    }
    // chunk accounting covers every word exactly once
    val totalWords = rows.map(_.getAs[Long]("n_words")).sum
    val corpusWords = Tables.documents(spark, sf)
      .select(size(graft.functions.GraftFunctions.normWords(col("text"))).as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    assert(totalWords == corpusWords, "words lost or duplicated across chunks")
    // content-defined stability: appending words to a doc never changes
    // chunk hashes strictly BEFORE the last boundary — proxy check: the
    // boundary rule is per-word content only, so identical sources give
    // identical per-source rollups on a re-run
    val again = TextQueries.queries("q196_cdc_chunks")(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("q198 PMI collocations: count algebra and cut bounds") {
    val rows = TextQueries.queries("q198_pmi_collocations")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val seen = scala.collection.mutable.Set[(String, String)]()
    rows.foreach { r =>
      val (cxy, cx, cy) = (r.getAs[Long]("c_xy"), r.getAs[Long]("c_x"),
        r.getAs[Long]("c_y"))
      assert(cxy >= 5L, s"min-count cut leaked: $r")
      // a bigram can occur at most as often as either of its words
      assert(cx >= cxy && cy >= cxy, s"marginals below the joint: $r")
      assert(!r.getAs[Double]("pmi").isNaN && !r.getAs[Double]("pmi").isInfinite)
      assert(seen.add((r.getAs[String]("w1"), r.getAs[String]("w2"))),
        s"duplicate collocation emitted: $r")
    }
  }

  test("q199 edit verify: planted exact copies verify at distance zero") {
    val rows = TextQueries.queries("q199_edit_verify")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dist, la, lb) = (r.getAs[Long]("dist"), r.getAs[Long]("len_a"),
        r.getAs[Long]("len_b"))
      assert(dist >= 0L && dist <= math.max(la, lb),
        s"levenshtein out of bounds: $r")
      assert(r.getAs[Boolean]("is_dup") == (dist * 5 <= math.max(la, lb)))
      val sim = r.getAs[Double]("edit_sim")
      assert(sim >= 0.0 - 1e-9 && sim <= 1.0)
    }
    // every planted copy pair (d, d+1_000_000) that LSH surfaces must
    // verify as an exact duplicate
    val planted = rows.filter(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L)
    assert(planted.nonEmpty, "no planted copy pair surfaced")
    planted.foreach { r =>
      assert(r.getAs[Long]("dist") == 0L && r.getAs[Double]("edit_sim") == 1.0
        && r.getAs[Boolean]("is_dup"), s"planted copy failed verify: $r")
    }
  }

  test("q201 ROUGE-L: LCS kernel laws and planted self-similarity") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    // kernel laws on literal token arrays: known value, symmetry,
    // self-identity, empty side
    val k = Seq(
      (Seq("a", "b", "c", "d"), Seq("a", "x", "c", "y")),
      (Seq("a", "x", "c", "y"), Seq("a", "b", "c", "d")),
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq[String](), Seq("a", "b")))
      .toDF("a", "b")
      .select(GraftFunctions.lcsLen(col("a"), col("b")).as("lcs"))
      .collect().map(_.getLong(0))
    assert(k.sameElements(Array(2L, 2L, 3L, 0L)), k.mkString(","))
    // SQL-callable registration (§2.5 #48)
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql(
      "SELECT graft_lcs_len(array('a','b','c'), array('a','x','c')) AS l")
      .head.getLong(0) == 2L)
    val rows = TextQueries.queries("q201_rouge_l")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lcs, na, nb) = (r.getAs[Long]("lcs"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(lcs >= 0L && lcs <= math.min(na, nb), s"LCS out of bounds: $r")
      assert(r.getAs[Double]("rouge_f1") <= 1.0 + 1e-9)
    }
    // planted exact copies: LCS spans the whole document, F1 = 1
    val planted = rows.filter(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L)
    assert(planted.nonEmpty, "no planted copy pair surfaced")
    planted.foreach { r =>
      assert(r.getAs[Long]("lcs") == r.getAs[Long]("n_a") &&
        r.getAs[Long]("n_a") == r.getAs[Long]("n_b") &&
        r.getAs[Double]("rouge_f1") == 1.0, s"planted copy not perfect: $r")
    }
  }

  test("q207 injection scan: planted attacks flagged exactly, control clean") {
    val rows = TextQueries.queries("q207_injection_scan")(spark, sf).collect()
    val planted = rows.find(_.getAs[String]("source") == "planted")
    assert(planted.isDefined, "planted source row missing")
    val p = planted.get
    assert(p.getAs[Long]("n_docs") == 5L)
    // plants: ignore×2 (one via 'ignore all instructions'), disregard,
    // roleplay + dan in one doc, sysprompt; the bread-baking control
    // stays clean → 4 of 5 flagged
    assert(p.getAs[Long]("p_ignore") == 2L, p.toString)
    assert(p.getAs[Long]("p_disregard") == 1L)
    assert(p.getAs[Long]("p_roleplay") == 1L)
    assert(p.getAs[Long]("p_sysprompt") == 1L)
    assert(p.getAs[Long]("p_dan") == 1L)
    assert(p.getAs[Long]("n_flagged") == 4L)
    assert(p.getAs[Double]("flag_rate") == 0.8)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"))
    }
  }

  test("q209 hard negatives: cross-label, within margin, gold dominates") {
    val rows = TextQueries.queries("q209_hard_negatives")(spark, sf).collect()
    assert(rows.nonEmpty, "no hard negatives surfaced")
    // rebuild the ground truth per query from the raw table
    val byLabel = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neg_id")
      assert(byLabel(n) != byLabel(q), s"negative shares the query label: $r")
      // gap may be NEGATIVE — a different-label candidate scoring
      // above gold is the hardest (most valuable) negative
      assert(r.getAs[Double]("neg_sim") >= r.getAs[Double]("gold_sim") - 0.05,
        s"negative outside the margin: $r")
    }
    // gold_sim really is the best same-label sim: recompute for one query
    val q0 = rows.head.getAs[Long]("query_id")
    val gold0 = rows.head.getAs[Double]("gold_sim")
    val sims = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === q0),
        k = emb.count().toInt)
      .collect()
      .filter(r => byLabel(r.getAs[Long]("neighbor_id")) == byLabel(q0))
      .map(_.getAs[Double]("cos_sim"))
    assert(sims.nonEmpty && math.abs(sims.max - gold0) < 1e-9,
      s"gold_sim ${gold0} != best same-label sim ${sims.max}")
  }

  test("q210 code detect: planted code flagged, prose control clean") {
    val rows = TextQueries.queries("q210_code_detect")(spark, sf).collect()
    val code = rows.find(_.getAs[String]("source") == "planted_code")
    val prose = rows.find(_.getAs[String]("source") == "planted_prose")
    assert(code.isDefined && prose.isDefined, "planted sources missing")
    val c = code.get
    assert(c.getAs[Long]("n_docs") == 3L)
    assert(c.getAs[Long]("n_code") == 3L, s"not all code plants flagged: $c")
    assert(c.getAs[Long]("block_total") == 1L, s"fence census wrong: $c")
    assert(c.getAs[Double]("code_rate") == 1.0)
    val p = prose.get
    assert(p.getAs[Long]("n_code") == 0L, s"prose control flagged: $p")
    assert(p.getAs[Long]("sym_total") == 0L)
  }

  test("q200 incremental CDC index: merged base+delta equals the full scan") {
    val full = TextQueries.queries("q196_cdc_chunks")(spark, sf).collect()
    val merged = TextQueries.queries("q200_cdc_index_merge")(spark, sf).collect()
    assert(full.map(_.toString).sorted.sameElements(merged.map(_.toString).sorted),
      "incremental CDC index diverged from the full scan")
  }

  test("two-phase CC labels exactly match a union-find on adversarial shapes") {
    import spark.implicits._
    def parity(pairs: org.apache.spark.sql.DataFrame): Unit = {
      // reference: union-find over the collected pairs, every node
      // labeled with its component's minimum id
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.as[(Long, Long)].collect().foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val a = parent.keys.map(n => (n, find(n))).toSet
      val b = graft.operators.Dedup.connectedComponentsTwoPhase(pairs)
        .as[(Long, Long)].collect().toSet
      assert(a == b, s"divergence: ${(a diff b).take(3)} vs ${(b diff a).take(3)}")
    }
    // long chain (the hot-bucket degradation shape — worst case for
    // propagation depth)
    parity((0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"))
    // star + separate clique + isolated pair, shuffled ids
    val star = (1L to 50L).map(i => (1000L, 1000L + i))
    val clique = for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)
    parity((star ++ clique ++ Seq((5000L, 4999L))).toDF("doc_a", "doc_b"))
    // deterministic pseudo-random pairs over a small id space (creates
    // several mid-size components with merges in both directions)
    val rnd = (0L until 300L).map(i => ((i * 7919) % 97, (i * 104729) % 97))
      .filter(p => p._1 != p._2)
    parity(rnd.toDF("doc_a", "doc_b"))
    // self-loops and duplicate edges are tolerated identically
    parity(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L))
      .toDF("doc_a", "doc_b"))
  }
}

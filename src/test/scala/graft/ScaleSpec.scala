package graft

import org.apache.spark.sql.functions._
import graft.queries.SketchQueries
import graft.streaming.StatefulSessions

class ScaleSpec extends SparkSpecBase {

  test("sketch aggregates are within the advertised error of exact") {
    val r = SketchQueries.queries("q46_sketch_agg")(spark, sf)
    val bad = r.filter(
      abs(col("approx_parts") - col("exact_parts")).cast("double")
        / col("exact_parts") > 0.1)
    assert(bad.count() == 0)
  }

  test("bucketed tables join without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables between JVMs but their
    // files survive — clear the warehouse dirs explicitly
    Seq("b_orders", "b_customer").foreach { t =>
      val p = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    Tables.customer(spark, sf)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_customer")
    // disable broadcast so the planner exercises the bucketed
    // sort-merge path (at 100 TB neither side would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: no Exchange feeding the SortMergeJoin
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == Tables.orders(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed dedup index: the probe join shuffles only the batch side") {
    import graft.streaming.DedupStream
    spark.sql("DROP TABLE IF EXISTS b_dedup_index")
    val p = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "b_dedup_index")
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    DedupStream.seedIndexBucketed(docs.filter(col("doc_id") < 400),
      "b_dedup_index", "doc_id", "text", nBuckets = 8)
    val batchBands = graft.operators.Dedup.lshBandsNarrow(
      docs.filter(col("doc_id") >= 400), "doc_id", "text", 3, 8, 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = spark.table("b_dedup_index")
        .join(batchBands, Seq("band", "band_sig"))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // exactly ONE hash exchange: the batch side; the index side
      // reads co-located from its buckets
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange (batch side only), got $exchanges:\n$plan")
      assert(probe.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hot LSH bucket degrades to linear chain pairs, cluster intact") {
    import spark.implicits._
    // 1,000 copies of one boilerplate doc + 100 distinct docs: without
    // the bucket guard the boilerplate bucket alone emits ~500k pairs.
    val boiler = (0L until 1000L).map(i => (i, "the quick brown fox jumps over the lazy dog again and again"))
    val distinctDocs = (2000L until 2100L).map(i => (i, s"unique document number $i with its own words ${i * 7} and ${i * 13}"))
    val docs = (boiler ++ distinctDocs).toDF("doc_id", "text")
    val bands = graft.operators.Dedup.lshBandsMd5Narrow(docs, "doc_id", "text",
      shingleWidth = 3, nSeeds = 8, rowsPerBand = 4)
    val pairs = graft.operators.Dedup.lshCandidatePairs(bands, maxBucket = 64)
      .persist()
    val n = pairs.count()
    // linear, not quadratic: k·n with k = number of bands (2)
    assert(n <= 4 * 1100, s"hot bucket emitted $n pairs — quadratic blowup")
    // connectivity preserved: connected components still recovers the
    // full 1,000-member duplicate group under one canonical id
    val clusters = graft.operators.Dedup.connectedComponentsTwoPhase(pairs)
      .filter(col("cluster_id") === 0L)
    assert(clusters.count() == 1000)
  }

  test("simhash hot buckets degrade to chain pairs, all dups still found") {
    import spark.implicits._
    val boiler = (0L until 500L).map(i => (i, "same boilerplate text repeated across the corpus every time"))
    val docs = boiler.toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.simhashNearDups(docs, "doc_id", "text",
      maxHamming = 3, maxBucket = 32).persist()
    val n = pairs.count()
    assert(n <= 20 * 500, s"simhash hot bucket emitted $n pairs")
    assert(pairs.filter(col("hamming") =!= 0).count() == 0)
    // chain pairs keep the group connected
    val clusters = graft.operators.Dedup.connectedComponentsTwoPhase(
      pairs.select("doc_a", "doc_b")).filter(col("cluster_id") === 0L)
    assert(clusters.count() == 500)
  }

  test("narrow LSH front: zero shuffles before the bucket join, dups recovered") {
    import spark.implicits._
    val base = (0L until 300L).map(i => (i, s"narrow front doc $i sharing words alpha${i % 5} beta${i % 9} gamma filler text"))
    val copies = (0L until 40L).map(i => (i + 100000L, base(i.toInt)._2))
    val docs = (base ++ copies).toDF("doc_id", "text")
    val bands = graft.operators.Dedup.lshBandsNarrow(docs, "doc_id", "text",
      shingleWidth = 3, nSeeds = 8, rowsPerBand = 4)
    // the whole signature+banding stage must be one map pass: no
    // Exchange (shuffle) and no aggregate in its physical plan
    val plan = bands.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"narrow LSH front shuffles:\n${plan.take(1500)}")
    assert(!plan.contains("Aggregate"), s"narrow LSH front aggregates:\n${plan.take(1500)}")
    val pairs = graft.operators.Dedup.lshCandidatePairs(bands)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 40L).map(i => (i, i + 100000L)).toSet
    assert(planted.subsetOf(pairs), s"narrow front missed ${(planted -- pairs).take(3)}")
  }

  test("iterative loops release superseded checkpoint blocks (bounded storage)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.size
    // long chain → many CC rounds
    val chain = (0L until 4095L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = graft.operators.Dedup.connectedComponentsTwoPhase(chain, maxIter = 50)
    assert(cc.select(countDistinct(col("cluster_id"))).first().getLong(0) == 1L)
    // after the operator returns: ONE retained table (the result
    // checkpoint) — not one per round, and the pair/node persists are
    // gone (unpersist removes the registry entry synchronously)
    val afterCC = spark.sparkContext.getPersistentRDDs.size
    assert(afterCC <= baseline + 1,
      s"CC leaked checkpoint blocks: $baseline -> $afterCC persistent RDDs")
    Caching.releaseCheckpoint(cc)

    // 20 deterministic pageRank rounds, eager point every 5
    val edges = (0L until 500L).map(i => (i, (i * 7 + 1) % 500)).toDF("src", "dst")
    val pr = graft.operators.Graph.pageRank(edges, iters = 20, ckptEvery = 5)
    assert(pr.count() == 500)
    val afterPr = spark.sparkContext.getPersistentRDDs.size
    assert(afterPr <= baseline + 1,
      s"pageRank leaked checkpoint blocks: $baseline -> $afterPr persistent RDDs")
    Caching.releaseCheckpoint(pr)

    val bfs = graft.operators.Graph.bfs(chain.select(col("doc_a").as("src"),
      col("doc_b").as("dst")), source = 0L, maxDepth = 12)
    assert(bfs.count() == 13)
    val afterBfs = spark.sparkContext.getPersistentRDDs.size
    assert(afterBfs <= baseline + 1,
      s"bfs leaked checkpoint blocks: $baseline -> $afterBfs persistent RDDs")
    Caching.releaseCheckpoint(bfs)
  }

  test("reliable checkpointDir mode: identical loop results, files on FS") {
    import spark.implicits._
    // local[32] default is localCheckpoint; a real cluster sets
    // spark.graft.checkpointDir so loop rounds survive executor loss.
    // Same inputs through both modes must produce identical results.
    val chain = (0L until 1023L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val edges = (0L until 300L).map(i => (i, (i * 7 + 1) % 300)).toDF("src", "dst")
    def ccRun() = graft.operators.Dedup.connectedComponentsTwoPhase(chain, maxIter = 50)
      .as[(Long, Long)].collect().sorted.toSeq
    def prRun() = graft.operators.Graph.pageRank(edges, iters = 8, ckptEvery = 3)
      .select(col("id"), round(col("rank"), 10).as("rank"))
      .as[(Long, Double)].collect().sorted.toSeq
    def bpeRun() = graft.operators.Bpe.learnMerges(
        Seq("aa ab aa ab ba", "aa ab aa").toDF("text"), "text", k = 3)
      .select("rank", "merged").as[(Int, String)].collect().sorted.toSeq
    val (ccLocal, prLocal, bpeLocal) = (ccRun(), prRun(), bpeRun())
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      assert(ccRun() == ccLocal, "CC diverged under reliable checkpointing")
      assert(prRun() == prLocal, "pageRank diverged under reliable checkpointing")
      assert(bpeRun() == bpeLocal, "BPE diverged under reliable checkpointing")
      // reliable rounds actually landed on the FS
      def countFiles(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(countFiles(dir) > 0, "no reliable checkpoint files written")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("CacheScope.withScope releases operator-internal persists on exit") {
    import spark.implicits._
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val docs = (0L until 200L)
      .map(i => (i, s"shared boilerplate words plus unique token $i ${i * 3}"))
      .toDF("doc_id", "text")
    Caching.CacheScope.withScope {
      val pairs = (0L until 100L).map(i => (i, i + 100L)).toDF("doc_a", "doc_b")
      val jac = graft.operators.Dedup.ngramJaccard(docs, pairs, "doc_id", "text", 2)
      assert(jac.count() > 0) // materialize inside the scope
      val idx = graft.operators.Retrieval.invertedIndex(docs, "doc_id", "text", 2)
      assert(idx.count() >= 0)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= baseline,
      s"scope leaked persists: $baseline -> $after persistent RDDs")
  }

  /** 3 real chunks + 2 sentinel chunks (watermark advance + timeout
    * flush), replayed one file per trigger → 5 micro-batches. Shared
    * by the fMGWS and transformWithState cross-batch session tests.
    */
  private def replayedSessionStream(tag: String): org.apache.spark.sql.Dataset[StatefulSessions.TsEv] = {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp((100000L + sec) * 1000L)
    val chunks: Seq[Seq[(Long, java.sql.Timestamp, Long)]] = Seq(
      Seq((1L, ts(0), 1L), (1L, ts(30), 2L), (2L, ts(10), 3L)),
      Seq((1L, ts(70), 4L), (1L, ts(100), 5L), (2L, ts(200), 6L)),
      Seq((1L, ts(300), 7L)),
      Seq((999L, ts(10000), 8L)),
      Seq((999L, ts(20000), 9L)))
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-$tag-chunk$i")
      rows.toDF("user_id", "ts", "event_id")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = dir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      // strictly increasing mtimes pin the replay order
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .as[StatefulSessions.TsEv]
  }

  /** The sessions the 5-batch replay must produce, however computed. */
  private def expectedReplaySessions: Set[(Long, Long, Long, Long)] = {
    def us(sec: Long) = (100000L + sec) * 1000000L
    Set(
      (1L, us(0), us(100), 4L),   // spans chunks 1→2: emitted once, whole
      (1L, us(300), us(300), 1L), // trailing open session via timeout
      (2L, us(10), us(10), 1L),
      (2L, us(200), us(200), 1L))
  }

  test("unbounded sessionizer carries open sessions across micro-batches") {
    import spark.implicits._
    import graft.streaming.StatefulSessions
    val stream = replayedSessionStream("unbounded")
    val out = StatefulSessions.sessionizeUnbounded(stream, gapSeconds = 60L)
    val got = graft.streaming.EventStream
      .runToCompletionAppend(spark, out.toDF(), "graft_unbounded_sessions")
      .filter(col("user_id") =!= 999L)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expectedReplaySessions, s"got $got")
  }

  test("transformWithState sessionizer matches fMGWS on the same replay") {
    import spark.implicits._
    import graft.streaming.StatefulSessions
    // transformWithState requires the RocksDB state store provider —
    // scope it to this test so the rest of the suite keeps the default
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = replayedSessionStream("tws")
      val out = StatefulSessions.sessionizeTws(stream, gapSeconds = 60L)
      val got = graft.streaming.EventStream
        .runToCompletionAppend(spark, out.toDF(), "graft_tws_sessions")
        .filter(col("user_id") =!= 999L)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expectedReplaySessions, s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState state store stays bounded across the replay") {
    import graft.streaming.StatefulSessions
    // VERDICT r6 #7 — the 100 TB contract for stateful streaming: the
    // RocksDB store must hold only OPEN sessions (cleared on timer
    // fire), never grow with the stream's length
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = replayedSessionStream("twsbound")
      val out = StatefulSessions.sessionizeTws(stream, gapSeconds = 60L)
      val (_, progress) = graft.streaming.EventStream
        .runToCompletionAppendTracked(spark, out.toDF(), "graft_tws_bounded")
      val stateOps = progress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "no state-operator metrics recorded")
      // ≤ 3 users are ever active; one ValueState row each (plus the
      // engine's timer entries) — far under 16 rows at every batch.
      // A store that retained CLOSED sessions would grow past this.
      val perBatchRows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(perBatchRows.max <= 16,
        s"state rows not bounded by open sessions: $perBatchRows")
      // emitted sessions leave the store: the final batch (watermark
      // far past every session) holds no more rows than the peak
      assert(perBatchRows.last <= perBatchRows.max)
      val maxMem = stateOps.map(_.memoryUsedBytes).max
      assert(maxMem > 0, "provider reported no state memory")
      assert(maxMem < 256L * 1024 * 1024,
        s"state memory implausibly large for 9 events: $maxMem bytes")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming frequent-token monitor tracks heavy hitters across batches") {
    import spark.implicits._
    import graft.streaming.FrequentTokens
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // planted distribution split over 3 micro-batches: "hot" 30×,
      // "warm" 12×, "mild" 7×, filler tokens f0..f19 2× each
      val all = Seq.fill(30)("hot") ++ Seq.fill(12)("warm") ++
        Seq.fill(7)("mild") ++ (0 until 20).flatMap(i => Seq.fill(2)(s"f$i"))
      val chunks = all.grouped((all.size + 2) / 3).toSeq
      val dir = java.nio.file.Files.createTempDirectory("graft-freqtok")
      chunks.zipWithIndex.foreach { case (toks, i) =>
        val stage = java.nio.file.Files.createTempDirectory(s"graft-freqtok-c$i")
        toks.map(t => (math.floorMod(t.hashCode, 4).toLong, t))
          .toDF("shard", "token")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = scala.jdk.CollectionConverters
          .IteratorHasAsScala(java.nio.file.Files.list(stage).iterator()).asScala
          .find(_.toString.endsWith(".parquet")).get
        val dst = dir.resolve(f"chunk$i%02d.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .as[FrequentTokens.Tok]
      val out = FrequentTokens.monitor(stream, nShards = 4, capacity = 64, k = 5)
      val (table, progress) = graft.streaming.EventStream
        .runToCompletionAppendTracked(spark, out.toDF(), "graft_freq_tokens")
      // estimates only grow: max-per-token over all batches is the
      // final running answer; capacity ≥ vocab ⇒ sketch exact, err 0
      val est = table.groupBy("token").agg(max("est").as("est"), max("err").as("err"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(est.forall(_._3 == 0L), s"unexpected eviction error: ${est.toSeq}")
      val got3 = est.sortBy(e => (-e._2, e._1)).take(3).map(e => (e._1, e._2)).toSeq
      assert(got3 == Seq(("hot", 30L), ("warm", 12L), ("mild", 7L)), s"got $got3")
      // state is one sketch row per ACTIVE shard, never per token/batch
      val perBatchRows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(perBatchRows.nonEmpty && perBatchRows.max <= 4,
        s"state rows exceed shard count: $perBatchRows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming incremental dedup flags cross-batch duplicates via the index merge") {
    import spark.implicits._
    import graft.streaming.DedupStream
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 400)
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").as[String].first()
    // chunk 1: fresh docs 400-449 + a copy of corpus doc 10;
    // chunk 2: a copy of CHUNK 1's doc 445 (cross-batch!) + a copy of
    // corpus doc 20
    val chunks: Seq[Seq[(Long, String)]] = Seq(
      (400L until 450L).map(i => (i, textOf(i))) :+ (2000010L, textOf(10)),
      Seq((3000445L, textOf(445)), (2000020L, textOf(20))))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-dedup-src")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-dedup-chunk$i")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val indexDir = java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-dedup-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-dedup-ckpt").toString
    DedupStream.seedIndex(corpus, indexDir, "doc_id", "text")
    // simulate a crash strictly between batch 0's two writes: its
    // index generation exists from the failed attempt. The replay
    // must NOT probe it (self-flagging) — run() excludes gen=0 while
    // processing batch 0, then overwrites it idempotently.
    graft.operators.Dedup.bandIndex(chunks.head.toDF("doc_id", "text"),
        "doc_id", "text", 3, 8, 4, graft.operators.Dedup.lshBandsNarrow _)
      .write.mode("overwrite").parquet(s"$indexDir/gen=0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    DedupStream.run(stream, indexDir, outDir, ckptDir, "doc_id", "text")
    val verdicts = spark.read.parquet(outDir)
      .select("doc_id", "status", "dup_of")
      .as[(Long, String, Option[Long])].collect().map(v => v._1 -> v).toMap
    assert(verdicts.size == 53)
    assert(verdicts(2000010L)._2 == "dup_index" && verdicts(2000010L)._3.exists(_ <= 10L))
    assert(verdicts(2000020L)._2 == "dup_index" && verdicts(2000020L)._3.exists(_ <= 20L))
    // the cross-batch case: 3000445 duplicates a doc the seeded index
    // never saw — only the chunk-1 index append can flag it
    assert(verdicts(3000445L)._2 == "dup_index" && verdicts(3000445L)._3.contains(445L),
      s"cross-batch dup not flagged: ${verdicts(3000445L)}")
    // fresh docs stay mostly keep
    assert((400L until 450L).count(i => verdicts(i)._2 == "keep") > 40)

    // compaction folds the appended generations to one row per bucket
    // and preserves probe verdicts
    val preRows = spark.read.parquet(indexDir).count()
    val preBuckets = spark.read.parquet(indexDir)
      .select("band", "band_sig").distinct().count()
    assert(preRows > preBuckets, "expected multi-generation index before compaction")
    DedupStream.compactIndex(spark, indexDir)
    val compacted = spark.read.parquet(indexDir)
    assert(compacted.count() == preBuckets)
    val reprobe = graft.operators.Dedup.probeBatch(
      compacted,
      Seq((4000445L, textOf(445))).toDF("doc_id", "text"),
      "doc_id", "text", 3, 8, 4, graft.operators.Dedup.lshBandsNarrow _)
      .collect()
    assert(reprobe.head.getString(1) == "dup_index" && reprobe.head.getLong(2) == 445L,
      s"probe after compaction broken: ${reprobe.toSeq}")
  }

  test("streaming MEM index flags cross-batch exact runs at delta cost") {
    import spark.implicits._
    import graft.streaming.MemStream
    def words(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val passageP = words(1 to 17, "p") // lives in the SEEDED lake
    val passageQ = words(1 to 16, "q") // introduced by CHUNK 0
    val seed = Seq(
      (1L, s"${words(1 to 5, "a")} $passageP ${words(1 to 4, "z")}"), // P at pos 6
      (2L, words(1 to 30, "n"))).toDF("doc_id", "text")
    // chunk 0: fresh doc with Q; chunk 1: doc repeating P (vs the
    // seed) AND Q (vs chunk 0 — the cross-batch plant)
    val chunks: Seq[Seq[(Long, String)]] = Seq(
      Seq((100L, s"${words(1 to 3, "f")} $passageQ ${words(1 to 2, "g")}"), // Q at pos 4
        (101L, words(1 to 25, "h"))),
      Seq((200L, s"${words(1 to 2, "w")} $passageP ${words(1 to 3, "v")} $passageQ")))
        // in doc 200: P at pos 3, Q at pos 23
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mem-src")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-mem-chunk$i")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val indexDir = java.nio.file.Files.createTempDirectory("graft-mem-idx").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-mem-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-mem-ckpt").toString
    MemStream.seedIndex(seed, indexDir, "doc_id", "text")
    // crash plant: batch 0's index generation exists from a failed
    // attempt strictly between the two writes — the replay must not
    // probe it (doc 100 would flag as repeating itself), then
    // overwrite it idempotently
    graft.operators.Dedup.memIndexMinSites(
        chunks.head.toDF("doc_id", "text"), "doc_id", "text", 15)
      .write.mode("overwrite").parquet(s"$indexDir/gen=0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    MemStream.run(stream, indexDir, outDir, ckptDir, "doc_id", "text")
    def runsOf(batch: Int) = spark.read.parquet(s"$outDir/batch=$batch")
      .select("doc_id", "start", "lake_doc", "lake_start", "match_len")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // batch 0: nothing in the seed repeats; the crash-planted gen=0
    // was excluded, so doc 100 must NOT flag against itself
    assert(runsOf(0).isEmpty, s"batch 0 self-flagged: ${runsOf(0)}")
    // batch 1: doc 200 hits P against the SEED (doc 1, pos 6) and Q
    // against CHUNK 0's appended generation (doc 100, pos 4)
    assert(runsOf(1) == Set(
      (200L, 3L, 1L, 6L, 17L),
      (200L, 23L, 100L, 4L, 16L)), s"got ${runsOf(1)}")
    // parity with the one-shot recompute: probe chunk 1 against the
    // full lake-so-far (seed ∪ chunk 0) built from scratch
    val oneShot = graft.operators.Dedup.memProbe(
      graft.operators.Dedup.memIndexMinSites(
        seed.unionByName(chunks.head.toDF("doc_id", "text")),
        "doc_id", "text", 15),
      chunks(1).toDF("doc_id", "text"), "doc_id", "text", 15)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(oneShot == runsOf(1), s"stream/recompute divergence: $oneShot vs ${runsOf(1)}")
    // compaction folds generations to one row per gram hash and
    // preserves probe results
    val preRows = spark.read.parquet(indexDir).count()
    val keys = spark.read.parquet(indexDir).select("h").distinct().count()
    assert(preRows > keys, "expected multi-generation index before compaction")
    MemStream.compactIndex(spark, indexDir)
    val compacted = spark.read.parquet(indexDir)
    assert(compacted.count() == keys)
    val reprobe = graft.operators.Dedup.memProbe(
      compacted.groupBy(col("h")).agg(min(col("rank")).as("rank")),
      chunks(1).toDF("doc_id", "text"), "doc_id", "text", 15)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // post-compaction the index ALSO holds batch 1's own generation,
    // so doc 200 additionally matches itself at delta 0 — drop the
    // self rows and the cross-doc probe must be unchanged
    assert(reprobe.filter(r => r._3 != 200L) == runsOf(1),
      s"probe after compaction broken: $reprobe")
  }

  test("streaming quality gate quarantines violating rows with their constraint labels") {
    import spark.implicits._
    import graft.streaming.QualityGate
    // chunk 1: clean rows; chunk 2: two planted violations
    val chunks: Seq[Seq[(Long, String, Long)]] = Seq(
      Seq((1L, "alpha", 10L), (2L, "beta", 20L)),
      Seq((3L, "gamma", 30L), (4L, "", 40L), (5L, "delta", -1L)))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-gate-src")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-gate-chunk$i")
      rows.toDF("id", "name", "qty")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val outDir = java.nio.file.Files.createTempDirectory("graft-gate-out").toString
    val quarDir = java.nio.file.Files.createTempDirectory("graft-gate-quar").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-gate-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qty", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    QualityGate.run(stream,
      Seq("name_nonempty" -> (col("name") === ""), "qty_positive" -> (col("qty") <= 0)),
      outDir, quarDir, ckptDir)
    val clean = spark.read.parquet(outDir).select("id").as[Long].collect().toSet
    val quar = spark.read.parquet(quarDir)
      .select("id", "violations").as[(Long, String)].collect().toMap
    assert(clean == Set(1L, 2L, 3L))
    assert(quar == Map(4L -> "name_nonempty", 5L -> "qty_positive"))
  }

  test("streaming rollup view: generational merge survives a replayed commit") {
    import spark.implicits._
    import graft.streaming.RollupStream
    // three ingest chunks of (user_id, ts_us); user 7 spans all three
    val chunks: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 1000L), (7L, 2000L), (2L, 1500L)),
      Seq((7L, 9000L), (3L, 500L)),
      Seq((7L, 4000L), (1L, 8000L), (4L, 100L)))
    def df(rows: Seq[(Long, Long)]) = rows.toDF("user_id", "ts_us")
      .select(col("user_id"), expr("timestamp_micros(ts_us)").as("ts"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rollup-src")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-rollup-c$i")
      df(rows).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val outDir = java.nio.file.Files.createTempDirectory("graft-rollup-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-rollup-ckpt").toString
    // simulate a crash AFTER batch 0 committed gen=0 but BEFORE the
    // checkpoint advanced: the engine will replay batch 0, and the
    // already-present generation must make that replay a no-op
    df(chunks(0)).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts").cast("timestamp"))).as("last_ts_us"))
      .write.mode("overwrite").parquet(s"$outDir/gen=0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    RollupStream.run(stream, "user_id", "ts", outDir, ckptDir)
    val view = RollupStream.currentView(spark, outDir).get
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val direct = df(chunks.flatten).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(unix_micros(col("ts"))).as("l"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(view.toSeq == direct.toSeq,
      s"view ${view.toSeq} != direct rollup ${direct.toSeq}")
    // exactly one generation survives the final cleanup
    val gens = java.nio.file.Files.list(java.nio.file.Paths.get(outDir)).iterator()
    val left = scala.jdk.CollectionConverters.IteratorHasAsScala(gens).asScala
      .filter(_.getFileName.toString.startsWith("gen=")).toSeq
    assert(left.size == 1, s"stale generations left behind: $left")
  }

  test("streaming drift monitor passes an in-distribution batch, flags a planted shift") {
    import spark.implicits._
    import graft.streaming.DriftMonitor
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("n_chars"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val refHist = DriftMonitor.referenceHistogram(ref, "n_chars")
    assert(refHist.values.sum == ref.count(), "histogram must partition the reference")
    // chunk 0: the odd half (same distribution); chunk 1: only the
    // longest docs — a planted covariate shift the gate must catch
    val live = docs.filter(col("doc_id") % 2 === 1)
    val cut = live.agg(expr("percentile(n_chars, 0.9)")).head.getDouble(0)
    val chunks = Seq(live, live.filter(col("n_chars") >= cut))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-drift-src")
    chunks.zipWithIndex.foreach { case (df, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-drift-chunk$i")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val outDir = java.nio.file.Files.createTempDirectory("graft-drift-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-drift-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    DriftMonitor.run(stream, "n_chars", refHist, threshold = 0.2,
      outDir = outDir, checkpointDir = ckptDir)
    val report = spark.read.parquet(outDir)
    assert(report.count() == 2 * DriftMonitor.NBins, "5 bins per batch")
    val byBatch = report.select(col("batch_id"), col("psi_total"), col("drifted"))
      .distinct().collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(!byBatch(0L)._2,
      f"in-distribution batch flagged: psi=${byBatch(0L)._1}%.4f")
    assert(byBatch(1L)._2,
      f"planted shift missed: psi=${byBatch(1L)._1}%.4f")
    // per-bin counts conserve each batch
    val n0 = report.filter(col("batch_id") === 0).agg(sum("n_live")).head.getLong(0)
    assert(n0 == chunks(0).count())
    // psi_total is the sum of its terms (one distinct total per batch)
    val sums = report.groupBy("batch_id")
      .agg(abs(sum("psi_term") - first("psi_total")).as("diff"))
    assert(sums.filter(col("diff") > 1e-9).count() == 0)
  }

  test("foreachBatch parquet sink lands the full stream, partitioned") {
    import graft.streaming.EventStream
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    EventStream.runToParquet(spark,
      EventStream.readEvents(spark, sf), out, ckpt, Seq("event_type"))
    val back = spark.read.parquet(out)
    val src = Tables.events(spark, sf)
    assert(back.count() == src.count())
    // partition layout on disk + partition pruning on read
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(dirs.length == 5, s"expected 5 event_type partitions, got ${dirs.length}")
    val pruned = back.filter(col("event_type") === "click")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(pruned.count() == src.filter(col("event_type") === "click").count())
  }

  test("streaming restart from checkpoint is effectively-once (no replay, no loss)") {
    import graft.streaming.EventStream
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-restart-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-ckpt").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
    def stream() = graft.Tables.normalizeEventTs(
      spark.readStream.schema(raw.schema).parquet(srcDir))

    raw.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    EventStream.runToParquet(spark, stream(), out, ckpt, Seq("event_type"))
    val afterFirst = spark.read.parquet(out).count()

    raw.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    EventStream.runToParquet(spark, stream(), out, ckpt, Seq("event_type"))

    val back = spark.read.parquet(out)
    val total = raw.count()
    assert(afterFirst < total, "first run must process only the first file")
    assert(back.count() == total, "restart must pick up exactly the new file")
    assert(back.select("event_id").distinct().count() == total,
      "no event may be written twice across the restart")
  }

  test("sql-registered minhash functions band identically to the column API") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_minhash_bands(
        |  filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' '), w -> w != ''),
        |  3, 8, 4) AS bands FROM mh_docs""".stripMargin)
      .as[(Long, Array[Long])].collect().toMap
    assert(viaSql(1L).toSeq == viaSql(2L).toSeq, "identical docs must band identically")
    val viaApi = graft.operators.Dedup.lshBandsNarrow(docs, "doc_id", "text", 3, 8, 4)
      .filter(col("doc_id") === 1L).select("band_sig")
      .as[Long].collect().toSet
    assert(viaSql(1L).toSet == viaApi, "SQL and column API must agree")
  }

  test("streaming budget gate: global budget binds across batches, replay-safe") {
    import spark.implicits._
    import graft.streaming.BudgetGate
    // 3 chunks × 40 docs, deterministic token counts; budget binds
    // mid-chunk-1 so chunk 0 admits fully, chunk 1 partially, chunk 2
    // not at all
    def toks(i: Long): Long = 100L + (i % 7)
    val chunks: Seq[Seq[(Long, Long)]] =
      (0 until 3).map(c => (c * 40L until (c + 1) * 40L).map(i => (i, toks(i))))
    val budget = 6000L
    // sequential reference: admit in (batch, doc_id) order while the
    // global running total fits
    var running = 0L
    val expected = chunks.flatten.filter { case (_, w) =>
      if (running + w <= budget) { running += w; true } else false
    }.map(_._1).toSet
    assert(expected.size > 40 && expected.size < 80, "budget must bind mid-chunk-1")

    val srcDir = java.nio.file.Files.createTempDirectory("graft-budget-src")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-budget-chunk$i")
      rows.toDF("doc_id", "n_tokens")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1500000000000L + i * 60000L))
    }
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft-budget-led").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-budget-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-budget-ck").toString
    BudgetGate.initLedger(spark, ledgerDir)
    // simulate a crashed first attempt of batch 0: garbage in BOTH
    // per-batch partitions — the replay must overwrite, and batch 0's
    // prior-spend read (batch < 0) must not see the poisoned ledger row
    Seq((999999L, 999999L)).toDF("doc_id", "n_tokens")
      .write.mode("overwrite").parquet(s"$outDir/batch=0")
    spark.range(1).select(lit(123456L).as("spent"))
      .write.mode("overwrite").parquet(s"$ledgerDir/batch=0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    BudgetGate.run(stream, ledgerDir, outDir, ckptDir,
      sortCols = Seq("doc_id"), weightCol = "n_tokens", budget = budget)

    val admitted = spark.read.parquet(outDir)
    val got = admitted.select("doc_id").as[Long].collect().toSet
    assert(got == expected,
      s"admitted set diverges: extra=${got -- expected} missing=${expected -- got}")
    // global watermark: within budget, and monotone in admission order
    val cums = admitted.orderBy(col("batch"), col("doc_id"))
      .select("cum_global").as[Long].collect()
    assert(cums.last <= budget && cums.toSeq == cums.sorted.toSeq)
    assert(cums.last == chunks.flatten.filter(e => expected(e._1)).map(_._2).sum)
    // ledger records exactly the committed spend, poisoned row overwritten
    val ledger = spark.read.parquet(ledgerDir)
      .select("batch", "spent").as[(Int, Long)].collect().toMap
    assert(ledger(-1) == 0L && ledger(2) == 0L)
    assert(ledger(0) + ledger(1) == cums.last,
      s"ledger ${ledger.toSeq.sorted} must sum to the committed spend")
  }

  test("composed curation stream equals the one-shot batch chain, exactly-once over planted debris") {
    import spark.implicits._
    import graft.streaming.CurationStream
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").as[String].first()
    val benchmark = docs.filter(col("doc_id") < 20)
    // three doc_id-ordered chunks with planted cases: a cross-batch
    // exact dup (55 copies 25), a contaminated doc (56 copies
    // benchmark doc 5), and an in-batch dup pair (57, 58 both copy 30)
    val chunks: Seq[Seq[(Long, String)]] = Seq(
      (20L to 39L).map(i => (i, textOf(i))),
      (40L to 54L).map(i => (i, textOf(i))) ++
        Seq((55L, textOf(25)), (56L, textOf(5))),
      Seq((57L, textOf(30)), (58L, textOf(30))) ++
        (59L to 70L).map(i => (i, textOf(i))))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cur-src")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-cur-chunk$i")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      val found = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.move(found, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val union = chunks.flatten.toDF("doc_id", "text")
    // budget at ~60% of the union's whitespace tokens so the boundary
    // lands mid-stream: both "kept" and "budget" verdicts must occur
    val budget = union
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("w"))
      .agg(sum(col("w"))).first().getLong(0) * 6 / 10

    val indexDir = java.nio.file.Files.createTempDirectory("graft-cur-idx").toString
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft-cur-led").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cur-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cur-ckpt").toString
    CurationStream.init(spark, indexDir, ledgerDir)
    // planted crash debris from a "failed first attempt", both state
    // dirs: a poisoned index generation for batch 0 (keep_id -999
    // would flag every same-hash doc as a dup of a ghost) and a
    // poisoned ledger row for batch 0 (a huge eligible would zero the
    // remaining budget). The replay must ignore BOTH (own-generation
    // exclusion / strictly-earlier ledger read) and overwrite them.
    spark.range(1)
      .select(lit("deadbeef").as("th"), lit(-999L).as("keep_id"))
      .write.mode("overwrite").parquet(s"$indexDir/gen=0")
    spark.range(1)
      .select(lit(1000000000L).as("eligible"), lit(1000000000L).as("spent"))
      .write.mode("overwrite").parquet(s"$ledgerDir/batch=0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    CurationStream.run(stream, benchmark, indexDir, ledgerDir, outDir, ckptDir,
      budget = budget)

    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "verdict", "ws_tokens", "dup_of", "cum_global")
      .as[(Long, String, Long, Option[Long], Option[Long])].collect().toSet
    val emptyPrior = spark.range(0)
      .select(lit("").as("th"), lit(0L).as("keep_id"))
    val (goldenDf, _) = graft.streaming.CurationStream.verdictChain(
      union, benchmark, emptyPrior, priorEligible = 0L, budget = budget,
      contamN = 8)
    val golden = goldenDf
      .select("doc_id", "verdict", "ws_tokens", "dup_of", "cum_global")
      .as[(Long, String, Long, Option[Long], Option[Long])].collect().toSet
    assert(streamed.size == chunks.map(_.size).sum)
    assert(streamed == golden,
      s"stream/batch verdict divergence: ${(streamed diff golden).take(5)} vs ${(golden diff streamed).take(5)}")
    // the planted cases came out as planted
    val byId = streamed.map(v => v._1 -> v).toMap
    assert(byId(55L)._2 == "dup" && byId(55L)._4.contains(25L), s"cross-batch dup: ${byId(55L)}")
    assert(byId(57L)._2 == "dup" && byId(57L)._4.contains(30L))
    assert(byId(58L)._2 == "dup" && byId(58L)._4.contains(30L))
    assert(byId(56L)._2 == "contam", s"contamination not flagged: ${byId(56L)}")
    assert(streamed.exists(_._2 == "kept") && streamed.exists(_._2 == "budget"),
      "budget boundary must land mid-stream")
    // debris was overwritten, not merged: no ghost ids in the index,
    // and the ledger's global accounting reconciles with the output
    assert(spark.read.parquet(indexDir).filter(col("keep_id") < 0).count() == 0,
      "poisoned index generation survived the replay")
    val ledger = spark.read.parquet(ledgerDir)
      .agg(sum(col("eligible")), sum(col("spent"))).first()
    val outAgg = spark.read.parquet(outDir)
      .agg(sum(when(col("verdict").isin("kept", "budget"), col("ws_tokens"))),
        sum(when(col("verdict") === "kept", col("ws_tokens")))).first()
    assert(ledger.getLong(0) == outAgg.getLong(0) && ledger.getLong(1) == outAgg.getLong(1),
      "ledger does not reconcile with committed output")
    assert(ledger.getLong(1) <= budget, "admitted spend exceeds the budget")
  }

  test("manifest checksum: two independent 32-bit lanes, merge-exact") {
    // Collision bound: one 32-bit additive lane is birthday-plausible
    // to collide silently at ~10⁹ docs/shard; two INDEPENDENT lanes
    // (md5 chars 1-8 and 9-16) put a corruption-cancellation event at
    // ~2⁻⁶⁴ while keeping each lane's exact sum < 2⁶² up to 2³⁰
    // docs/shard in both engines (no mod-2⁶⁴ wrap, which ANSI Spark
    // refuses). Incremental merge (q180) must be bit-equal to the
    // full scan (q178) — the whole point of an additive checksum.
    import org.apache.spark.sql.functions._
    val full = SparkEntry.queries("q178_shard_manifest")(spark, sf)
    val merged = SparkEntry.queries("q180_manifest_merge")(spark, sf)
    assert(full.exceptAll(merged).isEmpty && merged.exceptAll(full).isEmpty,
      "incremental manifest merge drifted from the full scan")
    // lanes are genuinely independent bits, not copies of each other
    val sameLane = full.filter(col("ids_checksum_lo") === col("ids_checksum_hi")).count()
    assert(sameLane == 0, "checksum lanes collide on every shard — not independent")
  }

  test("stateful streaming sessionizer matches batch sessionize") {
    val streamed = StatefulSessions.run(spark, sf, gapSeconds = 1800L)
      .select(col("user_id"), col("session_start_us"), col("session_end_us"), col("n_events"))
      .orderBy("user_id", "session_start_us")
      .collect().toSeq
    val batch = graft.queries.TemporalQueries.queries("q44_sessionize")(spark, sf)
      .select(col("user_id"), col("session_start_us").as("s"),
        col("session_end_us").as("e"), col("n_events"))
      .orderBy("user_id", "s")
      .collect().toSeq
    assert(streamed.size == batch.size)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
  }
}

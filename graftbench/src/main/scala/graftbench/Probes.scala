package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Dedup, TextAnalysis}
import graft.pipeline.AnnotationPipeline

/** Per-layer probes of the traced run: each times public calls into one
  * module on the generated inputs, labelled so the engine listener can
  * attribute their jobs. */
object Probes {
  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def labelled[A](spark: SparkSession, spans: Spans, op: String)(f: => A): A = {
    Labels.set(spark.sparkContext, op, "probe")
    try spans(op)(f) finally Labels.clear(spark.sparkContext)
  }

  /** Rows of a parquet directory, from the file footers. */
  private def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(conf).listStatus(path)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Each AnnotationPipeline.sources family materialized alone: a fresh
    * sources() call, that family written as parquet, the cache cleared. */
  def pipeline(spark: SparkSession, sfDir: String, outDir: String,
               spans: Spans): Map[String, Double] = {
    val families = AnnotationPipeline.sources(spark, sfDir).keys.toSeq.sorted
    spark.catalog.clearCache()
    families.flatMap { f =>
      val (_, s) = labelled(spark, spans, s"pipeline.$f") {
        secs(AnnotationPipeline.sources(spark, sfDir)(f)
          .write.mode("overwrite").parquet(s"$outDir/$f"))
      }
      spark.catalog.clearCache()
      val rows = parquetRows(spark, s"$outDir/$f")
      Seq(s"pipeline.source_s.$f" -> s, s"pipeline.source_rows.$f" -> rows.toDouble)
    }.toMap
  }

  /** Dedup and quality operators on the corpus; LSH candidate pairs are
    * written once and reused by connected components and the precision
    * check (pairs whose exact 3-shingle Jaccard reaches 0.8). */
  def operators(spark: SparkSession, corpus: String, outDir: String,
                spans: Spans): Map[String, Double] = {
    val docs = spark.read.parquet(corpus).select(col("doc_id"), col("text"))
    def timed(op: String)(f: => Unit): Double = {
      val (_, s) = labelled(spark, spans, s"operators.$op")(secs(f))
      spark.catalog.clearCache()
      s
    }
    val pairsDir = s"$outDir/lsh_pairs"
    val exact = timed("exact_dedup")(noop(Dedup.exactDedup(docs, "doc_id", "text")))
    val lsh = timed("lsh_pairs") {
      val bands = Dedup.lshBandsMd5Narrow(docs, "doc_id", "text",
        shingleWidth = 3, nSeeds = 8, rowsPerBand = 4)
      Dedup.lshCandidatePairs(bands).write.mode("overwrite").parquet(pairsDir)
    }
    val pairs = spark.read.parquet(pairsDir)
    val cc = timed("cc")(noop(Dedup.connectedComponentsTwoPhase(pairs)))
    val simhash = timed("simhash_pairs")(noop(Dedup.simhashNearDups(docs, "doc_id", "text", 3)))
    val winnow = timed("winnow")(noop(Dedup.winnowedFingerprints(docs, "doc_id", "text", 8, 13)))
    val quality = timed("quality")(noop(TextAnalysis.qualityScore(docs, "doc_id", "text")))
    val candidates = pairs.count()
    val verified = Dedup.ngramJaccard(docs, pairs, "doc_id", "text", 3)
      .filter(col("jaccard") >= 0.8).count()
    spark.catalog.clearCache()
    Map("operators.exact_dedup_s" -> exact, "operators.lsh_pairs_s" -> lsh,
      "operators.cc_s" -> cc, "operators.simhash_pairs_s" -> simhash,
      "operators.winnow_s" -> winnow, "operators.quality_s" -> quality,
      "operators.lsh_candidates" -> candidates.toDouble,
      "operators.lsh_precision" ->
        (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }

  /** Kernel throughput in million rows per second: each kernel projected
    * over cached input (text, or its normWords tokens for the token
    * kernels) into a noop sink, on all task threads; median of three
    * runs. The corpus text is replicated so one run is not dominated by
    * job overhead. */
  def functions(spark: SparkSession, corpus: String, spans: Spans): Map[String, Double] = {
    val replicas = 4
    val text = spark.read.parquet(corpus).select(col("text"))
      .crossJoin(spark.range(replicas)).select(col("text"))
      .repartition(spark.sparkContext.defaultParallelism).persist()
    val n = text.count().toDouble
    val tokens = text.select(GraftFunctions.normWords(col("text")).as("ws")).persist()
    tokens.count()
    val kernels: Seq[(String, DataFrame, Column)] = Seq(
      ("normwords", text, GraftFunctions.normWords(col("text"))),
      ("nfc", text, GraftFunctions.nfc(col("text"))),
      ("minhash", tokens, GraftFunctions.minhashSig(col("ws"), 3, 8)),
      ("simhash", tokens, GraftFunctions.simhash64(col("ws"))),
      ("winnow", tokens, GraftFunctions.winnow(col("ws"), 8, 13)))
    val out = kernels.map { case (k, in, c) =>
      val runs = (0 until 3).map { _ =>
        labelled(spark, spans, s"functions.$k")(secs(noop(in.select(c.as("x")))))._2
      }
      s"functions.${k}_mrows_s" -> n / Main.median(runs) / 1e6
    }.toMap
    tokens.unpersist(); text.unpersist()
    out
  }

  /** One curation pass with the onStage hook: per-stage seconds summed
    * over the micro-batches, state size after the replay, bytes written
    * and source-read amplification. Returns the micro-batch results too;
    * the caller checks the replay's outputs like a curation_stream pass. */
  def streaming(spark: SparkSession, data: String, passDir: String,
                spans: Spans): (Map[String, Double], Seq[OpResult]) = {
    val stages = mutable.Map[String, Double]().withDefaultValue(0.0)
    val hooks = PassHooks(Some(spans), (_, st, s) => stages.synchronized { stages(st) += s })
    val results = CurationWorkload.runPass(spark, data, passDir, hooks)
    if (results.exists(!_.ok)) return (Map.empty, results)
    val stats = CurationWorkload.lastStreamStats
    val stateDirs = Seq(s"$passDir/curation/index", s"$passDir/curation/ledger",
      s"$passDir/dedup/index")
    val stateRows = stateDirs.map(d => spark.read.parquet(d).count()).sum
    val stageNames = Seq("index_probe", "quality", "dedup_probe", "decontam",
      "budget_prefix_sum", "verdict_write", "ledger_index_write")
    (stageNames.map(st => s"streaming.stage_s.$st" -> stages.synchronized(stages(st))).toMap ++
      Map(
        "streaming.batch_s" -> stats("batch_s"),
        "streaming.state_rows" -> stateRows.toDouble,
        "streaming.state_mb" -> stateDirs.map(CurationWorkload.dirBytes).sum / 1e6,
        "streaming.written_mb" -> CurationWorkload.dirBytes(passDir) / 1e6,
        "streaming.read_amplification" -> stats("read_amplification")), results)
  }
}

package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.streaming.{CurationStream, DedupStream}

/** One attempt at one operation: a query (construction plus writing its
  * result) or one micro-batch. A failed attempt carries no time. */
final case class OpResult(name: String, ok: Boolean, seconds: Double,
                          constructS: Double, error: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok,
    "seconds" -> seconds, "construct_s" -> constructS, "error" -> error)
}

/** Hooks a traced pass hands to the workload; the untraced pass gets
  * [[PassHooks.none]]. */
final case class PassHooks(spans: Option[Spans],
                           onStage: (Long, String, Double) => Unit) {
  def span[A](name: String)(f: => A): A = spans match {
    case Some(s) => s(name)(f)
    case None => f
  }
}

object PassHooks {
  val none: PassHooks = PassHooks(None, (_, _, _) => ())
}

sealed trait Workload {
  def name: String
  /** Input directory, relative to the generated data root. */
  def inputDir: String
  /** Operations one pass attempts, in order. */
  def opNames: Seq[String]
  /** Make the session ready for this workload: resolve every input's
    * schema and run one job over the first. */
  def warm(spark: SparkSession, data: String): Unit =
    Files.list(Paths.get(data, inputDir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      .map(p => spark.read.parquet(p.toString)).head.count()
  def runPass(spark: SparkSession, data: String, passDir: String,
              hooks: PassHooks): Seq[OpResult]
  /** What the checker needs besides the outputs (oracle SQL, settings). */
  def checkSpec: Map[String, Any]
}

/** A workload of named SparkEntry queries; each result is written as
  * parquet under the pass directory, one directory per query. */
final case class QueryWorkload(name: String, inputDir: String,
                               opNames: Seq[String]) extends Workload {
  def runPass(spark: SparkSession, data: String, passDir: String,
              hooks: PassHooks): Seq[OpResult] = {
    val sc = spark.sparkContext
    val dir = s"$data/$inputDir"
    val queries = SparkEntry.queries
    opNames.map { q =>
      val t0 = System.nanoTime()
      var t1 = t0
      val r = try {
        hooks.span(q) {
          Labels.set(sc, q, "construct")
          val df = hooks.span("graft.queries")(queries(q)(spark, dir))
          t1 = System.nanoTime()
          Labels.set(sc, q, "write")
          hooks.span("write")(df.write.mode("overwrite").parquet(s"$passDir/$q"))
        }
        val t2 = System.nanoTime()
        OpResult(q, ok = true, (t2 - t0) / 1e9, (t1 - t0) / 1e9, "")
      } catch {
        case e: Throwable =>
          OpResult(q, ok = false, 0.0, 0.0, Main.describe(e))
      } finally {
        Labels.clear(sc)
        spark.catalog.clearCache()
      }
      r
    }
  }

  def checkSpec: Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("kind" -> "queries", "input" -> inputDir,
      "oracle_sql" -> opNames.filter(oracle.contains).map(q => q -> oracle(q)).toMap)
  }
}

/** The corpus replayed in doc_id order as micro-batches (one chunk file
  * per trigger) through CurationStream.run, then DedupStream.run; the
  * dedup index is compacted at the end. Each micro-batch is one
  * operation, timed by the stream's own progress events. */
object CurationWorkload extends Workload {
  val name = "curation_stream"
  val inputDir = "corpus"
  val streamDir = "stream"
  val nBatches = 3
  /** Token budget: about four fifths of the ~50k tokens that survive the
    * content gates, so the kept prefix ends inside the second of the three
    * micro-batches and the ledger carries spend across batches. */
  val budget = 40000L
  val benchmarkIds = 20L
  val streams = Seq("curation", "dedup")
  def opNames: Seq[String] =
    for (s <- streams; b <- 0 until nBatches) yield s"$s.batch$b"

  private final class BatchListener extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer[(String, Long, Double, Long)]()
    @volatile var current = ""
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) batches.synchronized {
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += ((current, p.batchId, ms / 1e3, p.numInputRows))
      }
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Per-pass stream figures the traced run reports. */
  @volatile var lastStreamStats: Map[String, Double] = Map.empty

  def runPass(spark: SparkSession, data: String, passDir: String,
              hooks: PassHooks): Seq[OpResult] = {
    val sc = spark.sparkContext
    val src = s"$data/$streamDir"
    val corpus = s"$data/$inputDir/documents.parquet"
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val listener = new BatchListener
    spark.streams.addListener(listener)
    val failed = mutable.Map[String, String]()
    def runStream(s: String)(f: => Unit): Unit = {
      listener.current = s
      Labels.set(sc, s, "stream")
      try hooks.span(s"graft.streaming.$s")(f)
      catch { case e: Throwable => failed(s) = Main.describe(e) }
      finally {
        Labels.clear(sc)
        // deliver this stream's progress events before the next starts
        org.apache.spark.graftbench.ListenerDrain(sc)
      }
    }
    val cur = s"$passDir/curation"; val ded = s"$passDir/dedup"
    try {
      runStream("curation") {
        CurationStream.init(spark, s"$cur/index", s"$cur/ledger")
        val benchmark = spark.read.parquet(corpus)
          .filter(col("doc_id") < benchmarkIds).select(col("doc_id"), col("text"))
        CurationStream.run(stream(), benchmark, s"$cur/index", s"$cur/ledger",
          s"$cur/verdicts", s"$cur/checkpoint", budget = budget,
          onStage = hooks.onStage)
      }
      runStream("dedup") {
        DedupStream.seedIndex(spark.read.parquet(corpus).filter(lit(false)),
          s"$ded/index", "doc_id", "text")
        DedupStream.run(stream(), s"$ded/index", s"$ded/verdicts",
          s"$ded/checkpoint", "doc_id", "text")
        DedupStream.compactIndex(spark, s"$ded/index")
      }
    } finally spark.streams.removeListener(listener)
    val seen = listener.batches.synchronized(listener.batches.toSeq)
    val corpusRows = spark.read.parquet(corpus).count().toDouble
    lastStreamStats = Map(
      "read_amplification" -> streams.map(s =>
        seen.filter(_._1 == s).map(_._4).sum / corpusRows).max,
      "batch_s" -> Main.median(seen.map(_._3)))
    streams.flatMap { s =>
      val mine = seen.filter(_._1 == s).sortBy(_._2)
      (0 until nBatches).map { b =>
        val op = s"$s.batch$b"
        failed.get(s) match {
          case Some(err) => OpResult(op, ok = false, 0.0, 0.0, err)
          case None if b >= mine.size =>
            OpResult(op, ok = false, 0.0, 0.0, s"stream ran ${mine.size} of $nBatches batches")
          case None => OpResult(op, ok = true, mine(b)._3, 0.0, "")
        }
      }
    }
  }

  def checkSpec: Map[String, Any] = Map("kind" -> "curation", "input" -> inputDir,
    "budget" -> budget, "batches" -> nBatches)

  /** Recursive size of a directory's regular files, in bytes. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(x => Files.size(x)).sum
  }
}

object Workloads {
  private def q(prefix: String*): Seq[String] = {
    val names = SparkEntry.queries.keySet
    prefix.map(p => names.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalArgumentException(s"no query named $p")))
  }

  /** dplyr-verb queries from q01-q27 and two loop operators (triangle
    * counting, and label propagation, whose rounds run as eager jobs
    * while the plan is built). */
  lazy val tidy = QueryWorkload("tidy_sf01", "sf",
    q("q01", "q03", "q05", "q07", "q08", "q10", "q12", "q17", "q20", "q93", "q233"))

  /** The reference's end product: every source family tidied and joined
    * onto the key template, plus the three-source annotation table. */
  lazy val annotate = QueryWorkload("annotate_sf01", "sf_annotate",
    q("q189", "q27"))

  /** Exact dedup, LSH and SimHash near-dup pairs (both hit their
    * hot-bucket guards on the corpus's hot doc), winnowing, n-gram
    * Jaccard, decontamination and the text statistics over the
    * near-duplicate corpus. */
  lazy val dedup = QueryWorkload("dedup_corpus", "corpus",
    q("q30", "q31b", "q110", "q149", "q33", "q37", "q61", "q70", "q195"))

  def apply(name: String): Workload = name match {
    case "tidy_sf01" => tidy
    case "annotate_sf01" => annotate
    case "dedup_corpus" => dedup
    case "curation_stream" => CurationWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

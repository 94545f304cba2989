package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark process for one workload:
  *
  *   graftbench.Main --workload W --data DIR --out DIR --seconds S --trace 0|1 --cpus N
  *
  * Sets the session up SETUPS times (the first from JVM start; once in a
  * traced run) and then runs whole passes of the workload until S
  * seconds have gone by, at least one. The first pass runs in a cold JVM, as a batch job does. In
  * a traced run every pass is traced, and the per-layer probes follow.
  * Everything is written to DIR/result.json; correctness is checked
  * afterwards by the caller, outside the timed window.
  */
object Main {
  val Setups = 3

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The session Bench and Verify measure, sized to `cpus` task threads,
    * with scratch space inside the run's output directory. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(opts("workload"))
    val data = opts("data")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    def now: Double = System.nanoTime() / 1e9

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    // a traced run reports no set-up time, so it sets up once
    for (i <- 0 until (if (trace) 1 else Setups)) {
      if (spark != null) spark.stop()
      val t0 = now
      spark = session(cpus, out)
      wl.warm(spark, data)
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else now - t0)
    }
    val sc = spark.sparkContext

    val engine = new EngineListener
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var lastTraced: Option[(Seq[OpResult], Map[(String, String), EngineAgg], Spans)] = None
    val tStart = now
    var i = 0
    while (i == 0 || now - tStart < seconds) {
      val spans = new Spans
      val hooks = if (trace) PassHooks(Some(spans), (_, _, _) => ()) else PassHooks.none
      if (trace) { engine.reset(); sc.addSparkListener(engine) }
      val t0 = now
      val ops = wl.runPass(spark, data, s"$out/pass$i", hooks)
      val wall = now - t0
      if (trace) {
        org.apache.spark.graftbench.ListenerDrain(sc)
        sc.removeSparkListener(engine)
        lastTraced = Some((ops, engine.snapshot(), spans))
      }
      passes += Map("index" -> i, "wall_s" -> wall, "ops" -> ops.map(_.toMap))
      i += 1
    }

    val traceOut: Map[String, Any] = lastTraced match {
      case None => Map.empty
      case Some((ops, aggs, spans)) =>
        val opSet = wl.opNames.toSet ++ CurationWorkload.streams
        val mine = aggs.filter { case ((op, _), _) => opSet(op) }
        val total = new EngineAgg
        mine.values.foreach(total.add)
        val constructJobs = mine.collect { case ((_, "construct"), a) => a.jobs }.sum
        // probes run with the listener attached, labelled per call
        engine.reset(); sc.addSparkListener(engine)
        val probeSpans = new Spans
        val (streaming, streamOps) =
          Probes.streaming(spark, data, s"$out/probe/streaming", probeSpans)
        val probes =
          Probes.pipeline(spark, s"$data/${Workloads.annotate.inputDir}", s"$out/probe/pipeline", probeSpans) ++
            Probes.operators(spark, s"$data/corpus/documents.parquet", s"$out/probe/operators", probeSpans) ++
            Probes.functions(spark, s"$data/corpus/documents.parquet", probeSpans) ++
            streaming
        org.apache.spark.graftbench.ListenerDrain(sc)
        sc.removeSparkListener(engine)
        val probeAggs = engine.snapshot()
        val perLayer = Map(
          "queries.construct_s" -> ops.filter(_.ok).map(_.constructS).sum,
          "queries.construct_jobs" -> constructJobs.toDouble,
          "spark.jobs" -> total.jobs.toDouble,
          "spark.stages" -> total.stages.toDouble,
          "spark.tasks" -> total.tasks.toDouble,
          "spark.tasks_per_job" -> (if (total.jobs == 0) 0.0 else total.tasks.toDouble / total.jobs),
          "spark.executor_run_s" -> total.runMs / 1e3,
          "spark.executor_cpu_s" -> total.cpuNs / 1e9,
          "spark.gc_s" -> total.gcMs / 1e3,
          "spark.shuffle_read_mb" -> total.shuffleRead / 1e6,
          "spark.shuffle_write_mb" -> total.shuffleWrite / 1e6,
          "spark.spill_mb" -> total.spill / 1e6,
          "spark.input_mb" -> total.input / 1e6,
          "spark.peak_exec_mem_mb" -> total.peakExecMem / 1e6,
          "trace.wall_s" -> median(passes.map(_("wall_s").asInstanceOf[Double]).toSeq)) ++ probes
        def features(a: Map[(String, String), EngineAgg]) =
          a.toSeq.sortBy(_._1).map { case ((op, phase), agg) =>
            Map("op" -> op, "phase" -> phase) ++ agg.toMap }
        Map("per_layer" -> perLayer,
          "probe_stream" -> Map("dir" -> "probe/streaming", "check" -> CurationWorkload.checkSpec,
            "ops" -> streamOps.map(_.toMap)),
          "op_features" -> features(aggs), "probe_features" -> features(probeAggs),
          "spans" -> spans.toSeq, "probe_spans" -> probeSpans.toSeq)
    }

    val result = Map(
      "workload" -> wl.name, "cpus" -> cpus, "setup_s" -> setupS.toSeq,
      "passes" -> passes.toSeq, "check" -> wl.checkSpec,
      "peak_rss_mb" -> peakRssMb()) ++ traceOut
    Files.writeString(Paths.get(out, "result.json"), Json.render(result))
    spark.stop()
    sys.exit(0)
  }
}

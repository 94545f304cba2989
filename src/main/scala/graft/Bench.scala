package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
object Bench {
  /** Parse the per-query map out of a previously committed bench.json
    * line (our own single-line format) without a JSON dependency. Used
    * as the idle-time snapshot for load-contamination detection.
    */
  private[graft] def parseSnapshot(line: String): Map[String, Double] = {
    val entry = """"(q[0-9A-Za-z_]+)":([0-9]+(?:\.[0-9]+)?)""".r
    val qStart = line.indexOf("\"queries\":")
    if (qStart < 0) Map.empty
    else entry.findAllMatchIn(line.substring(qStart)).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Contamination verdict for a bench pass (factored out for
    * BenchContractSpec). Two independent signals, either flags:
    * (a) per-query blowout — ≥ 3 queries still > 3× their committed
    * idle snapshot after the retry passes; (b) total-wall drift —
    * the summed time over snapshot-shared queries > 1.25× the summed
    * idle snapshot (round 11's driver artifact ran +17% total under
    * loadavg 2 with only ONE query over the 3× line and published
    * `contaminated: false`; the total-wall guard catches exactly that
    * diffuse-load shape). The total guard needs ≥ 5 s of shared idle
    * time so a 1-query subset pass can't flag on sub-second noise.
    * A hot start with no snapshot at all is flagged conservatively.
    */
  private[graft] def contaminationVerdict(results: Seq[(String, Double)],
                                          snapshot: Map[String, Double],
                                          hotStart: Boolean): Boolean = {
    val blown = results.count { case (n, t) =>
      snapshot.get(n).exists(idle => idle >= 0.2 && t > 3.0 * idle)
    }
    val shared = results.filter { case (n, _) => snapshot.contains(n) }
    val sharedIdle = shared.map { case (n, _) => snapshot(n) }.sum
    val totalDrift = sharedIdle >= 5.0 &&
      shared.map(_._2).sum > 1.25 * sharedIdle
    blown >= 3 || totalDrift || (hotStart && snapshot.isEmpty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated subset (BenchContractSpec runs a 1-query
    // pass end-to-end through the real sbt-forked JVM to pin the bare-
    // JSON stdout contract without paying for the full surface).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession(GraftSession.envCpus)
    val surface = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Warm JVM/codegen paths with two representative queries, then
    // drop their caches so every timed query materializes its own
    // lineage (self-persists inside one query stay, cross-query cache
    // reuse is eliminated by clearing between queries below).
    Seq("q01_pricing_summary", "q34_cosine_topk").filter(surface.contains).foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // Load hygiene: this machine runs concurrent sessions, and several
    // round artifacts were load-skewed (r5's q59 at 18.9 s vs 3.9 s
    // idle; r8's whole pass 2x under loadavg 1.96->4.52). Mitigations:
    // (1) any query whose first run takes >= 1 s gets a second run and
    // reports the MIN; (2) when the machine is visibly loaded at start
    // (loadavg > 1.5), every query that came out > 3x its committed
    // idle snapshot gets a third, later run; (3) the artifact carries
    // loadavg_start/_end plus an explicit "contaminated" flag so the
    // driver can discount a hot run instead of silently recording it.
    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "?" }
    def load1(s: String): Double =
      try s.split(" ").head.toDouble catch { case _: Throwable => 0.0 }
    val snapshot: Map[String, Double] =
      try parseSnapshot(Files.readString(Paths.get("bench.json")))
      catch { case _: Throwable => Map.empty }
    val loadStart = loadavg()
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    val firstPass = surface.toSeq.sortBy(_._1).map { case (name, fn) =>
      val first = timeOnce(fn)
      (name, fn, if (first >= 1.0) math.min(first, timeOnce(fn)) else first)
    }
    // Contamination pass: under start load, re-run the queries that blew
    // past their idle snapshot (the whole pass when no snapshot exists).
    val hotStart = load1(loadStart) > 1.5
    val results: Seq[(String, Double)] = if (!hotStart) firstPass.map(t => (t._1, t._3)) else {
      firstPass.map { case (name, fn, t) =>
        val suspect = snapshot.get(name).forall(idle => t > 3.0 * idle)
        name -> (if (suspect && t >= 0.2) math.min(t, timeOnce(fn)) else t)
      }
    }
    val loadEnd = loadavg()
    // Contamination verdict. End-loadavg alone cannot be the signal:
    // a 32-thread local bench ALWAYS leaves the 1-min loadavg above
    // 1.5 at completion (self-inflicted load, not a co-tenant), so an
    // end-load rule flags every healthy run. The reliable signals are
    // DEVIATION FROM THE IDLE SNAPSHOT — per-query (≥ 3 queries > 3×
    // idle) or total-wall (shared total > 1.25× shared idle total) —
    // see contaminationVerdict.
    val contaminated = contaminationVerdict(results, snapshot, hotStart)
    def f(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonOf(rs: Seq[(String, Double)], total: Double): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg_start":"$loadStart","loadavg_end":"$loadEnd","contaminated":$contaminated}"""
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Full per-query detail goes to bench.json; stdout gets a COMPACT
    // line (headline queries only). The round-1/round-2 captures kept
    // only the last ~2.9 KB of stdout and the 80-entry JSON line lost
    // its head both times ("parsed": null) — the final line must stay
    // well under the capture window. Skip the bench.json overwrite on
    // subset runs so a 1-query spec pass can't clobber the snapshot.
    if (only.isEmpty) {
      try Files.writeString(Paths.get("bench.json"), jsonOf(results, total) + "\n")
      catch { case _: Throwable => () }
    }
    val headline = Set(
      "q01_pricing_summary", "q06_template_join", "q27_annotation_pipeline",
      "q30_exact_dedup", "q31b_lsh_pairs", "q33_ngram_jaccard",
      "q34_cosine_topk", "q43b_asof_native", "q44_sessionize",
      "q59_dup_clusters", "q61_corpus_pipeline", "q70_decontaminate")
    spark.stop()
    val shown = if (only.isEmpty) results.filter(r => headline(r._1)) else results
    println(jsonOf(shown, total))
  }
}

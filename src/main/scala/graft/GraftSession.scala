package graft

import org.apache.spark.sql.SparkSession

/** The one session definition: Bench, Verify, Stress, Probe, Example
  * and the test suite all build their SparkSession here, so the
  * configuration the specs exercise is the one the bench measures and
  * the oracle checks. `cpus` is the only knob — it sets both the
  * `local[cpus]` task threads and `spark.sql.shuffle.partitions`.
  */
object GraftSession {

  /** Task threads for a driver main: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE re-plan CACHED plans too, so a persisted frame's output
      // partition count follows its measured size (coalesced small,
      // split large) instead of freezing at spark.sql.shuffle.partitions.
      // Every loop operator (CC/PageRank/kCore/Lloyd) persists its
      // invariant tables; without this each round re-reads a
      // 32-partition cache of a few KB (measured at local[32]:
      // q244_kcore 929→60 tasks, q243_hits 747→32, q273_rfm 808→122).
      // Scale-neutral: at real size AQE keeps full parallelism.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The audited bounded-domain windows (Similarity/Pq/QuantileMonitor/
    // q187's key table) trip WindowExec's unpartitioned-window WARN on
    // every execution; across the full surface that spam buries the
    // one-line JSON/progress contract in the driver's captured tail.
    // PlanAuditSpec pins them as bounded, so silence just that logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}

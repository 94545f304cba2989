package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{GraftSession, SparkEntry}

/** Per-query measurement on the shipped [[GraftSession]]. For each
  * named query it runs construction + `count()` the way Bench does
  * (after Bench's two warm-up queries; cache cleared after every run)
  * and prints
  *   - cold (first run) and warm (second run) wall seconds,
  *   - Spark jobs / stages / tasks of the cold run (driver-side
  *     actions and iteration rounds show up here),
  *   - ShuffleBudgetSpec's exchange count — the plan-string Exchange
  *     total at the spec's own scale (sf0.001) under AQE on and off,
  *     so a budget is a measured number, not a guess.
  * With exactly one query named it also prints the warm run's stages
  * (wall, tasks, executor run/CPU ms, callsite; slowest first) and the
  * formatted plan. It writes no files.
  *
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.Probe q258_dbscan,q91_pagerank [sfDir]"
  *
  * Without a query list it probes the whole surface; sfDir defaults to
  * /root/testdata/sf0.1.
  */
object Probe {
  private val budgetSf = "/root/testdata/sf0.001"
  private val exchangeRe =
    ("Exchange hashpartitioning|Exchange rangepartitioning|" +
      "Exchange SinglePartition").r

  private case class Stage(id: Int, tasks: Int, wallMs: Long, runMs: Long,
                           cpuMs: Long, site: String)

  private class Tally extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]
    val recording = new AtomicBoolean(false)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (recording.get()) { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (recording.get()) {
        val si = s.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(-1L)
        stages.add(Stage(si.stageId, si.numTasks, wall, si.taskMetrics.executorRunTime,
          si.taskMetrics.executorCpuTime / 1000000, si.name.linesIterator.next().take(120)))
        ()
      }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCpus)
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    Seq("q01_pricing_summary", "q34_cosine_topk").foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()

    def run(name: String): (Double, Int, Seq[Stage]) = {
      tally.jobs.set(0); tally.stages.clear(); tally.recording.set(true)
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable =>
        println(s"[probe] $name FAILED: ${String.valueOf(e.getMessage).take(200)}") }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener events are async; give the bus a beat before reading
      Thread.sleep(300)
      tally.recording.set(false)
      (dt, tally.jobs.get(), tally.stages.asScala.toSeq)
    }

    def exchanges(name: String, aqe: Boolean): String = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.catalog.clearCache()
      try exchangeRe.findAllIn(SparkEntry.queries(name)(spark, budgetSf)
        .queryExecution.executedPlan.toString).size.toString
      catch { case _: Throwable => "?" }
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }

    names.foreach { n =>
      val (cold, jobs, stages) = run(n)
      val (warm, _, warmStages) = run(n)
      println(f"[probe] $n%-28s cold=$cold%7.2fs warm=$warm%7.2fs jobs=$jobs%4d " +
        f"stages=${stages.size}%4d tasks=${stages.map(_.tasks).sum}%6d " +
        s"exchanges@sf0.001 aqe_on=${exchanges(n, aqe = true)} aqe_off=${exchanges(n, aqe = false)}")
      if (names.size == 1) {
        println(f"[probe] ${"stage"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"runMs"}%7s ${"cpuMs"}%7s  site")
        warmStages.sortBy(-_.wallMs).foreach { s =>
          println(f"[probe] ${s.id}%5d ${s.tasks}%5d ${s.wallMs}%7d ${s.runMs}%7d ${s.cpuMs}%7d  ${s.site}")
        }
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}

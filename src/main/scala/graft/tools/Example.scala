package graft.tools

/** Minimal end-to-end usage of the public library surface — what a
  * user switching from the reference pipeline would write. Run:
  * `sbt "runMain graft.tools.Example"`.
  */
object Example {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // what a pure-SQL user sets: the graft functions and planner
    // strategies arrive through the session extension, no code needed
    System.setProperty("spark.sql.extensions", "graft.GraftExtensions")
    val spark = graft.GraftSession(graft.GraftSession.envCpus)

    // sources: csv round-trip through the reader surface
    val csvPath = java.nio.file.Files.createTempFile("graft-example", ".csv")
    java.nio.file.Files.writeString(csvPath, "gene,score\nTP53,0.9\nBRCA1,0.5\n")
    println("csv rows = " + graft.sources.Readers.csv(spark, csvPath.toString).count())

    // skip-lines csv (OMIM-style preamble)
    val skipPath = java.nio.file.Files.createTempFile("graft-skip", ".txt")
    java.nio.file.Files.writeString(skipPath,
      "# preamble 1\n# preamble 2\ngene,mim\nTP53,191170\n")
    println("skiplines rows = " +
      graft.sources.Readers.csvSkipLines(spark, skipPath.toString, 2).count())

    // resilient ingest: one good source, one broken — batch survives
    val ing = new graft.sources.Ingest()
      .source("ok")(graft.Tables.nation(spark, sfDir))
      .source("broken")(graft.sources.Readers.parquet(spark, "/no/such.parquet"))
    println("ingest ok=" + ing.results.keySet + " errors=" + ing.errorLog.keySet)

    // flagship query
    println("entry rows = " + graft.SparkEntry.entry(spark).count())

    // one named query end-to-end
    graft.SparkEntry.queries("q02_revenue_by_nation")(spark, sfDir).show(5, false)

    // skew-salted join parity with the plain join
    import org.apache.spark.sql.functions.col
    val li = graft.Tables.lineitem(spark, sfDir)
    val o = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = graft.operators.Skew.saltedJoin(li, o, "l_orderkey",
      col("l_partkey"), salts = 8).count()
    println(s"salted join rows = $salted (plain = $plain)")

    // stateful streaming sessionizer vs batch sessionize
    val streamed = graft.streaming.StatefulSessions.run(spark, sfDir, 1800L).count()
    val batch = graft.SparkEntry.queries("q44_sessionize")(spark, sfDir).count()
    println(s"stateful stream sessions = $streamed (batch = $batch)")

    // extensions: SQL-registered native functions
    val c = spark.sql(
      "SELECT graft_cosine(array(3.0f, 4.0f), array(3.0f, 4.0f)) AS c").first().getDouble(0)
    println(s"graft_cosine via extensions = $c")

    // round-6 fluent verbs: incremental dedup + boilerplate removal
    {
      import graft.syntax._
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
      val flagged = corpus.dedupIncrement(batch, "doc_id", "text")
        .filter(col("status") =!= "keep").count()
      val cleaned = docs.removeBoilerplate("doc_id", "text")
        .filter(col("n_kept") < col("n_tiles")).count()
      println(s"incremental dedup flagged = $flagged; docs losing boilerplate tiles = $cleaned")
    }
    spark.stop()
  }
}

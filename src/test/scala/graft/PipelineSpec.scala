package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.queries.PipelineQueries

class PipelineSpec extends SparkSpecBase {

  test("annotation pipeline keeps the full key universe, one row per key") {
    val ann = PipelineQueries.queries("q27_annotation_pipeline")(spark, sf)
    val n = Tables.customer(spark, sf).select("c_custkey").distinct().count()
    assert(ann.count() == n)
    assert(ann.select("c_custkey").distinct().count() == n)
  }

  test("unpivot conserves the pivot totals") {
    val long = PipelineQueries.queries("q26_unpivot")(spark, sf)
    val total = long.agg(sum("n")).first().getLong(0)
    assert(total == Tables.orders(spark, sf).count())
  }

  test("sql-registered graft functions evaluate from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c, " +
        "graft_simhash64(array('a','b')) AS h").first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) != 0L)
    // the md5-bit kernels must agree with their SQL-built equivalents
    val m = spark.sql(
      "SELECT graft_md5_bands(array('a','b','c','d'), 3, 8, 4) AS bands, " +
        "graft_simhash_md5(array('a','b')) AS sh").first()
    assert(m.getSeq[String](0).length == 2)
    assert(m.getSeq[String](0).forall(_.matches("[0-9a-f]{32}")))
    assert(m.getLong(1) != 0L)
    // the KLL aggregate registers too (variadic quantile literals)
    val k = spark.sql(
      "SELECT graft_kll_quantiles(v, 100, 0.5) AS sk " +
        "FROM (SELECT CAST(id AS DOUBLE) AS v FROM range(1000))").first()
    val sk = k.getStruct(0)
    assert(sk.getLong(0) == 1000L)
    val med = sk.getSeq[org.apache.spark.sql.Row](2).head.getDouble(1)
    assert(math.abs(med - 500.0) < 30.0, s"median est $med")
  }

  test("GraftExtensions installs without error") {
    // spark.sql.extensions users must get the same SQL functions a
    // session gets from GraftFunctions.register — record every name
    // the extension injects and compare with the registry's graft_*
    val injected = scala.collection.mutable.ArrayBuffer[String]()
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(fd: FunctionDescription): Unit = {
        injected += fd._1.funcName
        super.injectFunction(fd)
      }
    }
    new GraftExtensions().apply(ext)
    GraftFunctions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(injected.size == injected.toSet.size, s"duplicate injections: $injected")
    assert(injected.toSet == registered,
      s"only injected: ${injected.toSet -- registered}; only registered: ${registered -- injected}")
  }

  test("pivot(list)+unnest round trip conserves every order exactly once") {
    val long = PipelineQueries.queries("q68_pivot_unnest")(spark, sf)
    val orders = Tables.orders(spark, sf)
    assert(long.count() == orders.count())
    assert(long.select("o_orderkey").distinct().count() == orders.count())
  }

  test("wide-matrix unpivot: 500-column DepMap-shape stack in one projection") {
    // the DepMap genes×cell-lines matrix arrives WIDE (t() in the
    // reference, tidy-web.R:12-21); stacking it must be one Generate
    // over one projection, not 500 unioned scans
    val nCols = 500
    val nRows = 200
    val wide = spark.range(nRows).toDF("gene_id")
      .select(col("gene_id") +:
        (0 until nCols).map(c =>
          ((col("gene_id") * nCols + c) % 97).cast("double").as(s"line_$c")): _*)
    val long = wide.unpivot(
      ids = Array(col("gene_id")),
      values = (0 until nCols).map(c => col(s"line_$c")).toArray,
      variableColumnName = "cell_line",
      valueColumnName = "effect")
    assert(long.count() == nRows.toLong * nCols)
    assert(long.select("cell_line").distinct().count() == nCols)
    // plan shape: a single Generate(Expand/Unpivot) stage, no Union
    val plan = long.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"wide unpivot planned as a union:\n${plan.take(2000)}")
  }

  test("pipeline oracle keys match") {
    assert(PipelineQueries.oracleSql.keySet == PipelineQueries.queries.keySet)
  }

  // ---- round-10 stretch: the 20-family annotateGenes demo ----------
  // Row-group semantics per reference source family: scalar families
  // are one-row-per-key, annotation families are legitimately
  // multi-row, and the family-specific tidy disciplines (singletons,
  // conflict-nullify, MANE selection, recode codomains) hold.

  private lazy val fam = graft.pipeline.AnnotationPipeline.sources(spark, sf)
    .map { case (k, v) => k -> v.cache() }

  test("annotateGenes covers all 20 reference source families") {
    assert(fam.keySet == Set(
      "gene_ids", "alias_names", "position_length", "gc_content",
      "panther_classes", "string_ppi", "impc_viability", "impc_phenotypes",
      "mgi_viability", "go_annotations", "reactome", "omim_genemap",
      "lethality_categories", "panelapp", "orthologs", "paralogs",
      "depmap_essentiality", "mane_constraint", "gwas_traits",
      "manuscript_scores"))
    fam.values.foreach(df => assert(df.count() > 0))
  }

  test("row-group class per family: scalar one-row-per-key vs multi-row annotation") {
    val multi = graft.pipeline.AnnotationPipeline.multiRowFamilies
    fam.foreach { case (name, df) =>
      val maxPerKey = df.groupBy("c_custkey").count()
        .agg(max("count")).first().getLong(0)
      if (multi(name))
        assert(maxPerKey > 1, s"$name should be a multi-row annotation family")
      else
        assert(maxPerKey == 1, s"$name must stay one row per key, saw $maxPerKey")
    }
  }

  test("impc_viability keeps only conflict-free keys (two-level singleton dedup)") {
    // record level: only orders whose lineitems agree on the flag
    val orderFlags = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct("l_returnflag").as("k"), min("l_returnflag").as("flag"))
      .filter(col("k") === 1)
    // key level: of the customers kept, none may have disagreeing
    // singleton-order flags
    val custFlags = Tables.orders(spark, sf)
      .join(orderFlags, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey")).agg(countDistinct("flag").as("kf"))
    val conflicted = fam("impc_viability")
      .join(custFlags, col("c_custkey") === col("o_custkey"))
      .filter(col("kf") > 1).count()
    assert(conflicted == 0, "a conflicted key survived keep-singletons")
    assert(fam("impc_viability").count() > 0, "family empty at spec scale")
  }

  test("mgi_viability nullifies verdicts only on conflicting keys") {
    // built from a groupBy collapse, so every key has one row; the
    // nullify pass must therefore leave all verdicts populated — and
    // the verdict codomain is exactly {viable, lethal}
    val vals = fam("mgi_viability").select("viability_mgi")
      .distinct().collect().map(_.getString(0)).toSet
    assert(vals.subsetOf(Set("viable", "lethal")), s"bad codomain: $vals")
  }

  test("mane_constraint: singleton keys kept whole, dup keys MANE-only") {
    val orders = Tables.orders(spark, sf)
    val singles = orders.groupBy(col("o_custkey")).count().filter(col("count") === 1)
    val keptSingles = fam("mane_constraint")
      .join(singles, col("c_custkey") === col("o_custkey")).count()
    assert(keptSingles == singles.count(), "a singleton key lost its only transcript")
    // every kept row for a dup key is status 'O' (the MANE flag)
    val dupRows = fam("mane_constraint")
      .join(orders.groupBy(col("o_custkey")).count().filter(col("count") > 1),
        col("c_custkey") === col("o_custkey"))
      .join(orders.select(col("o_orderkey").as("transcript"), col("o_orderstatus")),
        "transcript")
    assert(dupRows.filter(col("o_orderstatus") =!= "O").count() == 0,
      "a non-MANE transcript survived on a duplicated key")
  }

  test("omim_genemap parse: 6-digit ids, moi in the keyword set, clean phenotypes") {
    val g = fam("omim_genemap")
    assert(g.filter(!col("phenotype_id").rlike("^\\d{6}$")).count() == 0)
    val mois = g.select("moi").distinct().collect().map(_.getString(0)).toSet
    assert(mois.subsetOf(Set("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW", "")))
    assert(g.filter(col("phenotype").rlike("[\\{\\[\\?\\]\\}]")).count() == 0,
      "phenotype text kept a brace/bracket marker")
  }

  test("gwas_traits: brackets stripped, dot sentinel nullified, trimmed") {
    val g = fam("gwas_traits")
    assert(g.filter(col("gwas_trait").contains("[")).count() == 0)
    assert(g.filter(col("gwas_trait") === ".").count() == 0)
    assert(g.filter(col("gwas_trait") =!= trim(col("gwas_trait"))).count() == 0)
  }

  test("recode codomains: lethality categories and panelapp confidence") {
    val cats = fam("lethality_categories")
      .select("earliest_lethality_category").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("L1; Prenatal death", "L2; Neonatal death",
      "L3; Death in infancy", "LU; Not determined", "NL; Non lethal")))
    val conf = fam("panelapp").select("confidence_level").distinct()
      .collect().map(_.getString(0)).toSet
    assert(conf.subsetOf(Set("green", "amber", "red", null)))
  }

  test("go_annotations unnest: idx contiguous from 1 within (key, ontology)") {
    val bad = fam("go_annotations")
      .groupBy("c_custkey", "ontology")
      .agg(count(lit(1)).as("n"), min("idx").as("lo"), max("idx").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(bad.count() == 0, "pivot(list)+unnest broke position density")
  }

  test("manuscript_scores: deciles 1..10, monotone in score within segment") {
    val m = fam("manuscript_scores")
    assert(m.filter(col("decile") < 1 || col("decile") > 10).count() == 0)
    // q78 discipline: a higher decile never holds a lower max score
    val seg = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val perDecile = m.join(seg, "c_custkey")
      .groupBy("c_mktsegment", "decile")
      .agg(min("score").as("lo"), max("score").as("hi"))
    val rows = perDecile.orderBy(col("c_mktsegment"), col("decile")).collect()
    rows.grouped(1).toSeq // no-op: keep rows in one pass below
    rows.sliding(2).foreach {
      case Array(a, b) if a.getString(0) == b.getString(0) =>
        assert(a.getAs[Double]("hi") <= b.getAs[Double]("hi") + 1e-9,
          s"decile ordering broken in segment ${a.getString(0)}")
      case _ => ()
    }
  }

  test("annotateGenes: one wide row per template key, every family present") {
    val wide = graft.pipeline.AnnotationPipeline.annotateGenes(spark, sf)
    val n = Tables.customer(spark, sf).select("c_custkey").distinct().count()
    assert(wide.count() == n, "assembly duplicated or dropped keys")
    assert(wide.select("c_custkey").distinct().count() == n)
    // every multi-row family shows up as its n_<family> count column,
    // every scalar family by at least one of its value columns
    val cols = wide.columns.toSet
    graft.pipeline.AnnotationPipeline.multiRowFamilies.foreach { f =>
      assert(cols.contains(s"n_$f"), s"missing count column for $f")
    }
    Seq("entity_name", "span_days", "pct_discount", "impc_viability",
      "viability_mgi", "earliest_lethality_category", "confidence_level",
      "ortholog_mapping", "percentage_essential", "score", "decile")
      .foreach(c => assert(cols.contains(c), s"missing scalar column $c"))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.Retrieval

/** SURVEY.md §2.3 round-3 — retrieval/serving operators: chunking,
  * deterministic shard shuffle, inverted index, BM25 ranking.
  */
object RetrievalQueries {

  type Q = (SparkSession, String) => DataFrame

  import TextQueries.wsSql

  /** q144's eval-set ranking, shared with q177: first-half excerpts
    * of docs < 20 as queries (qid = doc_id + 2_000_000), exact 3-gram
    * Jaccard as the ranker, per-query rank over the candidate set
    * (docs with zero overlap can never outrank a positive-Jaccard
    * candidate, so candidate-set ranks ARE corpus ranks). Returns
    * (qid, doc_id, jacc, rank).
    */
  private def jaccardRanked(s: SparkSession, d: String): DataFrame = {
    import graft.Caching.ScopedPersist
    import org.apache.spark.sql.expressions.Window
    import graft.Caching.FanOut
    // round 18 second pass (guide §2.5): the corpus shingling below
    // (normWords + 3-gram shingles + explode) otherwise runs on the
    // scan's single split — one ~0.6 s task per consumer query
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .fanOutSmallScan()
    val ws0 = docs
      .select(col("doc_id"), GraftFunctions.normWords(col("text")).as("ws"))
      .scopedPersist() // consumers: query construction + corpus shingles
    val qdocs = Retrieval.requireEvalBounded(
      ws0.filter(col("doc_id") < 20)
        .select((col("doc_id") + 2000000).as("qid"),
          array_join(expr("slice(ws, 1, greatest(1, size(ws) div 2))"), " ")
            .as("text")),
      maxRows = 10000L, what = "q144/q177 eval query set")
    val qsh = qdocs
      .select(col("qid"), GraftFunctions.normWords(col("text")).as("__ws"))
      .scopedPersist() // lambda barrier — see Dedup.docShingles
      .select(col("qid"),
        array_distinct(GraftFunctions.wordShingles(col("__ws"), 3)).as("shs"))
    val dsh = ws0
      .select(col("doc_id"),
        array_distinct(GraftFunctions.wordShingles(col("ws"), 3)).as("shs"))
    val qx = qsh.select(col("qid"), size(col("shs")).as("n_q"),
      explode(col("shs")).as("sh"))
    val dx = dsh.select(col("doc_id"), size(col("shs")).as("n_d"),
      explode(col("shs")).as("sh"))
    // Round 18 second pass (guide §3.1): broadcast the EVAL-BOUNDED
    // query side (requireEvalBounded caps it at 10k rows) — the
    // planner's size estimate had it the other way around, building a
    // corpus-sized (~1.5M shingle rows at sf0.1) hash relation and
    // streaming the bounded side. The corpus shingles now never
    // shuffle or broadcast; at 100 TB this is the only viable side.
    val j = broadcast(qx).join(dx, "sh")
      .groupBy(col("qid"), col("doc_id"), col("n_q"), col("n_d"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("qid"), col("doc_id"),
        round(col("n_inter").cast("double") /
          (col("n_q") + col("n_d") - col("n_inter")), 6).as("jacc"))
    j.withColumn("rank",
      row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("jacc").desc, col("doc_id"))).cast("long"))
  }

  val queries: Map[String, Q] = Map(

    // §2.3 (round 14) — DIRICHLET-SMOOTHED QUERY-LIKELIHOOD ranking
    // (Zhai & Lafferty SIGIR'01 — the language-modeling retrieval
    // family next to BM25/q87; LMIR-DIR is the standard baseline in
    // every IR shootout): score(q,d) = Σ_t ln((tf + μ·p(t|C)) /
    // (len_d + μ)), μ = 100. Smoothing means EVERY doc scores against
    // every query term (tf 0 rows included via the left join), so the
    // per-(doc,term) log partials quantize to DECIMAL(18,12) before
    // the per-doc sum (the q101/q114 ln discipline — exact, order-
    // free) and the top-20 selects on the EXACT decimal total (no
    // float ordering anywhere). Scale shape: one token scan; the term
    // frame (3 rows), collection stats (1 row) and tf table
    // (docs × matched terms) all broadcast-or-tiny; final top-k is a
    // TakeOrdered, never a global sort.
    "q253_ql_dirichlet" -> { (s, d) =>
      import s.implicits._
      import graft.Caching.ScopedPersist
      val w = Tables.documents(s, d)
        .select(col("doc_id"), explode(GraftFunctions.normWords(col("text"))).as("w"))
        .scopedPersist() // consumers: len, cf, tot, tf
      val len = w.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
      val termsDf = Seq("data", "model", "training").toDF("t")
      // terms absent from the collection have p(t|C) = 0 => ln(0);
      // the QL convention drops them (they can't discriminate anyway)
      val cf = broadcast(termsDf).join(w, col("w") === col("t"), "left")
        .groupBy(col("t")).agg(count(col("w")).as("cf"))
        .filter(col("cf") > 0)
      val tot = w.agg(count(lit(1)).as("total"))
      val tf = w.join(broadcast(termsDf), col("w") === col("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      len.crossJoin(broadcast(cf)).crossJoin(broadcast(tot))
        .join(tf, Seq("doc_id", "t"), "left")
        .select(col("doc_id"), col("len"),
          log((coalesce(col("tf"), lit(0L)) +
            lit(100.0) * col("cf") / col("total")) /
            (col("len") + lit(100.0)))
            .cast(DecimalType(18, 12)).as("sc"))
        .groupBy(col("doc_id"), col("len"))
        .agg(sum(col("sc")).as("ssum"))
        .orderBy(col("ssum").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("len").as("n_tokens"),
          round(col("ssum").cast("double"), 6).as("ql_score"))
    },

    // §2.3 — context-window chunking: 64-token windows every 48
    // tokens (16-token overlap), trailing partial window kept.
    "q84_chunk_documents" -> { (s, d) =>
      Retrieval.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        width = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // §2.3 — deterministic global shuffle into 16 uniform shards
    // (training-order randomization, reproducible with no rand()).
    "q85_shard_shuffle" -> { (s, d) =>
      Retrieval.shuffleIntoShards(Tables.documents(s, d), "doc_id", "q85")
        .orderBy(col("shard"), col("pos"))
    },

    // §2.3 — inverted index with stopword (hot-key) guard: words over
    // the posting cap keep their df but materialize no posting list.
    "q86_inverted_index" -> { (s, d) =>
      Retrieval.invertedIndex(Tables.documents(s, d), "doc_id", "text",
        postingCap = 100)
        .orderBy(col("word"))
    },

    // §2.3 — retrieval EVALUATION harness (round 7): rank-quality
    // metrics (rank of relevant, reciprocal rank, recall@10, nDCG@10)
    // for a retriever against a labeled query set — the eval loop a
    // RAG stack runs before swapping rankers. Queries are first-half
    // excerpts of docs < 20 (the q132 construction — each query's
    // unique relevant doc is its source), the ranker is exact 3-gram
    // Jaccard. Scale shape: the query side is EVAL-sized, so the
    // shingle join's fan-out is bounded by (queries containing sh ×
    // docs containing sh) per shingle, and the ranking window
    // partitions per query over its candidate set only — docs with
    // zero overlap can never outrank a positive-Jaccard candidate, so
    // candidate-set ranks ARE corpus ranks for the relevant doc.
    "q144_retrieval_eval" -> { (s, d) =>
      jaccardRanked(s, d)
        .filter(col("doc_id") === col("qid") - 2000000)
        .select(col("qid"), col("doc_id").as("rel_id"), col("rank"),
          round(lit(1.0) / col("rank"), 6).as("rr"),
          (col("rank") <= 10).as("hit10"),
          when(col("rank") <= 10,
            round(lit(1.0) / (log(col("rank") + lit(1.0)) / log(lit(2.0))), 6))
            .otherwise(0.0).as("ndcg10"))
        .orderBy(col("qid"))
    },

    // §2.3 (round 9) — GRADED-relevance nDCG@10: q144 scores a single
    // binary relevant; real retrieval evals grade (the source doc = 3,
    // its two neighbors = 1) and normalize DCG by the ideal ordering.
    // Same ranked frame; the grade join touches only the 3-row-per-
    // query relevance table, IDCG is the closed-form ideal (grades
    // 3,1,1 always exist), and both engines spell log2 as ln(x)/ln(2)
    // under round(,6) so libm ulp drift cannot leak into the hash.
    "q177_ndcg_graded" -> { (s, d) =>
      val ranked = jaccardRanked(s, d)
      val grade = when(col("doc_id") === col("qid") - 2000000, 3)
        .when(col("doc_id") === col("qid") - 2000000 + 1, 1)
        .when(col("doc_id") === col("qid") - 2000000 + 2, 1)
        .otherwise(0)
      val gain = (pow(lit(2.0), col("g")) - 1.0) /
        (log(col("rank") + lit(1.0)) / log(lit(2.0)))
      val idcg = lit(7.0) / (log(lit(2.0)) / log(lit(2.0))) +
        lit(1.0) / (log(lit(3.0)) / log(lit(2.0))) +
        lit(1.0) / (log(lit(4.0)) / log(lit(2.0)))
      ranked.withColumn("g", grade)
        .filter(col("g") > 0)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_rel_found"),
          sum((col("g") === 3 && col("rank") <= 10).cast("long"))
            .as("src_in_top10"),
          coalesce(sum(when(col("rank") <= 10, gain)), lit(0.0)).as("__dcg"))
        .select(col("qid"), col("n_rel_found"), col("src_in_top10"),
          round(col("__dcg"), 6).as("dcg10"),
          round(col("__dcg") / idcg, 6).as("ndcg10"))
        .orderBy(col("qid"))
    },

    // §2.3 — BM25 top-20 for a fixed query over the documents table.
    "q87_bm25" -> { (s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("data", "model", "training"))
    },

    // §2.3 — reciprocal-rank fusion (RRF, Cormack'09): the hybrid
    // retrieval step of a RAG stack — fuse a lexical (BM25) top-50
    // and a semantic (cosine-to-query-vector) top-50 into one ranking
    // via Σ 1/(60 + rank). Each ranker's heavy pass is the existing
    // scale machinery (q87's two-job BM25, q34's broadcast cosine);
    // the fusion itself touches only the two 50-row rank lists — the
    // windows below run on dimension-sized frames, never the corpus.
    "q133_rank_fusion" -> { (s, d) =>
      val lex = Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("data", "model", "training"), topK = 50)
        .withColumn("rank_lex", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("rank_lex"))
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val sem = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(graft.functions.GraftFunctions.cosine(col("embedding"), col("qe")), 6)
            .as("cs"))
        .orderBy(col("cs").desc, col("vec_id")).limit(50)
        .withColumn("rank_sem", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cs").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("id"), col("rank_sem"))
      lex.join(sem, Seq("id"), "full_outer")
        .select(col("id"), col("rank_lex"), col("rank_sem"),
          round(coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_sem")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(20)
    },

    // §2.3 (round 11) — MMR DIVERSE top-k selection (Carbonell-
    // Goldstein'98): pure relevance ranking returns 10 near-copies of
    // the same answer; MMR re-ranks the candidate pool step by step,
    // score(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), trading
    // relevance against redundancy — the shape behind diverse eval-set
    // construction and dedup'd RAG contexts. k=5 greedy steps over a
    // 20-candidate pool per query are UNROLLED into one declarative
    // plan (the q91 PageRank discipline — fixed iterations, no driver
    // loop): each step is an anti-join (drop selected), a bounded
    // max-sim agg against the growing picked set, and one
    // max(struct) argmax. All frames are (queries × 20)-bounded. The
    // trajectory runs in EXACT INTEGER MICRO-UNITS: rel/sim are
    // round(.,6) cosines lifted to ×1e6 longs, score_u = 7·rel_u −
    // 3·ms_u (λ=0.7 at scale 10), and the published score is the one
    // IEEE division score_u/1e7 — zero round() calls in the greedy
    // loop, so no Spark-HALF_UP vs DuckDB-binary-nearest midpoint can
    // ever split the trajectory (0.7 × a 6-dp value IS such a
    // midpoint; it fired on first contact at sf0.01).
    "q197_mmr_select" -> { (s, d) =>
      import graft.Caching.ScopedPersist
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cand = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 5), k = 20)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos_sim") * 1e6).cast("long").as("rel_u"))
        .scopedPersist() // consumers: pair sims + every greedy step
      val psim = cand.select(col("query_id"), col("neighbor_id").as("a"))
        .join(cand.select(col("query_id"), col("neighbor_id").as("b")),
          "query_id")
        .filter(col("a") =!= col("b"))
        .join(emb.select(col("vec_id").as("a"), col("embedding").as("e_a")), "a")
        .join(emb.select(col("vec_id").as("b"), col("embedding").as("e_b")), "b")
        .select(col("query_id"), col("a"), col("b"),
          round(round(GraftFunctions.cosine(col("e_a"), col("e_b")), 6) * 1e6)
            .cast("long").as("sim_u"))
        .scopedPersist() // consumers: steps 2..5
      def argmaxPick(scored: DataFrame, step: Int): DataFrame =
        scored.groupBy(col("query_id"))
          .agg(max(struct(col("score_u"), (-col("neighbor_id")).as("nid")))
            .as("m"))
          .select(col("query_id"), (-col("m.nid")).as("vec_id"),
            lit(step).as("step"),
            (col("m.score_u") / lit(1.0e7)).as("mmr_score"))
      val first = argmaxPick(
        cand.select(col("query_id"), col("neighbor_id"),
          (lit(7L) * col("rel_u")).as("score_u")), 1)
      // each round's selected frame (≤ 5·step rows) checkpoints: it
      // has TWO consumers per following step (anti-join + max-sim
      // join), so raw lineage DOUBLES per step — the plan printed
      // 600+ exchanges before this (measured via Probe). The
      // iterative-family loopCheckpoint discipline (PageRank/CC/BPE)
      // truncates each round to its materialized result.
      import graft.Caching.LoopCheckpoint
      val selected = (2 to 5).foldLeft(
        first.loopCheckpoint()) { (sel, step) =>
        // explicit renames, not dataset-qualified refs: the
        // checkpointed frame keeps its attribute ids, which defeats
        // Dataset self-join disambiguation
        val selK = sel.select(col("query_id").as("s_qid"),
          col("vec_id").as("s_vid"))
        val remaining = cand.join(selK,
          col("query_id") === col("s_qid") &&
            col("neighbor_id") === col("s_vid"), "left_anti")
        val ms = psim.join(selK, psim("query_id") === col("s_qid") &&
            psim("b") === col("s_vid"))
          .groupBy(col("query_id"), col("a")).agg(max(col("sim_u")).as("ms_u"))
          .select(col("query_id").as("m_qid"), col("a").as("m_id"),
            col("ms_u"))
        val scored = remaining
          .join(ms, col("query_id") === col("m_qid") &&
            col("neighbor_id") === col("m_id"))
          .select(col("query_id"), col("neighbor_id"),
            (lit(7L) * col("rel_u") - lit(3L) * col("ms_u")).as("score_u"))
        val next = sel.unionByName(argmaxPick(scored, step)).loopCheckpoint()
        // the eager checkpoint above materialized `next`'s blocks, so
        // the superseded round's blocks can be freed (Graph discipline
        // — PersistSweepSpec holds the surface to zero net persists)
        graft.Caching.releaseCheckpoint(sel)
        next
      }
      selected.orderBy(col("query_id"), col("step"))
    },

    // §2.3 (round 11) — RAG CONTEXT assembly: the serving-side
    // composition after retrieval — q144's ranked candidates cut to
    // top-3 per query, then greedily packed into a 600-char context
    // budget in rank order: cumulative chars via a query-PARTITIONED
    // running sum, a fits flag, and the clipped char count for the
    // boundary document (exact integer arithmetic — the q84/q107
    // budget discipline applied per query). What a retrieval service
    // sends to the model, as one oracled query.
    "q205_rag_context" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ranked = jaccardRanked(s, d).filter(col("rank") <= 3)
      val w = Window.partitionBy(col("qid")).orderBy(col("rank"))
      ranked
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id")
        .withColumn("cum_chars", sum(col("n_chars")).over(w).cast("long"))
        .select(col("qid"), col("rank"), col("doc_id"), col("jacc"),
          col("n_chars"), col("cum_chars"),
          (col("cum_chars") <= 600L).as("fits"),
          when(col("cum_chars") <= 600L, col("n_chars"))
            .otherwise(greatest(lit(0L),
              lit(600L) - (col("cum_chars") - col("n_chars"))))
            .cast("long").as("clipped_chars"))
        .orderBy(col("qid"), col("rank"))
    },

    // §2.3 (round 13) — MARGIN-BASED BITEXT MINING (Artetxe & Schwenk
    // ACL'19, the LASER/CCMatrix parallel-corpus miner): split the
    // embedding space into two "languages" (vec_id parity), score
    // every cross pair by margin = cos(a,b) / mean(topK fwd ∪ bwd
    // neighborhoods), keep MUTUAL-BEST pairs above a margin bar. The
    // margin normalizes away hubness (a vector close to everything
    // scores no pair highly). Float discipline: cosines quantize to
    // ×1e6 longs (the q197 pattern), top-4 neighborhood sums stay
    // exact integers, and margin = 8·cos_u/(sumF+sumB) is ONE IEEE
    // division — bit-identical across engines, no round() midpoints.
    // Scale shape: the full A×B table here is the correctness
    // baseline (B broadcast, narrow scan of A); at 100 TB the pair
    // generator swaps to the IVF candidate path (q62/q153) and the
    // margin/mutual-best stages are unchanged — they only ever see
    // (a_id, b_id, cos_u) tuples, shuffled by a_id then b_id.
    "q219_bitext_mine" -> { (s, d) =>
      import graft.Caching.{FanOut, LoopCheckpoint, ScopedPersist}
      // Round 18 second pass (guide §2.5): Probe's stage table showed the
      // pairs-persist materializing on ONE task (1.35 s of cosine CPU)
      // while five concurrent consumer jobs blocked on the cache lock —
      // the A-side fan-out parallelizes the cosine projection (the
      // broadcast NLJ is narrow on A, so the pair kernel inherits A's
      // partitioning). No-op at real scale where the scan is already
      // parallel.
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val a = emb.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("a_id"), col("embedding").as("e_a"))
        .fanOutSmallScan()
      val b = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("b_id"), col("embedding").as("e_b"))
      val pairs = a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(round(GraftFunctions.cosine(col("e_a"), col("e_b")), 6) * 1e6)
            .cast("long").as("cos_u"))
      // NOT persisted (measured, this round): ANY 32-task
      // materialization of the 1M-row pair table (columnar persist,
      // eager persist, localCheckpoint) burns 20-30 s of CPU on a
      // 1.3 s-of-work stage (the joined rows carry both embeddings
      // into the store). Recomputing the narrow scan→broadcast-NLJ→
      // cosine chain per consumer is cheaper than every
      // materialization variant: 2.38 s warm vs 2.55-2.95.
      // Deterministic recompute: cos_u quantizes to 1e6-longs, so
      // every consumer sees identical values.
      // Round 17 (guide §2.4): the four per-key rank stages used to be
      // row_number windows — each a full shuffle AND sort of the A×B
      // pair table. TopKPerKeyExec has the identical contract
      // (row_number over (score desc, tie asc) ≤ k) with k-bounded
      // map-side heaps, so only ≤ k rows per (key, partition) cross the
      // wire. Same rows out, bit-identical margins.
      val fwd = graft.plans.TopKPlan.topKPerKey(pairs, Seq("a_id"),
          scoreCol = "cos_u", tieCol = "b_id", k = 4)
        .groupBy(col("a_id")).agg(sum(col("cos_u")).as("sum_fwd"))
      val bwd = graft.plans.TopKPlan.topKPerKey(pairs, Seq("b_id"),
          scoreCol = "cos_u", tieCol = "a_id", k = 4)
        .groupBy(col("b_id")).agg(sum(col("cos_u")).as("sum_bwd"))
      val margins = pairs
        .join(broadcast(fwd), "a_id").join(broadcast(bwd), "b_id")
        .select(col("a_id"), col("b_id"),
          (lit(8.0) * col("cos_u") / (col("sum_fwd") + col("sum_bwd")))
            .as("margin"))
        .scopedPersist() // consumers: bestA + bestB heap passes
      val bestA = graft.plans.TopKPlan.topKPerKey(margins, Seq("a_id"),
          scoreCol = "margin", tieCol = "b_id", k = 1)
        .select(col("a_id"), col("b_id"), col("margin"))
      val bestB = graft.plans.TopKPlan.topKPerKey(margins, Seq("b_id"),
          scoreCol = "margin", tieCol = "a_id", k = 1)
        .select(col("a_id"), col("b_id"))
      // mutual best = rank 1 both ways; bestB is ≤ |B| rows (k=1 per
      // key) — broadcast it so the join never sorts/exchanges bestA
      // (TopK output has no stats, so AQE can't see it's tiny)
      bestA.join(broadcast(bestB), Seq("a_id", "b_id"))
        .filter(col("margin") > 1.05)
        .select(col("a_id"), col("b_id"), round(col("margin"), 6).as("margin"))
        .orderBy(col("a_id"))
    },

    // §2.3 (round 13) — RANKER-AGREEMENT audit (Kendall tau-a): when a
    // pipeline swaps quality rankers (a cheap heuristic for a learned
    // scorer), the decision metric is rank correlation on a shared
    // slice, not absolute scores. Rankers here: n_chars vs normalized
    // word count, compared per source over all intra-source pairs;
    // tau_a = (C − D) / (n(n−1)/2) with ties counted as neither. All
    // pair verdicts are integer sign tests, the tau is ONE IEEE
    // division — exact cross-engine. Scale shape: pairs are generated
    // WITHIN source partitions (never corpus²); at 100 TB bound the
    // per-source slice by sampling (q72) before pairing — the O(n²)
    // is per-group and explicit, same contract as q33's pair stage.
    "q223_kendall_tau" -> { (s, d) =>
      val m = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"),
          size(GraftFunctions.normWords(col("text"))).cast("long")
            .as("n_words"))
      val a = m.select(col("source"), col("doc_id").as("id_a"),
        col("n_chars").as("x_a"), col("n_words").as("y_a"))
      val b = m.select(col("source"), col("doc_id").as("id_b"),
        col("n_chars").as("x_b"), col("n_words").as("y_b"))
      val verdicts = a.join(b, Seq("source"))
        .filter(col("id_a") < col("id_b"))
        .select(col("source"),
          signum((col("x_a") - col("x_b")) * (col("y_a") - col("y_b")))
            .cast("long").as("sgn"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("sgn") === 1L).cast("long")).as("concordant"),
          sum((col("sgn") === -1L).cast("long")).as("discordant"))
      m.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(verdicts, Seq("source"))
        .select(col("source"), col("n_docs"), col("concordant"),
          col("discordant"),
          (col("n_pairs") - col("concordant") - col("discordant"))
            .as("n_ties"),
          round(lit(2.0) * (col("concordant") - col("discordant")) /
            greatest(lit(1L), col("n_docs") * (col("n_docs") - 1L)), 6)
            .as("tau"))
        .orderBy(col("source"))
    },

    // §2.3 (round 13) — K-CENTER GREEDY CORESET (Gonzalez '85
    // farthest-point traversal, the 2-approximation behind active-
    // learning coreset selection à la Sener & Savarese ICLR'18):
    // MMR (q197) diversifies a RANKING; this selects the k vectors
    // that COVER the space — each round picks the point farthest
    // from the selected set (its distance = the current covering
    // radius, published per step, monotone non-increasing). Float
    // discipline: distances are exact ×1e6 longs (d_u = 1e6 − cos_u),
    // argmax is max(struct(d_u, −vec_id)) — no float comparisons
    // cross rows. Scale shape: k passes, each ONE partial-agg argmax
    // + ONE narrow re-min against the new pick broadcast as a 1-row
    // frame; per-round loopCheckpoint (the q91/q197 iterative
    // discipline) keeps lineage flat. At 100 TB this is exactly the
    // distributed k-center recipe — cost k · (scan + 1-row shuffle),
    // never corpus².
    "q225_coreset" -> { (s, d) =>
      import graft.Caching.{LoopCheckpoint, ScopedPersist}
      def cosU(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        round(round(GraftFunctions.cosine(a, b), 6) * 1e6).cast("long")
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .scopedPersist() // consumers: seed frame + per-round pick joins
      val seed = emb.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
      val seedRow = seed.select(lit(1L).as("step"), col("p_id").as("vec_id"),
        lit(null).cast("long").as("radius_u"))
      var state = emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(seed))
        .select(col("vec_id"), col("embedding"),
          (lit(1000000L) - cosU(col("embedding"), col("p_emb"))).as("d_u"))
        .loopCheckpoint()
      var picks = seedRow
      (2 to 8).foreach { step =>
        val pick = state
          .agg(max(struct(col("d_u"), (-col("vec_id")).as("nid"))).as("m"))
          .select((-col("m.nid")).as("p_id"), col("m.d_u").as("radius_u"))
        val pickEmb = broadcast(pick
          .join(emb.select(col("vec_id").as("p_id"),
            col("embedding").as("p_emb")), "p_id"))
        picks = picks.unionByName(pickEmb
          .select(lit(step.toLong).as("step"), col("p_id").as("vec_id"),
            col("radius_u")))
        // the final round's re-min is DEAD state (no later pick reads
        // it): checkpointing it would persist blocks no caller-visible
        // plan references, leaving their release to ContextCleaner GC
        // timing — the one PersistSweep flake in the tree (round 14)
        if (step < 8) {
          state = state.crossJoin(pickEmb.select(col("p_id"), col("p_emb")))
            .filter(col("vec_id") =!= col("p_id"))
            .select(col("vec_id"), col("embedding"),
              least(col("d_u"),
                lit(1000000L) - cosU(col("embedding"), col("p_emb")))
                .as("d_u"))
            .loopCheckpoint()
        }
      }
      picks.orderBy(col("step"))
    }
  )

  val oracleSql: Map[String, String] = Map(

    "q253_ql_dirichlet" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
        |      x -> x <> '')) AS w
        |  FROM documents),
        |len AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
        |        FROM w GROUP BY doc_id),
        |terms AS (SELECT * FROM (VALUES ('data'), ('model'), ('training')) v(t)),
        |cf0 AS (SELECT t, CAST(COUNT(w.w) AS BIGINT) AS cf
        |        FROM terms LEFT JOIN w ON w.w = t GROUP BY t),
        |cf AS (SELECT t, cf FROM cf0 WHERE cf > 0),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM w),
        |tf AS (SELECT w.doc_id, w.w AS t, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM w JOIN terms ON w.w = terms.t GROUP BY w.doc_id, w.w),
        |parts AS (SELECT l.doc_id, l.len,
        |    CAST(ln((COALESCE(tf.tf, 0) + 100.0 * c.cf / tot.total)
        |      / (l.len + 100.0)) AS DECIMAL(18,12)) AS sc
        |  FROM len l CROSS JOIN cf c CROSS JOIN tot
        |  LEFT JOIN tf ON tf.doc_id = l.doc_id AND tf.t = c.t),
        |score AS (SELECT doc_id, len, SUM(sc) AS ssum
        |          FROM parts GROUP BY doc_id, len)
        |SELECT doc_id, len AS n_tokens,
        |  ROUND(CAST(ssum AS DOUBLE), 6) AS ql_score
        |FROM score ORDER BY ssum DESC, doc_id LIMIT 20""".stripMargin,

    "q144_retrieval_eval" ->
      s"""WITH w0 AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |q AS (SELECT doc_id + 2000000 AS qid,
         |        array_to_string(ws[1:greatest(1, len(ws)//2)], ' ') AS text
         |      FROM w0 WHERE doc_id < 20),
         |qw AS (SELECT qid, $wsSql AS ws FROM q),
         |qsh AS (SELECT DISTINCT qid,
         |          unnest([array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)]) AS sh
         |        FROM qw WHERE len(ws) >= 3),
         |dsh AS (SELECT DISTINCT doc_id,
         |          unnest([array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)]) AS sh
         |        FROM w0 WHERE len(ws) >= 3),
         |qc AS (SELECT qid, COUNT(*) AS n_q FROM qsh GROUP BY 1),
         |dc AS (SELECT doc_id, COUNT(*) AS n_d FROM dsh GROUP BY 1),
         |i AS (SELECT sq.qid, sd.doc_id, COUNT(*) AS n_inter
         |      FROM qsh sq JOIN dsh sd ON sq.sh = sd.sh GROUP BY 1, 2),
         |j AS (SELECT i.qid, i.doc_id,
         |        ROUND(CAST(i.n_inter AS DOUBLE)
         |          / (qc.n_q + dc.n_d - i.n_inter), 6) AS jacc
         |      FROM i JOIN qc ON qc.qid = i.qid JOIN dc ON dc.doc_id = i.doc_id),
         |r AS (SELECT qid, doc_id,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY jacc DESC, doc_id) AS BIGINT) AS rank
         |      FROM j)
         |SELECT qid, doc_id AS rel_id, rank,
         |  ROUND(1.0 / rank, 6) AS rr,
         |  rank <= 10 AS hit10,
         |  CASE WHEN rank <= 10 THEN ROUND(1.0 / (ln(rank + 1.0) / ln(2.0)), 6)
         |       ELSE 0.0 END AS ndcg10
         |FROM r WHERE doc_id = qid - 2000000 ORDER BY qid""".stripMargin,

    // same ranked CTEs as q144; grades 3/1/1, ln-ratio log2, closed-
    // form IDCG
    "q177_ndcg_graded" ->
      s"""WITH w0 AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |q AS (SELECT doc_id + 2000000 AS qid,
         |        array_to_string(ws[1:greatest(1, len(ws)//2)], ' ') AS text
         |      FROM w0 WHERE doc_id < 20),
         |qw AS (SELECT qid, $wsSql AS ws FROM q),
         |qsh AS (SELECT DISTINCT qid,
         |          unnest([array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)]) AS sh
         |        FROM qw WHERE len(ws) >= 3),
         |dsh AS (SELECT DISTINCT doc_id,
         |          unnest([array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)]) AS sh
         |        FROM w0 WHERE len(ws) >= 3),
         |qc AS (SELECT qid, COUNT(*) AS n_q FROM qsh GROUP BY 1),
         |dc AS (SELECT doc_id, COUNT(*) AS n_d FROM dsh GROUP BY 1),
         |i AS (SELECT sq.qid, sd.doc_id, COUNT(*) AS n_inter
         |      FROM qsh sq JOIN dsh sd ON sq.sh = sd.sh GROUP BY 1, 2),
         |j AS (SELECT i.qid, i.doc_id,
         |        ROUND(CAST(i.n_inter AS DOUBLE)
         |          / (qc.n_q + dc.n_d - i.n_inter), 6) AS jacc
         |      FROM i JOIN qc ON qc.qid = i.qid JOIN dc ON dc.doc_id = i.doc_id),
         |r AS (SELECT qid, doc_id,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY jacc DESC, doc_id) AS BIGINT) AS rank
         |      FROM j),
         |g AS (SELECT qid, doc_id, rank,
         |        CASE WHEN doc_id = qid - 2000000 THEN 3
         |             WHEN doc_id = qid - 2000000 + 1 THEN 1
         |             WHEN doc_id = qid - 2000000 + 2 THEN 1
         |             ELSE 0 END AS g
         |      FROM r)
         |SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel_found,
         |  CAST(SUM(CASE WHEN g = 3 AND rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS src_in_top10,
         |  ROUND(COALESCE(SUM(CASE WHEN rank <= 10
         |    THEN (pow(2.0, g) - 1.0) / (ln(rank + 1.0) / ln(2.0)) END), 0.0), 6)
         |    AS dcg10,
         |  ROUND(COALESCE(SUM(CASE WHEN rank <= 10
         |    THEN (pow(2.0, g) - 1.0) / (ln(rank + 1.0) / ln(2.0)) END), 0.0)
         |    / (7.0 / (ln(2.0) / ln(2.0)) + 1.0 / (ln(3.0) / ln(2.0))
         |       + 1.0 / (ln(4.0) / ln(2.0))), 6) AS ndcg10
         |FROM g WHERE g > 0 GROUP BY qid ORDER BY qid""".stripMargin,

    // MMR: the 5 greedy steps unrolled as chained CTEs (the q91
    // discipline); the whole trajectory runs in exact ×1e6 BIGINT
    // micro-units (score_u = 7·rel_u − 3·ms_u) and the published
    // score is the single IEEE division score_u/1e7 — no ROUND() in
    // the loop, so no HALF_UP-vs-binary-nearest midpoint can split
    // the engines (0.7 × a 6-dp cosine IS such a midpoint)
    "q197_mmr_select" -> {
      val stepCtes = (2 to 5).map { t =>
        s"""ms$t AS (SELECT p.query_id, p.a, MAX(p.sim_u) AS ms_u
           |  FROM psim p JOIN selu${t - 1} s
           |    ON s.query_id = p.query_id AND s.vec_id = p.b
           |  GROUP BY 1, 2),
           |s$t AS (SELECT query_id, a AS vec_id, $t AS step,
           |          sc_u / CAST(1e7 AS DOUBLE) AS mmr_score
           |  FROM (
           |    SELECT c.query_id, c.neighbor_id AS a,
           |      7 * c.rel_u - 3 * m.ms_u AS sc_u,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY 7 * c.rel_u - 3 * m.ms_u DESC,
           |                 c.neighbor_id) AS rn
           |    FROM cand c
           |    JOIN ms$t m ON m.query_id = c.query_id AND m.a = c.neighbor_id
           |    LEFT JOIN selu${t - 1} s
           |      ON s.query_id = c.query_id AND s.vec_id = c.neighbor_id
           |    WHERE s.vec_id IS NULL)
           |  WHERE rn = 1),
           |selu$t AS (SELECT * FROM selu${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH cand AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(ROUND(cos_sim * 1000000) AS BIGINT) AS rel_u
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                   CAST(c.embedding AS DOUBLE[])), 6)
         |        AS cos_sim,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_cosine_similarity(
         |                   CAST(q.embedding AS DOUBLE[]),
         |                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
         |                 c.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 5)
         |  WHERE rn <= 20),
         |psim AS (
         |  SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
         |    CAST(ROUND(round(list_cosine_similarity(
         |           CAST(ea.embedding AS DOUBLE[]),
         |           CAST(eb.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT)
         |      AS sim_u
         |  FROM cand c1
         |  JOIN cand c2 ON c2.query_id = c1.query_id
         |              AND c2.neighbor_id <> c1.neighbor_id
         |  JOIN embeddings ea ON ea.vec_id = c1.neighbor_id
         |  JOIN embeddings eb ON eb.vec_id = c2.neighbor_id),
         |s1 AS (SELECT query_id, neighbor_id AS vec_id, 1 AS step,
         |         sc_u / CAST(1e7 AS DOUBLE) AS mmr_score
         |  FROM (
         |    SELECT query_id, neighbor_id, 7 * rel_u AS sc_u,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY 7 * rel_u DESC, neighbor_id) AS rn
         |    FROM cand)
         |  WHERE rn = 1),
         |selu1 AS (SELECT * FROM s1),
         |$stepCtes
         |SELECT query_id, vec_id, step, mmr_score FROM selu5
         |ORDER BY query_id, step""".stripMargin
    },

    // q144's ranked CTEs + the budget-packing window
    "q205_rag_context" ->
      s"""WITH w0 AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |q AS (SELECT doc_id + 2000000 AS qid,
         |        array_to_string(ws[1:greatest(1, len(ws)//2)], ' ') AS text
         |      FROM w0 WHERE doc_id < 20),
         |qw AS (SELECT qid, $wsSql AS ws FROM q),
         |qsh AS (SELECT DISTINCT qid,
         |          unnest([array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)]) AS sh
         |        FROM qw WHERE len(ws) >= 3),
         |dsh AS (SELECT DISTINCT doc_id,
         |          unnest([array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)]) AS sh
         |        FROM w0 WHERE len(ws) >= 3),
         |qc AS (SELECT qid, COUNT(*) AS n_q FROM qsh GROUP BY 1),
         |dc AS (SELECT doc_id, COUNT(*) AS n_d FROM dsh GROUP BY 1),
         |i AS (SELECT sq.qid, sd.doc_id, COUNT(*) AS n_inter
         |      FROM qsh sq JOIN dsh sd ON sq.sh = sd.sh GROUP BY 1, 2),
         |j AS (SELECT i.qid, i.doc_id,
         |        ROUND(CAST(i.n_inter AS DOUBLE)
         |          / (qc.n_q + dc.n_d - i.n_inter), 6) AS jacc
         |      FROM i JOIN qc ON qc.qid = i.qid JOIN dc ON dc.doc_id = i.doc_id),
         |r AS (SELECT qid, doc_id, jacc,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY jacc DESC, doc_id) AS BIGINT) AS rank
         |      FROM j),
         |sel AS (SELECT t.qid, t.rank, t.doc_id, t.jacc, d.n_chars,
         |          CAST(SUM(d.n_chars) OVER (PARTITION BY t.qid
         |                 ORDER BY t.rank) AS BIGINT) AS cum_chars
         |        FROM (SELECT * FROM r WHERE rank <= 3) t
         |        JOIN documents d ON d.doc_id = t.doc_id)
         |SELECT qid, rank, doc_id, jacc, n_chars, cum_chars,
         |  cum_chars <= 600 AS fits,
         |  CAST(CASE WHEN cum_chars <= 600 THEN n_chars
         |       ELSE greatest(0, 600 - (cum_chars - n_chars)) END AS BIGINT)
         |    AS clipped_chars
         |FROM sel ORDER BY qid, rank""".stripMargin,

    "q84_chunk_documents" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |chunks AS (
         |  SELECT doc_id,
         |         unnest([{'i': c, 'ch': ws[c*48+1 : c*48+64]}
         |                 for c in generate_series(0, (len(ws)-1)//48)]) AS u
         |  FROM w WHERE len(ws) >= 1
         |)
         |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
         |       CAST(len(u.ch) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(u.ch, ' ')) AS chunk_hash
         |FROM chunks
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q85_shard_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, md5('q85:' || CAST(doc_id AS VARCHAR)) AS hh
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id, hh,
        |         CAST(list_sum([(strpos('0123456789abcdef', substr(hh, i, 1)) - 1)
        |                        * (16**(8-i))::BIGINT
        |                        for i in generate_series(1, 8)]) % 16 AS BIGINT) AS shard
        |  FROM h
        |)
        |SELECT shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT) AS pos,
        |       doc_id
        |FROM keyed
        |ORDER BY shard, pos""".stripMargin,

    "q86_inverted_index" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |pairs AS (SELECT DISTINCT doc_id, unnest(ws) AS word FROM w),
         |dfs AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY word),
         |posts AS (
         |  SELECT p.word, string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id) AS postings
         |  FROM pairs p JOIN dfs d USING (word)
         |  WHERE d.df <= 100
         |  GROUP BY p.word
         |)
         |SELECT d.word, d.df, posts.postings
         |FROM dfs d LEFT JOIN posts USING (word)
         |ORDER BY d.word""".stripMargin,

    "q87_bm25" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |         CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl,
         |         CAST(SUM(CASE WHEN list_contains(ws, 'data') THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
         |         CAST(SUM(CASE WHEN list_contains(ws, 'model') THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
         |         CAST(SUM(CASE WHEN list_contains(ws, 'training') THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
         |  FROM w
         |), scored AS (
         |  SELECT doc_id,
         |    ROUND(
         |      ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
         |        * (CAST(len(list_filter(ws, x -> x = 'data')) AS DOUBLE) * (1.2 + 1.0))
         |        / (CAST(len(list_filter(ws, x -> x = 'data')) AS DOUBLE)
         |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ws) AS DOUBLE) / avgdl))
         |      + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
         |        * (CAST(len(list_filter(ws, x -> x = 'model')) AS DOUBLE) * (1.2 + 1.0))
         |        / (CAST(len(list_filter(ws, x -> x = 'model')) AS DOUBLE)
         |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ws) AS DOUBLE) / avgdl))
         |      + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
         |        * (CAST(len(list_filter(ws, x -> x = 'training')) AS DOUBLE) * (1.2 + 1.0))
         |        / (CAST(len(list_filter(ws, x -> x = 'training')) AS DOUBLE)
         |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ws) AS DOUBLE) / avgdl)),
         |    6) AS bm25
         |  FROM w CROSS JOIN stats
         |)
         |SELECT doc_id, bm25 FROM scored
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 20""".stripMargin,

    // the q87 scored CTE verbatim, fused with a cosine ranker
    "q133_rank_fusion" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |         CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl,
         |         CAST(SUM(CASE WHEN list_contains(ws, 'data') THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
         |         CAST(SUM(CASE WHEN list_contains(ws, 'model') THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
         |         CAST(SUM(CASE WHEN list_contains(ws, 'training') THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
         |  FROM w
         |), scored AS (
         |  SELECT doc_id,
         |    ROUND(
         |      ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
         |        * (CAST(len(list_filter(ws, x -> x = 'data')) AS DOUBLE) * (1.2 + 1.0))
         |        / (CAST(len(list_filter(ws, x -> x = 'data')) AS DOUBLE)
         |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ws) AS DOUBLE) / avgdl))
         |      + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
         |        * (CAST(len(list_filter(ws, x -> x = 'model')) AS DOUBLE) * (1.2 + 1.0))
         |        / (CAST(len(list_filter(ws, x -> x = 'model')) AS DOUBLE)
         |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ws) AS DOUBLE) / avgdl))
         |      + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
         |        * (CAST(len(list_filter(ws, x -> x = 'training')) AS DOUBLE) * (1.2 + 1.0))
         |        / (CAST(len(list_filter(ws, x -> x = 'training')) AS DOUBLE)
         |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ws) AS DOUBLE) / avgdl)),
         |    6) AS bm25
         |  FROM w CROSS JOIN stats
         |),
         |lex AS (SELECT doc_id, rank_lex FROM (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
         |  FROM scored) WHERE rank_lex <= 50),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |semall AS (SELECT vec_id,
         |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |                                 CAST(qe AS DOUBLE[])), 6) AS cs
         |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
         |sem AS (SELECT vec_id, rank_sem FROM (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY cs DESC, vec_id) AS rank_sem
         |  FROM semall) WHERE rank_sem <= 50),
         |fused AS (SELECT COALESCE(l.doc_id, s.vec_id) AS id,
         |    l.rank_lex, s.rank_sem,
         |    ROUND(COALESCE(1.0 / (60 + l.rank_lex), 0)
         |        + COALESCE(1.0 / (60 + s.rank_sem), 0), 6) AS rrf
         |  FROM lex l FULL JOIN sem s ON l.doc_id = s.vec_id)
         |SELECT id, rank_lex, rank_sem, rrf FROM fused
         |ORDER BY rrf DESC, id
         |LIMIT 20""".stripMargin,

    "q219_bitext_mine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    CAST(ROUND(round(list_cosine_similarity(a.emb, b.emb), 6) * 1e6)
         |      AS BIGINT) AS cos_u
         |  FROM e a JOIN e b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
         |fwd AS (SELECT a_id, SUM(cos_u) AS sum_fwd FROM (
         |    SELECT a_id, cos_u,
         |      row_number() OVER (PARTITION BY a_id
         |                         ORDER BY cos_u DESC, b_id) AS rk
         |    FROM p) WHERE rk <= 4 GROUP BY a_id),
         |bwd AS (SELECT b_id, SUM(cos_u) AS sum_bwd FROM (
         |    SELECT b_id, cos_u,
         |      row_number() OVER (PARTITION BY b_id
         |                         ORDER BY cos_u DESC, a_id) AS rk
         |    FROM p) WHERE rk <= 4 GROUP BY b_id),
         |m AS (SELECT p.a_id, p.b_id,
         |    8.0 * p.cos_u / (f.sum_fwd + w.sum_bwd) AS margin
         |  FROM p JOIN fwd f USING (a_id) JOIN bwd w USING (b_id)),
         |r AS (SELECT a_id, b_id, margin,
         |    row_number() OVER (PARTITION BY a_id
         |                       ORDER BY margin DESC, b_id) AS ra,
         |    row_number() OVER (PARTITION BY b_id
         |                       ORDER BY margin DESC, a_id) AS rb
         |  FROM m)
         |SELECT a_id, b_id, ROUND(margin, 6) AS margin
         |FROM r WHERE ra = 1 AND rb = 1 AND margin > 1.05
         |ORDER BY a_id""".stripMargin,

    "q223_kendall_tau" ->
      s"""WITH m AS (SELECT source, doc_id, n_chars,
         |    CAST(len($wsSql) AS BIGINT) AS n_words
         |  FROM documents),
         |v AS (SELECT a.source,
         |    sign((a.n_chars - b.n_chars) * (a.n_words - b.n_words)) AS sgn
         |  FROM m a JOIN m b
         |    ON a.source = b.source AND a.doc_id < b.doc_id),
         |agg AS (SELECT source,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS concordant,
         |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS discordant
         |  FROM v GROUP BY source),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM m GROUP BY source)
         |SELECT nd.source, nd.n_docs, agg.concordant, agg.discordant,
         |  agg.n_pairs - agg.concordant - agg.discordant AS n_ties,
         |  ROUND(2.0 * (agg.concordant - agg.discordant) /
         |    greatest(1, nd.n_docs * (nd.n_docs - 1)), 6) AS tau
         |FROM nd JOIN agg USING (source)
         |ORDER BY source""".stripMargin,

    // Gonzalez farthest-point traversal, 7 unrolled pick/re-min CTE
    // pairs (the q91 unrolled-iteration pattern); distances in exact
    // ×1e6 micro-units so every argmax ties out bit-identically.
    "q225_coreset" -> {
      val rounds = (2 to 8).map { i =>
        val prev = s"s${i - 1}"
        val reMin =
          if (i == 8) "" // s8 is never consumed
          else s""",
             |s$i AS (SELECT d.vec_id, LEAST(d.du,
             |    1000000 - CAST(ROUND(round(list_cosine_similarity(
             |      e2.emb, pe.emb), 6) * 1e6) AS BIGINT)) AS du
             |  FROM $prev d
             |  JOIN e e2 ON e2.vec_id = d.vec_id
             |  CROSS JOIN (SELECT e.emb FROM p$i
             |              JOIN e ON e.vec_id = p$i.vec_id) pe
             |  WHERE d.vec_id <> (SELECT vec_id FROM p$i))""".stripMargin
        s"""p$i AS (SELECT vec_id, du FROM $prev
           |        ORDER BY du DESC, vec_id LIMIT 1)""".stripMargin + reMin
      }.mkString(",\n")
      val steps = (2 to 8).map(i =>
        s"UNION ALL SELECT CAST($i AS BIGINT), vec_id, du FROM p$i")
        .mkString("\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |s1 AS (SELECT d.vec_id,
         |    1000000 - CAST(ROUND(round(list_cosine_similarity(
         |      d.emb, s.emb), 6) * 1e6) AS BIGINT) AS du
         |  FROM e d CROSS JOIN (SELECT emb FROM e WHERE vec_id = 0) s
         |  WHERE d.vec_id <> 0),
         |$rounds
         |SELECT CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS vec_id,
         |  CAST(NULL AS BIGINT) AS radius_u
         |$steps
         |ORDER BY step""".stripMargin
    }
  )
}

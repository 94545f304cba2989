package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Caching.ScopedPersist

/** SURVEY.md §2.3 #36-39 — text analysis over the documents table.
  * Everything is codegen'd built-ins (regexp_extract_all / size /
  * integer arithmetic) — one narrow pass per document, no UDFs.
  */
object TextAnalysis {

  // the native allocation-free count kernel (same regex engine +
  // find() walk as size(regexp_extract_all(c, p, 0)), bit-identical
  // counts — PlanAuditSpec pins the equivalence)
  private def nMatches(c: Column, pattern: String): Column =
    graft.functions.GraftFunctions.countMatches(c, pattern)

  /** Stopword-marker language ID. Real lang-id uses char n-gram
    * profiles; the operator shape (per-class evidence counts → argmax
    * with deterministic tie-break) is identical.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (en, es, fr) = langEvidence(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      en.as("n_en"), es.as("n_es"), fr.as("n_fr"),
      predLang(col(textCol)).as("pred_lang"))
  }

  private def langEvidence(textCol: Column): (Column, Column, Column) = {
    val t = lower(textCol)
    (nMatches(t, "\\b(the|a|of|and|to)\\b"),
      nMatches(t, "\\b(el|la|de|los|que)\\b"),
      nMatches(t, "\\b(le|les|des|une|est)\\b"))
  }

  private def predLang(textCol: Column): Column = {
    val (en, es, fr) = langEvidence(textCol)
    when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Language-METADATA trust audit: declared language tags in web
    * corpora are notoriously wrong (crawl headers, site-level tags),
    * and a mixing pipeline that stratifies on a lying `lang` column
    * silently skews its mixture. Confusion matrix of declared vs
    * predicted language plus the per-declared-tag agreement rate —
    * the report that decides whether the metadata is usable or the
    * corpus needs re-identification.
    *
    * Prediction is inlined into the scan (no self-join back to the
    * metadata): one narrow kernel pass, one groupBy of the tiny
    * (declared × predicted) lattice; the window total runs over that
    * lattice, not the corpus.
    */
  def langAudit(docs: DataFrame, textCol: String,
                declaredCol: String): DataFrame = {
    val conf = docs
      .select(col(declaredCol).as("lang"), predLang(col(textCol)).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    conf
      .withColumn("lang_total", sum(col("n")).over(w))
      .withColumn("rate",
        round(col("n").cast("double") / col("lang_total"), 6))
  }

  /** Length / punctuation / stopword / repetition quality signals +
    * a composite keep/flag verdict (the C4/Gopher-style filter shape).
    * Integer counts; one double division per ratio ⇒ deterministic.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nWords = nMatches(t, "\\S+")
    val nPunct = nMatches(t, "[^\\w\\s]")
    val nStop  = nMatches(lower(t), "\\b(the|a|of|and|to)\\b")
    val nDistinct = size(array_distinct(regexp_extract_all(lower(t), lit("\\S+"), lit(0))))
    docs.select(col(idCol).as("doc_id"),
      nChars.as("n_chars"), nWords.as("n_words"),
      round(nChars.cast("double") / nWords, 6).as("mean_word_len"),
      round(nPunct.cast("double") / nChars, 6).as("punct_ratio"),
      round(nStop.cast("double") / nWords, 6).as("stopword_ratio"),
      round(nDistinct.cast("double") / nWords, 6).as("distinct_ratio"),
      (nWords >= 10 && nStop > 0 && nDistinct.cast("double") / nWords > 0.2)
        .cast("int").as("keep"))
  }

  /** Whitespace tokens + a BPE-ish regex token count (letter runs,
    * single digits, single punctuation marks — the pre-tokenizer
    * shape used by byte-pair encoders).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col("lang"),
      nMatches(col(textCol), "\\S+").as("ws_tokens"),
      nMatches(lower(col(textCol)), "[a-z]+|[0-9]|[^a-z0-9\\s]").as("bpe_tokens"),
      length(col(textCol)).as("n_chars_calc"))

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII scrubbing: count and redact email addresses and phone-shaped
    * digit runs (the pre-training privacy pass). One narrow codegen'd
    * pass — two regexp counts + a chained regexp_replace; patterns are
    * RE2-safe so the DuckDB oracle evaluates them identically.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      nMatches(t, emailRe).cast("long").as("n_emails"),
      nMatches(t, phoneRe).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(t, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        .as("scrubbed"))
  }

  /** Benchmark decontamination dispatcher: flag corpus docs sharing
    * any n-word shingle with a benchmark set (the eval-leakage check
    * every training pipeline runs). Routes on the benchmark's shingle
    * volume — ONE narrow scan of the benchmark (never the corpus)
    * upper-bounds its shingle count as Σ max(words−n+1, 0):
    *
    *  - ≤ `maxExactShingles` → [[contaminationExact]]: per-row
    *    `array_intersect` against one broadcast array, exact counts.
    *  - above → [[contaminationBloom]] (output renamed to match):
    *    fixed-size Bloom probe, O(1) per shingle regardless of
    *    benchmark size; may over-flag at the bounded FP rate, never
    *    under-flags.
    *
    * The probe makes this entry point non-lazy (one small action);
    * call the concrete variants directly for a fully lazy plan.
    * Assumes UNIQUE doc_ids in `corpus` — output is one row per
    * flagged input ROW, not an aggregate per id.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 8,
                    maxExactShingles: Long = 1L << 16): DataFrame = {
    val shingleUpper = benchmark
      .select(graft.functions.GraftFunctions.normWords(col(textCol)).as("__ws"))
      .select(greatest(size(col("__ws")) - (n - 1), lit(0)).cast("long").as("k"))
      .agg(coalesce(sum(col("k")), lit(0L))).first().getLong(0)
    if (shingleUpper <= maxExactShingles)
      contaminationExact(corpus, benchmark, idCol, textCol, n)
    else
      contaminationBloom(corpus, benchmark, idCol, textCol, n)
        .withColumnRenamed("n_flagged", "n_contaminated")
  }

  /** Exact decontamination for SMALL benchmark sets (eval suites —
    * thousands of docs): the benchmark's distinct shingles fold into
    * ONE broadcast array row; each corpus doc then scores itself with
    * a narrow `array_intersect` against that constant, so the corpus
    * side is a single scan with NO shuffle and NO join
    * materialization. Caveats that make this the small-set path only
    * (use [[contaminationBloom]] or the [[contamination]] dispatcher
    * otherwise): `array_intersect` rebuilds its hash set from the
    * broadcast array for EVERY corpus row, so per-row cost grows with
    * benchmark size; and the final collect funnels the (pre-distinct,
    * distributed) shingle set through one task. Assumes UNIQUE
    * doc_ids in `corpus` — one output row per flagged input row.
    */
  def contaminationExact(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int = 8): DataFrame = {
    // round 18 (guide §1.2/§4): the benchmark's deduped shingle set —
    // already bounded by the dispatcher — is collected ONCE at plan
    // construction (the stat.bloomFilter discipline: a small driver-
    // side build for a per-row probe structure) and baked into the
    // fused ShingleSetMatch kernel, which probes a task-local hash set
    // per shingle instead of re-building the bench set from a
    // broadcast array for EVERY corpus row (and never materializes
    // the corpus-side shingle array at all). Identical counts —
    // parity pinned in Round18OptSpec. This makes the call non-lazy
    // (one small bench-side action at construction).
    val bench = benchShingleSet(benchmark, textCol, n)
    corpus
      .select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.shingleSetMatch(
          graft.functions.GraftFunctions.normWords(col(textCol)), n, bench,
          countTotal = false).getField("n_matched").as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
  }

  /** The benchmark side of the exact-contamination family: deduped
    * n-word shingles, computed distributed (distinct on shingle) and
    * collected once — callers bound its size (the [[contamination]]
    * dispatcher's `maxExactShingles`). */
  private def benchShingleSet(benchmark: DataFrame, textCol: String,
                              n: Int): Array[String] = {
    val ws = benchmark
      .select(graft.functions.GraftFunctions.normWords(col(textCol)).as("__ws"))
      .scopedPersist() // lambda barrier — see Dedup.docShingles
    val out = ws
      .select(explode(array_distinct(
        graft.functions.GraftFunctions.wordShingles(col("__ws"), n))).as("sh"))
      .distinct().collect().map(_.getString(0))
    ws.unpersist(false)
    out
  }

  /** Contamination SCORING — the graded form of [[contaminationExact]]:
    * instead of a binary flag, every corpus doc (with at least one
    * n-shingle) gets its distinct-shingle count, the count shared with
    * the benchmark, the overlap fraction, and a three-tier verdict
    * (clean / partial / dirty). Partial contamination is the common
    * real-world case — a doc quoting one eval question shouldn't be
    * treated like a full benchmark copy, and the fraction is what a
    * curation run thresholds on. Same plan shape as the exact path:
    * benchmark shingles fold into ONE broadcast array row, the corpus
    * side is a single scan with no shuffle and no join.
    */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int = 8,
                         dirtyAt: Double = 0.5): DataFrame = {
    // round 18: same fused-kernel rewrite as [[contaminationExact]],
    // with countTotal=true so the kernel also emits the per-doc
    // distinct-shingle count (≡ size(array_distinct(shingles))).
    // Non-lazy (one small bench-side action at construction).
    val bench = benchShingleSet(benchmark, textCol, n)
    corpus
      .select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.shingleSetMatch(
          graft.functions.GraftFunctions.normWords(col(textCol)), n, bench,
          countTotal = true).as("__m"))
      .select(col("doc_id"),
        col("__m").getField("n_shingles").as("n_shingles"),
        col("__m").getField("n_matched").as("n_contaminated"))
      .filter(col("n_shingles") > 0)
      .withColumn("contam_frac",
        round(col("n_contaminated").cast("double") /
          greatest(col("n_shingles"), lit(1L)), 6))
      .withColumn("verdict",
        when(col("contam_frac") >= dirtyAt, "dirty")
          .when(col("n_contaminated") > 0, "partial")
          .otherwise("clean"))
  }

  /** Encoding-corruption audit: count the signatures of UTF-8 text
    * that went through a Latin-1/Windows-1252 misdecode (mojibake) or
    * lossy byte decoding — the "Ã"/"Â" lead bytes every misdecoded
    * accented character produces, the "â€¦"-family sequences from
    * misdecoded smart punctuation, and U+FFFD replacement characters
    * from decode failures. Emits per-doc counts, a rate per 1000
    * chars, and a clean / suspect / corrupt verdict (rate-thresholded
    * so one stray artifact in a long document doesn't nuke it). One
    * narrow codegen'd projection; genuinely accented text (é, ü)
    * passes untouched because the markers are the *misdecoded* forms.
    */
  def encodingAudit(docs: DataFrame, idCol: String, textCol: String,
                    corruptPer1000: Double = 5.0): DataFrame = {
    val t = col(textCol)
    val nLead = nMatches(t, "[ÃÂ]")
    val nMoji = nMatches(t, "â€")
    val nRepl = nMatches(t, "�")
    docs.select(col(idCol).as("doc_id"),
      nLead.cast("long").as("n_latin1_lead"),
      nMoji.cast("long").as("n_punct_moji"),
      nRepl.cast("long").as("n_replacement"),
      length(t).cast("long").as("n_chars"))
      .withColumn("bad_per_1000",
        round((col("n_latin1_lead") + col("n_punct_moji") + col("n_replacement"))
          .cast("double") * 1000.0 / greatest(col("n_chars"), lit(1L)), 6))
      .withColumn("verdict",
        when(col("bad_per_1000") >= corruptPer1000, "corrupt")
          .when(col("n_latin1_lead") + col("n_punct_moji") + col("n_replacement") > 0,
            "suspect")
          .otherwise("clean"))
  }

  /** Bloom-filter decontamination — the 100 TB shape of
    * [[contamination]]. The benchmark shingle set folds into a fixed
    * `numBits/8`-byte Bloom filter via one mergeable aggregate
    * (inserts are idempotent, so no distinct pass is needed), the
    * filter broadcasts as a single binary value, and the corpus
    * probes it with a codegen'd `array_filter(shingles, contains)` —
    * no shuffle of corpus data, no join materialization, and the
    * broadcast payload is m/8 bytes regardless of benchmark row
    * count. False negatives are impossible (every truly contaminated
    * doc is flagged); false positives are the bounded Bloom rate and
    * acceptable for an over-flagging decontamination pass. Assumes
    * UNIQUE doc_ids in `corpus` — one output row per flagged input
    * row.
    */
  def contaminationBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int = 8,
                         numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    import graft.functions.{BloomFunctions, GraftFunctions}
    def shingleArr(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"),
        GraftFunctions.normWords(col(textCol)).as("__ws"))
      .scopedPersist() // lambda barrier — see Dedup.docShingles
      .select(col("doc_id"),
        array_distinct(GraftFunctions.wordShingles(col("__ws"), n)).as("shs"))
    val filterBits = shingleArr(benchmark)
      .select(explode(col("shs")).as("sh"))
      .agg(BloomFunctions.bloomAgg(col("sh"), numBits, numHashes).as("__bits"))
    // round 17: the probe side pays numHashes digests per shingle per
    // doc (~10⁶ digests at bench scale) — fan the corpus out BEFORE
    // shingling iff the scan is under-parallel (per-doc verdicts are
    // trivially partition-invariant; a multi-split scan at real scale
    // makes this a no-op)
    shingleArr(locally { import graft.Caching.FanOut; corpus.fanOutSmallScan() })
      .crossJoin(broadcast(filterBits)) // 1-row filter — broadcast-nested-loop, no shuffle
      // fused per-row probe (round 17): the filter(shs, ...) lambda
      // re-materialized the filter BYTES once per shingle; the kernel
      // reads them once per doc — identical count
      .select(col("doc_id"),
        BloomFunctions.bloomCountContained(col("__bits"), col("shs"), numHashes)
          .as("n_flagged"))
      .filter(col("n_flagged") > 0)
  }

  /** Gopher-style repetition signals: duplicate-bigram fraction and
    * most-frequent-word mass — the repetition filters from the Gopher
    * corpus-quality rules. Bigram stats are narrow array expressions;
    * the top-word pass is explode → two partial-agg groupBys on doc_id
    * (map-side combinable, shuffle bounded by distinct words/doc).
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.normWords(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .scopedPersist() // lambda barrier + two consumers
    val base = ws
      .select(col("doc_id"), col("__ws"),
        graft.functions.GraftFunctions.wordShingles(col("__ws"), 2).as("__bi"))
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        size(col("__bi")).cast("long").as("n_bigrams"),
        size(array_distinct(col("__bi"))).cast("long").as("n_bigrams_distinct"))
    val topWord = ws
      .select(col("doc_id"), explode(col("__ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_count"))
    base.join(topWord, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_bigrams"),
        round(lit(1.0) - col("n_bigrams_distinct").cast("double") / col("n_bigrams"), 6)
          .as("dup_bigram_frac"),
        round(col("top_word_count").cast("double") / col("n_words"), 6)
          .as("top_word_frac"))
  }

  /** Boilerplate segment removal — the line-level dedup of
    * CCNet/RefinedWeb, tile-ified because the corpus has no line
    * structure: the normalized word stream is cut into consecutive
    * FULL tileWords-word tiles, any tile occurring in ≥ minDocs
    * DISTINCT docs is boilerplate (nav bars, license headers, cookie
    * banners — whatever repeats verbatim across documents), and each
    * doc is reassembled from its surviving tiles in original order.
    *
    * Scale shape: tiles derive narrowly (one per tileWords words, so
    * the explode is |words|/tileWords rows — lighter than any shingle
    * pass); the hot-tile count is one uniform-key shuffle with
    * map-side partial counts; removal is a left-anti join against the
    * (small) hot set; reassembly is one doc_id shuffle. Every doc
    * comes back, even fully-boilerplate ones (clean_text = '').
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        tileWords: Int = 5, minDocs: Int = 2): DataFrame = {
    val ws = docs.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.normWords(col(textCol)).as("__ws"))
    val tiles = ws
      .select(col("doc_id"),
        when(size(col("__ws")) >= tileWords,
          transform(sequence(lit(0), (size(col("__ws")) / tileWords).cast("int") - 1),
            i => array_join(slice(col("__ws"), i * tileWords + 1, lit(tileWords)), " ")))
          .otherwise(array().cast("array<string>")).as("__tiles"))
      .select(col("doc_id"), posexplode(col("__tiles")))
      .select(col("doc_id"), col("pos").as("tile_idx"), col("col").as("tile"))
      .scopedPersist() // consumed by the hot-set count AND the anti-join
    val hot = tiles.groupBy(col("tile"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("tile"))
    val kept = tiles.join(hot, Seq("tile"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tile_idx"), col("tile")))),
          x => x.getField("tile")), " ").as("clean_text"))
    val counts = tiles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tiles"))
    ws.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tiles"), lit(0L)).as("n_tiles"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** C4-style line-level quality filter (Raffel et al.'20 §2.2): the
    * rule pass every web corpus runs before any model-based scoring.
    * Input is MULTI-LINE text; per line the C4 rules are
    *   - keep only lines ending in terminal punctuation (. ! ?),
    *   - keep only lines with ≥ `minWordsPerLine` words,
    *   - drop lines containing a blocklist phrase ("javascript" — the
    *     enable-JS banner — or cookie/lorem chrome),
    *   - drop lines containing '{' (code/markup leakage);
    * and per document: keep iff ≥ `minKeptLines` lines survive AND the
    * page contains no '{' anywhere (C4 drops brace pages whole).
    *
    * The entire pass is higher-order array functions over the text
    * column — split / filter / array_join — ZERO shuffles: at 100 TB
    * this is a map-only scan whose cost is the read itself. The
    * retained text is emitted as an md5 so the verdict table stays
    * row-sized regardless of document length.
    */
  def c4Filter(pages: DataFrame, idCol: String, textCol: String,
               minWordsPerLine: Int = 5, minKeptLines: Int = 3,
               blocklist: Seq[String] =
                 Seq("javascript", "lorem ipsum", "cookie policy")): DataFrame = {
    val lines = when(col(textCol) === "", array().cast("array<string>"))
      .otherwise(split(col(textCol), "\n"))
    def lineKeep(l: Column): Column = {
      val terminal = endswith(l, lit(".")) || endswith(l, lit("!")) ||
        endswith(l, lit("?"))
      val longEnough = size(split(l, " ")) >= minWordsPerLine
      val blocked = blocklist.map(p => l.contains(p))
        .reduce(_ || _) || l.contains("{")
      terminal && longEnough && !blocked
    }
    pages
      .withColumn("__lines", lines)
      .withColumn("__kept", filter(col("__lines"), lineKeep _))
      .select(col(idCol).as("doc_id"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        col(textCol).contains("{").as("has_brace"),
        (size(col("__kept")) >= minKeptLines &&
          !col(textCol).contains("{")).as("keep"),
        md5(array_join(col("__kept"), "\n")).as("kept_hash"))
  }

  /** Jensen-Shannon divergence of each source's unigram distribution
    * against the rest of the corpus — the distribution-shift score a
    * mixing pipeline watches per ingest batch (0 = identical,
    * ln 2 = disjoint). Tokens ABSENT from a source contribute
    * 0.5·q·ln2 each (p=0 ⇒ m=q/2), so their total is the closed form
    * 0.5·ln2·(1−Σ_{w∈source} q(w)) and only the source's own vocab is
    * ever enumerated — never a source × vocab cross join. Per-token
    * terms are quantized to DECIMAL(18,12) before the sum (the q101
    * discipline: exact, partition-order-independent reduction).
    *
    * Shuffle budget: one (source, word) groupBy; the word-marginal
    * and source-marginal rollups reuse it (vocab-bounded); the join
    * tree is broadcast except the vocab-keyed word join. At 100 TB
    * the per-source vocab table is ≪ the corpus — this is a
    * metadata-sized job after the first exchange.
    */
  def jsDivergenceBySource(docs: DataFrame, srcCol: String,
                           textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sc = docs
      .select(col(srcCol).as("source"),
        explode(graft.functions.GraftFunctions.normWords(col(textCol)))
          .as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .scopedPersist() // feeds cw, ns, tt and the join — one shuffle
    val cw = sc.groupBy(col("word")).agg(sum(col("c")).as("cw"))
    val ns = sc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val tt = sc.agg(sum(col("c")).as("tt"))
    val p = col("c").cast("double") / col("ns")
    val q = (col("cw") - col("c")).cast("double") / (col("tt") - col("ns"))
    val m = (p + q) / lit(2.0)
    val term = (p * log(p / m) +
      when(col("cw") > col("c"), q * log(q / m)).otherwise(lit(0.0))) / lit(2.0)
    sc.join(cw, "word").join(broadcast(ns), "source").crossJoin(broadcast(tt))
      .select(col("source"),
        term.cast(DecimalType(18, 12)).as("term"),
        q.cast(DecimalType(18, 12)).as("qmass"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("term")).cast("double") +
          lit(0.5 * math.log(2.0)) *
            (lit(1.0) - sum(col("qmass")).cast("double")), 6)
          .as("js_divergence"))
  }

  /** Hashing-trick featurizer audit (Weinberger et al.'09, the
    * fastText/Vowpal-Wabbit input shape): tokens hash to `dims`
    * buckets with a ±1 sign bit, giving every document a fixed-width
    * signed-count vector with NO vocabulary table to build, broadcast,
    * or keep consistent across a 100 TB corpus — the property that
    * makes it the default featurizer for corpus-scale classifiers
    * (q115 scores through the same bucket arithmetic). Emits the
    * audit row per doc: occupied buckets, surviving nonzeros (signs
    * can cancel), and the exact integer L1/L2² norms.
    *
    * Two uniform-key shuffles ((doc, bucket) partial-agg then per-doc
    * rollup); everything else is narrow md5 arithmetic. All-integer
    * output — bit-exact on any engine.
    */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
                  dims: Int = 64): DataFrame = {
    val word = col("word")
    val bucket = graft.functions.GraftFunctions.md5HexLong(word, 1, 8) % dims
    val sgn = when(graft.functions.GraftFunctions.md5HexLong(word, 9, 1)
      % 2 === 0, lit(1L)).otherwise(lit(-1L))
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.normWords(col(textCol)))
          .as("word"))
      .select(col("doc_id"), bucket.as("bucket"), sgn.as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("s") =!= 0, 1L).otherwise(0L)).as("nnz"),
        sum(col("s") * col("s")).as("l2sq"),
        sum(abs(col("s"))).as("l1"))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): md5 over
    * char k-grams, per-window minimum, distinct. Array-expression
    * pipeline — no shuffle until the caller aggregates.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, window: Int = 4): DataFrame =
    docs
      .withColumn("__s", regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""))
      .filter(length(col("__s")) >= k + window)
      .withColumn("__h", expr(s"transform(sequence(1, length(__s) - ${k - 1}), i -> md5(substr(__s, i, $k)))"))
      .withColumn("fps", expr(s"array_distinct(transform(sequence(1, size(__h) - ${window - 1}), j -> array_min(slice(__h, j, $window))))"))
      .select(col(idCol).as("doc_id"),
        size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
}

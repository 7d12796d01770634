package graft.scale

import graft.core.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: benchmark
  * decontamination, PII scrubbing, and per-stratum mix sampling — the three
  * cleaning steps that sit between raw dedup and tokenization in a real LLM
  * data pipeline. All three are deterministic functions of the data (no
  * sketches, no LSH), so every declared query carries a full value-level
  * DuckDB oracle.
  */
object Curation {

  /** Benchmark decontamination: corpus docs sharing at least `minShared`
    * distinct `n`-token shingles with ANY eval/benchmark doc. n = 13 follows
    * the GPT-3 appendix-C convention: a 13-gram from a ~40-word vocabulary
    * has no chance collisions, so a hit means real contamination.
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs) —
    * its distinct shingle set broadcasts; the corpus side is one projection
    * + explode with NO shuffle of text (the broadcast hash join consumes
    * shingle keys in place, and only (doc_id, gram) survivors reach the
    * count aggregation). `hashKeys` (default) joins on xxhash64(gram)
    * longs instead of gram strings — 8 bytes per key in the broadcast
    * regardless of n.
    */
  def contaminatedDocs(corpus: DataFrame, evalDocs: DataFrame, n: Int = 13,
                       minShared: Int = 1, hashKeys: Boolean = true,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def key(g: Column): Column = if (hashKeys) xxhash64(g) else g
    // native DistinctShingles: one static kernel call per doc, already
    // distinct per doc (no dropDuplicates shuffle) — the transform/slice/
    // array_join composable form runs interpreted lambdas per position and
    // measured ~4x slower end-to-end on the declared query
    def sh(df: DataFrame) = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.DistinctShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(df(textCol)), n))
    val evalSh = evalDocs
      .select(explode(sh(evalDocs)).as("g"))
      .select(key(col("g")).as("g")).distinct()
    val corpusSh = corpus
      .select(col(idCol), explode(sh(corpus)).as("g"))
      .select(col(idCol), key(col("g")).as("g"))
    corpusSh.join(broadcast(evalSh), "g")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The reverse of [[contaminatedDocs]] — per EVAL document, how much of
    * the corpus quotes it: (eval_id, n_docs leaking it, n_shared
    * (corpus-doc, distinct-gram) pairs). This is the report a benchmark
    * owner reads ("which of MY tasks leaked, and how widely") where
    * contaminatedDocs is the report a corpus owner acts on. Same
    * machinery, eval attribution kept through the join; md5 keys so the
    * whole report replays.
    */
  def evalLeakReport(corpus: DataFrame, evalDocs: DataFrame, n: Int = 13,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def sh(df: DataFrame) = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.DistinctShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(df(textCol)), n))
    val e = evalDocs.select(col(idCol).as("eval_id"), explode(sh(evalDocs)).as("g"))
      .select(col("eval_id"), md5(col("g")).as("h")).distinct()
    val c = corpus.select(col(idCol), explode(sh(corpus)).as("g"))
      .select(col(idCol), md5(col("g")).as("h"))
    c.join(broadcast(e), "h")
      .groupBy("eval_id")
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_shared"))
  }

  /** [[contaminatedDocs]] at the scale where the eval shingle set outgrows a
    * broadcast hash relation: a full benchmark SUITE'S 10⁸ distinct gram
    * hashes are gigabytes as a join hashmap but ~10 bits/key as a bloom
    * filter. The bloom is built distributed (tree-aggregated bitsets — the
    * driver never materializes the key set), broadcast once, and probed
    * scan-local by the codegen'd [[graft.expressions.BloomMightContain]]:
    * ~all clean grams die before any shuffle. Only survivors — true
    * contamination plus the fpp sliver — reach the exact verify join, which
    * now shuffles survivor-sized relations instead of broadcasting the eval
    * set to every executor. False positives fail the verify join, so the
    * composed result is VALUE-EXACT, not approximate: same rows as
    * [[contaminatedDocs]] at any fpp.
    */
  def contaminatedDocsBloom(corpus: DataFrame, evalDocs: DataFrame, n: Int = 13,
                            minShared: Int = 1, fpp: Double = 0.01,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def sh(df: DataFrame) = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.DistinctShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(df(textCol)), n))
    val evalSh = evalDocs
      .select(explode(sh(evalDocs)).as("g"))
      .select(xxhash64(col("g")).as("g")).distinct()
    // one benchmark-sized pass to size the filter, one to fill it — the
    // eval side is small by contract (the corpus side is never counted)
    val nGrams = math.max(1L, evalSh.count())
    val bloom = evalSh.stat.bloomFilter("g", nGrams, fpp)
    val corpusSh = corpus
      .select(col(idCol), explode(sh(corpus)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("g"))
    val pre = corpusSh.filter(org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.BloomMightContain(
        org.apache.spark.sql.GraftColumnBridge.expression(col("g")), bloom)))
    // deliberately NOT broadcast: the verify join is survivor-sized on the
    // probe side, so the planner (AQE) picks its own strategy — at bench SF
    // that is a broadcast, at suite scale a shuffle of survivors only
    pre.join(evalSh, "g")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Surgical span-level eval decontamination: EXCISE every `n`-token span
    * of a corpus document that also occurs in the eval set, keeping the
    * rest of the document — the Lee et al. (ACL 2022) recommendation over
    * dropping whole documents, which wastes the uncontaminated 99% of a
    * long page that quotes one benchmark question. [[contaminatedDocs]]
    * answers "WHICH docs overlap"; this rewrites them.
    *
    * Mechanics: positional `n`-grams (per-doc lead window) are matched
    * against the eval set's distinct gram md5s (broadcast — the eval side
    * is metadata-sized by contract); matched starts become ±1 interval
    * events; a per-doc running sum marks covered tokens (the q255
    * coverage trick — no range join); survivors re-join in document
    * order. Output (doc_id, clean_text, n_scrubbed), total over the
    * corpus — a fully-quoted doc keeps '' with n_scrubbed = its length.
    * md5 keys (not xxhash) so the whole rewrite replays in the oracle.
    *
    * Scale shape: one broadcast hash join on 16-byte keys over the
    * corpus gram stream, per-doc windows only — text never rides a wide
    * shuffle until the per-doc rebuild's own keyed aggregation.
    */
  def scrubEvalSpans(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
                     textCol: String = "text"): DataFrame =
    scrubAgainstGrams(corpus, evalGramSet(evalDocs, n, textCol), n, textCol)

  /** The eval set's distinct positional-`n`-gram md5 keys — the frozen
    * screen [[scrubAgainstGrams]] and the streaming
    * [[graft.streaming.ScrubIndex]] seed from.
    */
  def evalGramSet(evalDocs: DataFrame, n: Int = 8,
                  textCol: String = "text"): DataFrame =
    posGrams(evalDocs, n, textCol).select("h").distinct()

  private def posGrams(df: DataFrame, n: Int, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"gram size must be >= 1, got $n")
    val toks = df.select(col("doc_id"),
      posexplode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        w => w =!= "")).as(Seq("p", "t")))
    // per-doc token count as an unordered window over the same doc_id
    // partition the gram window establishes — no groupBy+re-join
    toks
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("g", concat_ws(" ", (0 until n).map(o =>
        lead(col("t"), o).over(Window.partitionBy("doc_id").orderBy("p"))): _*))
      .filter(col("p") + n <= col("__n"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        md5(col("g")).as("h"))
  }

  /** [[scrubEvalSpans]] against an ALREADY-materialized gram key set —
    * the per-batch form the streaming sink drains through.
    */
  def scrubAgainstGrams(corpus: DataFrame, evalGrams: DataFrame, n: Int = 8,
                        textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenization pass, one doc_id exchange. A position's coverage —
    // historically the running sum of ±1 events built from a separate gram
    // stream and re-joined per (doc, pos) — equals the count of HIT gram
    // starts inside the trailing window [pos−n+1, pos] (the prefix sum of
    // +1@h/−1@(h+n) telescopes to exactly that), so it is a sliding window
    // sum over hit markers computed in the same per-doc pass that hashes
    // the grams. The per-doc rebuild then keeps cov = 0 tokens and counts
    // everything in a single aggregation over the same partitioning (no
    // lens re-join — a fully-scrubbed doc's length rides the aggregate).
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val toks = corpus.select(col("doc_id"),
      posexplode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        w => w =!= "")).as(Seq("p", "w")))
    val marked = toks
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("__h", md5(concat_ws(" ", (0 until n).map(o =>
        lead(col("w"), o).over(byDoc)): _*)))
      // distinct defensively: the left join must never duplicate a token
      // row (the historical event-sum form was insensitive to dup keys)
      .join(broadcast(evalGrams.select(col("h").as("__h")).distinct()
        .withColumn("__hit", lit(1))), Seq("__h"), "left")
      .withColumn("__m",
        when(col("p") + n <= col("__n") && col("__hit").isNotNull, 1L)
          .otherwise(0L))
    val covered = marked.withColumn("cov",
      sum("__m").over(byDoc.rowsBetween(-(n - 1), Window.currentRow)))
    val perDoc = covered.groupBy("doc_id").agg(
      array_join(transform(array_sort(collect_list(
          when(col("cov") === 0, struct(col("p"), col("w"))))),
        s => s.getField("w")), " ").as("clean_text"),
      count(lit(1)).as("__len"),
      sum(when(col("cov") === 0, 1L).otherwise(0L)).as("__kept"))
    corpus.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (coalesce(col("__len"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("n_scrubbed"))
  }

  /** Collocation mining: the top-`k` adjacent bigrams by integer log2-PMI
    * — `lg(c_ab) + lg(N) − lg(c_a) − lg(c_b)` with `lg(x) = bitlen(x)−1`
    * (the engine's standard exact-log surrogate; float log PMI would not
    * replay) — the phrase-mining signal a tokenizer-vocabulary or
    * stop-phrase pass starts from ("new york" scores high because its
    * parts rarely appear apart). `minCount` kills the hapax noise PMI is
    * notorious for. Two token-keyed count aggregations + a broadcast
    * 1-row total + a TakeOrdered cut — no vocab-wide window, no
    * pair-space blowup beyond the corpus's own adjacent pairs.
    */
  def collocations(docs: DataFrame, k: Int = 20, minCount: Long = 5,
                   textCol: String = "text"): DataFrame =
    collocationsFromCounts(termCounts(docs, textCol),
      bigramCounts(docs, textCol), k, minCount)

  /** Adjacent-bigram counts (w1, w2, cnt) — an ADDITIVE relation like
    * [[termCounts]] (bigrams never cross batch boundaries because they
    * never cross documents), which is what lets the streaming index
    * maintain it with O(batch) monoid partials (q276).
    */
  def bigramCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"),
        posexplode(filter(split(col(textCol), graft.expressions.Ws.Regex),
          w => w =!= "")).as(Seq("p", "w")))
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("p")))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[collocations]] from already-aggregated unigram (w, cnt) and bigram
    * (w1, w2, cnt) relations — the serving form over maintained count
    * indexes.
    */
  def collocationsFromCounts(uni: DataFrame, bi: DataFrame, k: Int = 20,
                             minCount: Long = 5): DataFrame = {
    def lg(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val scored = bi.select(col("w1"), col("w2"), col("cnt").as("cab"))
      .filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cnt").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("cnt").as("cb")), "w2")
      .crossJoin(broadcast(uni.agg(sum("cnt").as("n"))))
      .withColumn("pmi_l2", lg(col("cab")) + lg(col("n"))
        - lg(col("ca")) - lg(col("cb")))
    graft.ops.TopK.rankedCut(scored, k, "rnk",
        col("pmi_l2").desc, col("cab").desc, col("w1"), col("w2"))
      .select(col("rnk"), col("w1"), col("w2"), col("cab"), col("pmi_l2"))
  }

  /** The page-level crawl opt-out robots.txt cannot express: a
    * `<meta name=robots>` whose content lists `noindex` (the Robots Meta
    * Tag protocol — googlebot et al. honor it; a polite corpus must too).
    * Both attribute orders, any case, optional quotes; value matching is
    * exact on `robots` (quoted, or unquoted followed by a delimiter), so
    * `name="robotsxyz"` and `name="keywords" content="noindex"` never
    * flag. Pure codegen'd regex projection — zero shuffle; the patterns
    * stay in the RE2 ∩ java.util.regex subset so the oracle replays them
    * verbatim.
    */
  val MetaNoindexFwRe: String =
    "(?is)<meta[^>]*name[ \\t\\r\\n]*=[ \\t\\r\\n]*" +
      "(\"robots\"|'robots'|robots[ \\t\\r\\n>])" +
      "[^>]*content[ \\t\\r\\n]*=[ \\t\\r\\n]*[\"']?[^\"'>]*noindex"
  val MetaNoindexRevRe: String =
    "(?is)<meta[^>]*content[ \\t\\r\\n]*=[ \\t\\r\\n]*[\"']?[^\"'>]*noindex" +
      "[^>]*name[ \\t\\r\\n]*=[ \\t\\r\\n]*(\"robots\"|'robots'|robots[ \\t\\r\\n>])"

  def metaRobotsNoindex(html: Column): Column =
    html.isNotNull && (html.rlike(MetaNoindexFwRe) || html.rlike(MetaNoindexRevRe))

  /** PII scrubbing: redact emails and phone numbers with fixed placeholder
    * tokens, reporting per-doc redaction counts. Pure regexp projection —
    * codegen'd, zero shuffle, scans at parquet-read speed; patterns are kept
    * RE2-compatible (no backreferences/lookaround) so the same semantics
    * run on any regex engine.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhoneRe)))
      .withColumn(textCol,
        regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"))

  /** Per-stratum deterministic mix sampling — the "domain weights" step of
    * assembling a training mix: each stratum keeps a rate of `k/16` chosen
    * by comparing the row's content hash against a hex-prefix threshold.
    * Deterministic (same rows at every run, on any engine — md5 is the
    * cross-engine random permutation), exactly reproducible by the oracle,
    * and embarrassingly parallel: one codegen'd filter, no shuffle, no
    * state. Rates are sixteenths so the threshold is a single hex char;
    * 16 means keep-all, 0 drops the stratum.
    */
  def stratifiedMix(df: DataFrame, stratumCol: String, rates16: Map[String, Int],
                    default16: Int = 16, idCol: String = "doc_id"): DataFrame = {
    require((rates16.values ++ Seq(default16)).forall(r => r >= 0 && r <= 16),
      s"rates must be in [0, 16]: $rates16 / $default16")
    val h = md5(col(idCol).cast("string"))
    def keep(r: Int): Column =
      if (r >= 16) lit(true) else if (r <= 0) lit(false)
      else h < lit(r.toHexString) // md5 hex is uniform per nibble
    val cond = rates16.foldLeft(when(lit(false), lit(false))) {
      case (acc, (s, r)) => acc.when(col(stratumCol) === s, keep(r))
    }.otherwise(keep(default16))
    df.filter(cond)
  }

  /** Per-document repetition statistics (native [[graft.expressions.RepetitionStats]]
    * kernel: one pass, no explode, text never leaves the scan task) appended
    * as four int columns: n_words, n_distinct, top_word, top_bigram.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val r = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.RepetitionStats(
        org.apache.spark.sql.GraftColumnBridge.expression(docs(textCol))))
    docs.withColumn("__r", r)
      .withColumn("n_words", col("__r.n_words"))
      .withColumn("n_distinct", col("__r.n_distinct"))
      .withColumn("top_word", col("__r.top_word"))
      .withColumn("top_bigram", col("__r.top_bigram"))
      .drop("__r")
  }

  /** Gopher-rule repetition filter: drop documents whose most frequent
    * adjacent bigram covers >= fracNum/fracDen of bigram positions.
    * Integer comparison only — reproducible on any engine.
    */
  def dropRepetitive(docs: DataFrame, fracNum: Int = 1, fracDen: Int = 5,
                     textCol: String = "text"): DataFrame =
    repetitionStats(docs, textCol)
      .filter(!(col("n_words") >= 2 &&
        col("top_bigram") * fracDen >= (col("n_words") - 1) * fracNum))
      .drop("n_words", "n_distinct", "top_word", "top_bigram")

  /** Training-sequence packing (concat-and-chunk): shard-local greedy
    * assignment of documents to fixed-token-budget sequences. Each doc goes
    * to the sequence bin its cumulative-token start position falls in —
    * the standard "concatenate then cut every `budget` tokens" scheme.
    *
    * Scale shape: ONE hash shuffle by shard, then a shard-local running sum
    * (window ORDER BY doc_id inside each shard) — no global sort, no driver
    * state. nShards is the parallelism unit: at 100 TB set it to
    * executors x cores; each shard packs independently.
    */
  def packSequences(docs: DataFrame, budget: Int = 2048, nShards: Int = 64,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // token proxy = whitespace word count via the counting-only native
    // kernel (tokenizer-exact counts would slot in the same way via a
    // released tokenizer's vocab)
    val wc = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.WordCountNative(
        org.apache.spark.sql.GraftColumnBridge.expression(docs(textCol))))
    docs
      .select(col(idCol), (col(idCol) % nShards).as("shard"),
        coalesce(wc.cast("long"), lit(0L)).as("toks"))
      .withColumn("cum", sum("toks").over(w))
      .withColumn("seq",
        floor((col("cum") - col("toks")) / lit(budget.toDouble)).cast("long"))
  }

  /** Sliding-window document chunking — the long-document counterpart of
    * [[packSequences]]: split each doc's token stream into windows of
    * `maxTokens` words starting every `maxTokens - overlap` positions
    * (starts 0, stride, 2·stride, … while start < n; the final window may
    * be short; an empty doc yields no chunks). Output one row per chunk:
    * (id, chunk_idx, n_tokens, chunk-text rejoined with single spaces).
    *
    * Scale shape: a pure per-row projection + explode — no shuffle, no
    * state, each task chunks its own scan split; downstream consumers see
    * chunk rows bounded at maxTokens words each. Oracled end-to-end as q84.
    */
  def chunkByTokens(docs: DataFrame, maxTokens: Int = 64, overlap: Int = 16,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got $overlap / $maxTokens")
    val stride = maxTokens - overlap
    val ws = filter(split(col(textCol), graft.expressions.Ws.Regex), w => w =!= "")
    val n = size(col("__ws"))
    // candidate starts overshoot by one slot, then trim on start < n — this
    // keeps the bound expression simple and makes n = 0 yield zero chunks
    val starts = filter(
      transform(sequence(lit(0), floor((n + lit(stride - 1)) / lit(stride)).cast("int")),
        k => k * stride),
      s => s < n)
    docs.select(col(idCol), ws.as("__ws"))
      .select(col(idCol), posexplode(transform(starts, s =>
        struct(
          // chunk length arithmetically: min(n - s, maxTokens) — avoids
          // materializing the slice twice per chunk
          least(n - s, lit(maxTokens)).cast("long").as("n_tokens"),
          array_join(slice(col("__ws"), s + 1, lit(maxTokens)), " ").as("chunk")))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col.n_tokens").as("n_tokens"), col("col.chunk").as("chunk"))
  }

  /** CCNet-style unigram-LM surprisal scoring: pass 1 builds the corpus
    * word-frequency table (the canonical word-count job — map-side partial
    * aggregation, one shuffle on the word); pass 2 broadcasts the vocabulary
    * back over the token stream and sums per-document surprisal.
    *
    * Surprisal is the INTEGER floor-log2 form: bits(total) - bits(cnt)
    * where bits(x) = length of the binary representation — an exact
    * integer approximation of -log2 p(word) that is reproducible on any
    * engine (no transcendental functions, no float rounding at compare
    * time). Docs full of common words score low; rare-word salad scores
    * high — the same signal CCNet uses KenLM perplexity for.
    *
    * `vocabCap > 0` is the 100 TB path: the broadcast vocabulary is cut to
    * the top-`vocabCap` words ([[cutVocab]] — the identical cut
    * [[vocabulary]] declares) and every out-of-vocabulary token scores
    * against a single OOV bucket holding the residual mass
    * (total − sum(cut counts)), so the broadcast is K-bounded however wide
    * the corpus vocabulary grows. Because the bucket aggregates ALL rare
    * words, bits(oov) ≥ bits(cnt) for each member word — capped surprisal
    * is a per-document lower bound that equals the exact form whenever
    * `vocabCap` ≥ the corpus vocabulary size (CurationSpec law). `0` (the
    * default) runs the uncapped exact form; both forms are oracled (q75
    * exact, q79 capped).
    */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", vocabCap: Int = 0): DataFrame = {
    // materialize the token stream once: both the vocab pass and the scoring
    // pass consume it, and without the checkpoint each re-reads and
    // re-tokenizes the corpus (same shared-consumer pattern as the q26
    // candidate pipeline)
    val ws = docs.select(col(idCol),
      explode(filter(split(col(textCol), graft.expressions.Ws.Regex), w => w =!= "")).as("__w"))
      .localCheckpoint()
    val vocab = ws.groupBy("__w").agg(count(lit(1)).as("__cnt"))
    val tot = vocab.agg(sum("__cnt").cast("long").as("__total"))
    val surpTokens =
      if (vocabCap <= 0)
        ws.join(broadcast(vocab), "__w")
          .join(broadcast(tot))
          .select(col(idCol),
            (length(bin(col("__total"))) - length(bin(col("__cnt")))).cast("long").as("__surp"))
      else {
        val cut = cutVocab(vocab, vocabCap)
        // OOV mass = total − in-vocab mass: two 1-row scalars, no second
        // pass over the (possibly huge) full vocabulary
        val cutSum = cut.agg(coalesce(sum("__cnt"), lit(0L)).cast("long").as("__cutsum"))
        ws.join(broadcast(cut), Seq("__w"), "left")
          .join(broadcast(tot)).join(broadcast(cutSum))
          .select(col(idCol),
            (length(bin(col("__total"))) -
              length(bin(coalesce(col("__cnt"), col("__total") - col("__cutsum")))))
              .cast("long").as("__surp"))
      }
    val scored = surpTokens
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("__surp").as("surprisal"))
    docs.join(scored, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("surprisal", coalesce(col("surprisal"), lit(0L)))
  }

  /** CCNet's head/middle/tail routing (Wenzek et al. 2020 §4.3): each
    * language's documents split into perplexity terciles under the corpus
    * LM — 'head' (most fluent) feeds high-quality training mixes, 'tail'
    * gets dropped or down-weighted. The LM score is [[unigramSurprisal]]'s
    * integer bits; the per-token key is `surprisal · 2^20 div n_tokens`
    * (exact integer, token-count-invariant), and the tercile boundaries are
    * exact-rank order statistics: k1 = the smallest key whose cumulative
    * count reaches n/3 (3·cum ≥ n), k2 likewise at 2n/3. Ties share a key
    * and therefore a bucket — the deterministic coarsening every
    * equal-scored cohort should get (no arbitrary rank tiebreak inside a
    * tied score).
    *
    * Scale shape: the corpus pays only the surprisal passes; bucketing
    * runs entirely on the (lang, key) HISTOGRAM — grouped map-side, its
    * size is languages × distinct keys, not documents — so the per-language
    * window sorts a metadata-sized relation and the boundaries broadcast
    * back over a codegen'd comparison. Zero-token docs key 0 (head).
    */
  def perplexityBuckets(docs: DataFrame, langCol: String = "lang",
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramSurprisal(docs, idCol, textCol)
    val keyed = scored.withColumn("ppl_key",
      when(col("n_tokens") === 0, lit(0L))
        .otherwise(expr("surprisal * 1048576 div n_tokens")))
    val hist = keyed.groupBy(col(langCol).as("__l"), col("ppl_key"))
      .agg(count(lit(1)).as("__c"))
    val cums = hist.select(col("__l"), col("ppl_key"),
      sum("__c").over(Window.partitionBy("__l").orderBy("ppl_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("__cum"),
      sum("__c").over(Window.partitionBy("__l")).as("__n"))
    val bounds = cums.groupBy("__l").agg(
      min(when(col("__cum") * 3 >= col("__n"), col("ppl_key"))).as("__k1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("ppl_key"))).as("__k2"))
    keyed.join(broadcast(bounds), col(langCol) <=> col("__l"))
      .withColumn("bucket",
        when(col("ppl_key") <= col("__k1"), "head")
          .when(col("ppl_key") <= col("__k2"), "middle")
          .otherwise("tail"))
      .drop("__l", "__k1", "__k2")
  }

  /** Bigram-LM surprisal scoring — the conditional-probability refinement of
    * [[unigramSurprisal]] (the CCNet perplexity-filter idea one model order
    * up): each within-document word transition (prev → cur) costs
    * `floor_log2(count(prev as context)) − floor_log2(count(prev, cur))`
    * bits — the integer-exact surrogate for −log₂ P(cur | prev) that both
    * engines compute identically via `length(bin(x))`. Fluent text re-uses
    * frequent transitions (low bits/transition); shuffled or machine-mangled
    * text pays near-unigram cost per transition. Returns one row per doc
    * with `n_trans` (word count − 1, floored at 0) and `surprisal` (total
    * transition bits; 0 for docs of < 2 words).
    *
    * Scale shape: the corpus tokenizes once into a checkpointed transition
    * stream (same shared-consumer pattern as [[unigramSurprisal]]); the
    * bigram table is a vocab²-bounded aggregate of that stream with the
    * context count folded in by a per-context window, so ONE join carries
    * both counts back onto the transitions. That join is deliberately
    * unhinted: vocab² can exceed any broadcast threshold on a real corpus
    * (the r12 advice finding), so AQE picks broadcast when the table is
    * small and a hash-partitioned shuffle join when it is not — the
    * transition stream is already keyed by (__p, __c), and corpus text
    * never rides a wide shuffle either way.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = filter(split(col(textCol), graft.expressions.Ws.Regex), w => w =!= "")
    // transitions: zip toks[0..n-2] with toks[1..n-1]; slice length is
    // clamped at 0 so single-word and empty docs yield an empty array
    val nTrans = greatest(size(toks) - 1, lit(0))
    val trans = docs.select(col(idCol),
      explode(zip_with(
        slice(toks, lit(1), nTrans), slice(toks, lit(2), nTrans),
        (a, b) => struct(a.as("p"), b.as("c")))).as("__t"))
      .select(col(idCol), col("__t.p").as("__p"), col("__t.c").as("__c"))
      .localCheckpoint()
    // context count = occurrences of the word in PREV position (sum of its
    // outgoing bigrams), so P(c|p) sums to exactly 1 per context; computed
    // as a window over the vocab²-bounded bigram table, not a second join
    val big = trans.groupBy("__p", "__c").agg(count(lit(1)).as("__bc"))
      .withColumn("__pc", sum("__bc")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("__p")).cast("long"))
    val scored = trans
      .join(big, Seq("__p", "__c"))
      .select(col(idCol),
        (length(bin(col("__pc"))) - length(bin(col("__bc")))).cast("long").as("__surp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trans"), sum("__surp").as("surprisal"))
    docs.join(scored, Seq(idCol), "left")
      .withColumn("n_trans", coalesce(col("n_trans"), lit(0L)))
      .withColumn("surprisal", coalesce(col("surprisal"), lit(0L)))
  }

  /** Deterministic top-K cut of a word-frequency table (columns `__w`,
    * `__cnt`): count desc with the word itself as tiebreak — a total order,
    * so the cut is value-exact on any engine. Shared by [[vocabulary]] and
    * [[unigramSurprisal]]'s capped-vocab scale path. The cut is a bounded
    * TakeOrdered (per-partition K-heaps merged on the driver, K rows
    * total) — no global sort ever materializes.
    */
  private[scale] def cutVocab(counts: DataFrame, topK: Int): DataFrame =
    counts.orderBy(col("__cnt").desc, col("__w")).limit(topK)

  /** Vocabulary build: the corpus-wide word-frequency table, cut to the top-K
    * by (count desc, word asc) — the deterministic tiebreak makes the cut
    * value-exact on any engine (oracled end-to-end as q76). This is the
    * precursor step to tokenizer training, and the same [[cutVocab]] cut
    * feeds [[unigramSurprisal]]'s capped-vocab scale path (q79).
    *
    * Scale shape: map-side partial counts collapse each task's token stream
    * before the single word-keyed shuffle, then the K-bounded [[cutVocab]]
    * TakeOrdered. The rank column is computed on the already-cut K rows, so
    * its unpartitioned window is K-bounded by construction.
    */
  def vocabulary(docs: DataFrame, topK: Int = 100, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        w => w =!= "")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
    cutVocab(counts, topK)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("__cnt").desc, col("__w"))).cast("long"))
      .select(col("rnk"), col("__w").as("word"), col("__cnt").as("cnt"))
  }

  private def textRankRoundSql(i: Int): String =
    s""" k$i AS (
       |  SELECT e.doc_id, e.dst AS node,
       |    ${Graph.Base} + (${Graph.DampNum} * CAST(sum(r.rank // e.outdeg) AS BIGINT)) // ${Graph.DampDen} AS rank
       |  FROM e JOIN k${i - 1} r ON e.doc_id = r.doc_id AND e.src = r.node
       |  GROUP BY 1, 2)""".stripMargin

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004), the flat
    * integer form: per document, DISTINCT adjacent-token pairs (the
    * paper's co-occurrence window at w = 2) over tokens of >= `minLen`
    * chars (the POS-filter stand-in — short function words drop) form an
    * undirected term graph; `iters` integer PageRank rounds run over the
    * POOLED (doc, term) node relation — one corpus-wide edge list through
    * the standard join-aggregate rounds, never a per-document loop — and
    * each doc's top `k` terms by (rank DESC, term ASC) are its keywords.
    * Corpus-scale keyword extraction is the index/metadata side of
    * curation (topic tagging, cluster naming); the per-doc graphs are
    * tiny but there are millions of them, which is exactly what the
    * pooled-key formulation is for.
    */
  def textRankKeywords(docs: DataFrame, k: Int = 3, iters: Int = 3,
                       minLen: Int = 4, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"),
      posexplode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        w => w =!= "")).as(Seq("p", "w")))
    val pairs0 = t
      .withColumn("nw",
        lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("p")))
      .filter(col("nw").isNotNull && col("w") =!= col("nw") &&
        length(col("w")) >= minLen && length(col("nw")) >= minLen)
      .select(col("doc_id"), col("w").as("a"), col("nw").as("b"))
    val edges = pairs0
      .select(col("doc_id"), col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs0.select(col("doc_id"), col("b").as("src"),
        col("a").as("dst")))
      .distinct().localCheckpoint()
    val deg = edges.groupBy("doc_id", "src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(deg, Seq("doc_id", "src")).localCheckpoint()
    var ranks = deg.select(col("doc_id"), col("src").as("node"),
      lit(Graph.Scale).as("rank"))
    for (_ <- 1 to iters) {
      ranks = e.join(ranks,
          e("doc_id") === ranks("doc_id") && e("src") === ranks("node"))
        .select(e("doc_id"), col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("doc_id"), col("dst")).agg(sum("contrib").as("c"))
        .select(col("doc_id"), col("dst").as("node"),
          (lit(Graph.Base) +
            expr(s"(${Graph.DampNum} * c) div ${Graph.DampDen}")).as("rank"))
        .localCheckpoint()
    }
    ranks.withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("rank").desc, col("node"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("node").as("term"), col("rank"))
  }

  private def textRankSummaryRoundSql(i: Int): String =
    s""" k$i AS (
       |  SELECT f.doc_id, f.node,
       |    ${Graph.Base} + (${Graph.DampNum} * f.c) // ${Graph.DampDen} AS rank
       |  FROM (SELECT e.doc_id, e.dst AS node,
       |          CAST(sum((r.rank * e.w) // e.strength) AS BIGINT) AS c
       |        FROM e JOIN k${i - 1} r ON e.doc_id = r.doc_id AND e.src = r.node
       |        GROUP BY 1, 2) f)""".stripMargin

  /** TextRank extractive summarization (Mihalcea & Tarau 2004 §4), the
    * passage form: fixed `segLen`-token segments stand in for sentences
    * (post-extraction web text has no reliable sentence punctuation — and
    * passage-level salience is what a curation pipeline actually wants).
    * Segment similarity = |shared DISTINCT >= `minLen`-char tokens|
    * (integer; the paper's log-length normalization is dropped for
    * exactness — segments are fixed-length so it is a constant anyway),
    * and `iters` WEIGHTED integer PageRank rounds run over the pooled
    * (doc, segment) relation: per-edge flow is `rank * w div strength`
    * with strength = Σ out-weights, so flow splits by overlap mass. The
    * top `k` segments per doc by (rank DESC, sid ASC) are the summary.
    * Segments sharing no token with any other segment (and one-segment
    * docs) have no edges and never rank — isolated text is by definition
    * not salient. The similarity join is token-keyed (doc_id, token) —
    * one corpus-wide shuffle, never a per-document loop or cross join.
    */
  def textRankSummary(docs: DataFrame, k: Int = 2, iters: Int = 3,
                      segLen: Int = 12, minLen: Int = 4,
                      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seg = docs.select(col("doc_id"),
        posexplode(filter(split(col(textCol), graft.expressions.Ws.Regex),
          w => w =!= "")).as(Seq("p", "w")))
      .filter(length(col("w")) >= minLen)
      .select(col("doc_id"), (col("p") / segLen).cast("long").as("sid"),
        col("w"))
      .distinct()
    val pairs = seg.as("a").join(seg.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") === col("b.w") &&
          col("a.sid") =!= col("b.sid"))
      .groupBy(col("a.doc_id").as("doc_id"), col("a.sid").as("src"),
        col("b.sid").as("dst"))
      .agg(count(lit(1)).as("w"))
    val strength = pairs.groupBy("doc_id", "src")
      .agg(sum("w").as("strength"))
    val e = pairs.join(strength, Seq("doc_id", "src")).localCheckpoint()
    var ranks = strength.select(col("doc_id"), col("src").as("node"),
      lit(Graph.Scale).as("rank"))
    for (_ <- 1 to iters) {
      ranks = e.join(ranks,
          e("doc_id") === ranks("doc_id") && e("src") === ranks("node"))
        .select(e("doc_id"), col("dst"),
          expr("(rank * w) div strength").as("contrib"))
        .groupBy(col("doc_id"), col("dst")).agg(sum("contrib").as("c"))
        .select(col("doc_id"), col("dst").as("node"),
          (lit(Graph.Base) +
            expr(s"(${Graph.DampNum} * c) div ${Graph.DampDen}")).as("rank"))
        .localCheckpoint()
    }
    ranks.withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("rank").desc, col("node"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("node").as("sid"), col("rnk"), col("rank"))
  }

  /** Per-stratum document cap — the "domain caps" step of web-corpus curation
    * (RefinedWeb/C4 bound how much any one domain may contribute): keep at
    * most `cap` docs per stratum, chosen by deterministic content-hash order
    * (md5 of the id — the same cross-engine random permutation
    * [[stratifiedMix]] uses) with the id as tiebreak. Oracled end-to-end
    * (caps + survivor re-join) as q77.
    *
    * Scale shape: the window rides a narrow (id, stratum, 32-byte hash)
    * relation — one hash shuffle keyed by stratum, text never leaves the
    * scan; callers re-join survivors to the corpus by id. A stratum hotter
    * than one partition still bounds its output at `cap`, but its rows all
    * visit one task — for pathological head domains, pre-filter with
    * [[stratifiedMix]] at a rate that leaves ~cap expected survivors before
    * the exact cut.
    */
  def capPerStratum(docs: DataFrame, stratumCol: String, cap: Int,
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.select(col(idCol), col(stratumCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Incremental-crawl content diff: rows of `newDocs` whose text does NOT
    * already appear in `oldDocs` — the snapshot-delta step that keeps a
    * recurring crawl from re-ingesting unchanged pages (the corpus-scale
    * analogue of the reference's W3 incremental dedup, keyed by content
    * instead of primary key; UpdateSymbol_v2.py:55-84). Oracled end-to-end
    * as q78, with NULL text planted on both sides.
    *
    * NULL semantics match an anti-join on the text itself: NULL never equals
    * anything, so NULL-text rows of `newDocs` always pass through and
    * NULL-text rows of `oldDocs` never suppress anything (they are filtered
    * before hashing — Spark's xxhash64 would otherwise map NULL to the seed
    * hash and silently equate all NULLs).
    *
    * Scale shape: the anti-join runs on xxhash64(text) — the old corpus side
    * ships 8-byte keys only (same 2^-64 collision argument as
    * [[contaminatedDocs]]'s hashKeys); the new-snapshot side rides one hash
    * shuffle, which is the incremental slice, not the accumulated corpus.
    * The join key lives on a dataframe-qualified reference, so a caller
    * column named `__k` cannot collide.
    */
  def newContent(newDocs: DataFrame, oldDocs: DataFrame,
                 textCol: String = "text"): DataFrame = {
    val oldKeys = oldDocs.filter(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("__k")).distinct()
    newDocs.join(oldKeys,
      newDocs(textCol).isNotNull &&
        xxhash64(newDocs(textCol)) === oldKeys("__k"), "left_anti")
  }

  /** [[newContent]]'s near-duplicate form: rows of `newDocs` that are not a
    * near-duplicate (distinct-shingle Jaccard >= `threshold`) of ANY
    * `oldDocs` row — an incremental crawl's delta step that also rejects the
    * trivially-edited re-crawl (rotated ads, updated timestamps) an
    * exact-hash diff re-ingests forever. Exact duplicates are a strict
    * subset of what this drops (CurationSpec law): identical text means an
    * identical MinHash signature, and identical signatures collide in the
    * identity pseudo-band by construction ([[Dedup.bandedKeys]]) with
    * Jaccard exactly 1.
    *
    * Candidate generation bands BOTH snapshots' signatures into the same
    * (band, band_hash) keyspace and equi-joins — the cross-snapshot analogue
    * of [[Dedup.minhashCandidates]]'s self-join; a new doc is dropped only
    * when a banded collision ALSO verifies by exact Jaccard, so band luck
    * can only cost recall on the threshold tail, never precision.
    *
    * Scale shape: the old snapshot ships narrow (id, band, hash) longs plus
    * shingle arrays for verified candidates only; the per-bucket old-side
    * cap (`maxOldPerBucket` min-id members) bounds hot-bucket fan-out
    * exactly like minhashCandidates' star-link — the capped tail can only
    * under-drop borderline near-dups whose sole collisions sit in hot
    * buckets (exact dups survive the cap: every identity-bucket member
    * shares the full signature, so any kept member verifies at 1.0). NULL
    * text follows [[newContent]]'s discipline: NULL never matches anything,
    * so NULL-text new rows always pass through.
    */
  def newContentNearDup(newDocs: DataFrame, oldDocs: DataFrame, threshold: Double = 0.8,
                        numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
                        maxOldPerBucket: Int = 100,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nearDupAgainstIndex(newDocs,
      Dedup.minhashSignatures(oldDocs.filter(col(textCol).isNotNull),
        numHashes, shingleSize, idCol, textCol),
      oldDocs, threshold, numHashes, bands, shingleSize, maxOldPerBucket,
      idCol, textCol)

  /** [[newContentNearDup]] against a PRECOMPUTED old-side signature index:
    * the serving form for a continuous crawl, where re-minhashing the whole
    * accumulated corpus per batch would make batch cost O(corpus text). Here
    * the old side ships only its persisted (id, signature) longs into the
    * banding join; old TEXT is touched just for verified candidates (the
    * shingle join column-prunes `oldTexts` to candidate ids). Identical ids
    * on both sides never match each other (`__nid =!= __oid`) — that makes a
    * replayed micro-batch idempotent instead of self-annihilating when its
    * own survivors are already in the index.
    */
  def nearDupAgainstIndex(newDocs: DataFrame, oldSignatures: DataFrame,
                          oldTexts: DataFrame, threshold: Double = 0.8,
                          numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
                          maxOldPerBucket: Int = 100,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def shingles(df: DataFrame, as: String): DataFrame = {
      val sh = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.DistinctShingles(
          org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)), shingleSize))
      df.filter(col(textCol).isNotNull).select(col(idCol).as(as), sh.as(s"sh_$as"))
    }
    val newB = Dedup.bandedKeys(
      Dedup.minhashSignatures(newDocs.filter(col(textCol).isNotNull),
        numHashes, shingleSize, idCol, textCol),
      bands, numHashes, idCol)
      .select(col(idCol).as("__nid"), col("band"), col("band_hash"))
    val w = Window.partitionBy("band", "band_hash").orderBy(col("__oid"))
    val oldB = Dedup.bandedKeys(oldSignatures, bands, numHashes, idCol)
      .select(col(idCol).as("__oid"), col("band"), col("band_hash"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxOldPerBucket)
      .drop("__rn")
    val cand = newB.join(oldB, Seq("band", "band_hash"))
      .filter(col("__nid") =!= col("__oid"))
      .select("__nid", "__oid").distinct()
    val dropped = cand
      .join(shingles(newDocs, "__nid"), "__nid")
      .join(shingles(oldTexts, "__oid"), "__oid")
      .withColumn("__c", size(array_intersect(col("sh___nid"), col("sh___oid"))).cast("long"))
      .withColumn("__j", col("__c").cast("double") /
        (size(col("sh___nid")) + size(col("sh___oid")) - col("__c")))
      .filter(col("__j") >= threshold)
      .select("__nid").distinct()
    newDocs.join(dropped, newDocs(idCol) === dropped("__nid"), "left_anti")
  }

  /** Temperature-based stratum reweighting — the multilingual-LLM sampling
    * scheme (XLM-R §3.1: kept mass ∝ c_s^alpha): big strata down-sample, the
    * rarest stratum keeps everything, flattening the head of the
    * distribution without starving the tail. Keep rates are anchored at the
    * SMALLEST stratum — rate_s = (c_min / c_s)^(1 - alpha), so
    * kept_s = c_min^(1-alpha) · c_s^alpha ∝ c_s^alpha with max rate exactly
    * 1 — a per-stratum closed form over two exact integers, deliberately
    * avoiding the Σ c^alpha normalizer whose float summation ORDER would
    * differ across engines.
    *
    * Selection is deterministic: a doc is kept iff its 60-bit md5(id) prefix
    * falls under floor(rate_s · 2^60). At the default alpha = 0.5 the rate
    * is sqrt(c_min/c_s) — division, sqrt, multiply, and floor are all
    * IEEE-754 correctly-rounded, so the threshold integer is bit-identical
    * on any conforming engine (q82's oracle recomputes it in DuckDB);
    * other alphas go through pow (reproducible to ~1 ulp — a doc flips only
    * if its prefix equals the boundary value, ~2^-60 per stratum).
    *
    * Scale shape: one tiny stratum-count aggregation, rates broadcast back,
    * then a codegen'd filter — the corpus itself never shuffles and nothing
    * is collected.
    */
  def temperatureMix(df: DataFrame, stratumCol: String, alpha: Double = 0.5,
                     idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("__c"))
    val cmin = counts.agg(min("__c").as("__cmin"))
    val ratio = col("__cmin").cast("double") / col("__c").cast("double")
    val rate = if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))
    val thr = counts.join(broadcast(cmin))
      .select(col(stratumCol).as("__s"),
        floor(rate * lit(1152921504606846976.0 /* 2^60 */)).cast("long").as("__thr"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
    // null-safe join: a NULL stratum is a stratum like any other — it gets
    // its own count, its own rate, and its rows are sampled, not silently
    // dropped (a bare equi-join would never match NULL = NULL while the
    // NULL group's count could still anchor cmin and skew every rate)
    df.join(broadcast(thr), df(stratumCol) <=> col("__s"))
      .filter(u < col("__thr"))
      .drop("__s", "__thr")
  }

  /** Deterministic train/validation/test split assignment: a document's
    * split is decided by where its 60-bit md5(id) prefix falls among
    * cumulative fraction thresholds — the same cross-engine random
    * permutation [[temperatureMix]] samples with. The property that makes
    * this THE standard corpus-split mechanism: membership is a pure
    * function of the id, so a document keeps its split across corpus
    * growth, re-runs, and re-partitions — no test-set leakage when the
    * next crawl batch lands, no stored split table to join. Thresholds are
    * computed on the driver and embedded as integer literals, so there is
    * no cross-engine float arithmetic to replay at all. Pure codegen'd
    * projection — nothing shuffles, nothing is collected.
    */
  def assignSplit(df: DataFrame, splits: Seq[(String, Double)],
                  idCol: String = "doc_id", splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"split fractions must be positive: $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val thresholds = splitThresholds(splits)
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
    // last split is the otherwise-branch: every u falls somewhere even at
    // the floor-rounding boundary of the final cumulative threshold
    val expr = thresholds.init.foldRight(lit(splits.last._1): Column) {
      case ((name, thr), rest) => when(u < thr, name).otherwise(rest)
    }
    df.withColumn(splitCol, expr)
  }

  /** Deterministic training-order shuffle + sharding: the write shape for a
    * training run's input. Each row draws the same md5-prefix 60-bit
    * permutation key as [[assignSplit]] (cross-engine deterministic, stable
    * under corpus growth), shards by key mod `nShards`, and positions rows
    * within their shard by the key — a reproducible global shuffle with no
    * RNG state: any engine, any partitioning, any run produces the same
    * (shard, pos) for a doc_id.
    *
    * Scale shape: one shuffle (the window's partition-by-shard exchange),
    * then a streaming rank — no global sort ever happens; the "global"
    * shuffle is nShards independent within-shard sorts, which is exactly how
    * the shard files would be written (repartition + sortWithinPartitions).
    * Shard only the id projection when the payload is wide: (id, shard, pos)
    * re-joins the corpus by id if the text must not ride the exchange.
    */
  def shuffleShards(df: DataFrame, nShards: Int, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
    df.withColumn("__u", u)
      .withColumn("shard", pmod(col("__u"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__u"), col(idCol))).cast("long"))
      .drop("__u")
  }

  /** Token-budgeted stratum mixing — the form a training-mixture spec
    * actually takes ("50B tokens of web, 5B of code"), where
    * [[temperatureMix]] and [[capPerStratum]] ration DOCUMENTS. Docs are
    * admitted per stratum in the deterministic md5-prefix order (the same
    * cross-engine permutation every sampler here draws) until the stratum's
    * token budget is consumed: a doc is kept iff the tokens admitted
    * strictly before it total under the budget — so the budget-crossing doc
    * is kept and a bound stratum lands at >= its budget, never under.
    * Strata absent from the budget list are dropped (a mixture spec is a
    * complete whitelist). NULL-text docs count zero tokens and ride their
    * slot in the order.
    *
    * Scale shape — the naive form is a window partitioned by stratum, which
    * serializes EACH STRATUM through one task (a 4-language 100 TB corpus =
    * 4 tasks); this is instead the classic distributed prefix sum:
    *   1. narrow (id, stratum, n_tokens, u) projection — text never
    *      shuffles;
    *   2. u's top bits cut the md5 order into `buckets` contiguous ranges;
    *      per-(stratum, bucket) token subtotals aggregate map-side into a
    *      strata×buckets relation;
    *   3. bucket OFFSETS are a window over that tiny relation, broadcast
    *      back; the in-bucket running sum partitions by (stratum, bucket) —
    *      parallelism strata×buckets, each task one bucket's rows;
    *   4. kept ids semi-join the corpus (AQE broadcasts when the mix is
    *      small).
    * The bucketing is invisible in the result: offset + in-bucket sum IS
    * the global running sum, which is what the q226 oracle replays with a
    * plain per-stratum window.
    *
    * Output: the kept docs with `n_tokens` and the inclusive global
    * `cum_tokens` — the admission ledger a mixture manifest records.
    */
  def tokenBudgetMix(df: DataFrame, stratumCol: String, budgets: Seq[(String, Long)],
                     idCol: String = "doc_id", textCol: String = "text",
                     buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty && budgets.forall(_._2 >= 0),
      s"budgets must be non-negative: $budgets")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val b = broadcast(budgets.toDF("__s", "__budget"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
    val nTok = coalesce(
      size(filter(split(col(textCol), graft.expressions.Ws.Regex), w => w =!= ""))
        .cast("long"), lit(0L))
    // 2^60 / buckets as an integer divisor keeps the ranges contiguous in u
    val narrow = df
      .join(b, col(stratumCol) <=> col("__s"))
      .select(col(idCol).as("__id"), col("__s"), col("__budget"),
        nTok.as("n_tokens"), u.as("__u"))
      .withColumn("__bk", (col("__u") / lit(1152921504606846976L / buckets))
        .cast("long"))
    val subtotals = narrow.groupBy("__s", "__bk")
      .agg(sum("n_tokens").as("__sub"))
    val offsets = subtotals.select(col("__s"), col("__bk"),
      (sum("__sub").over(Window.partitionBy("__s").orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("__sub")).as("__off"))
    val cums = narrow.join(broadcast(offsets), Seq("__s", "__bk"))
      .withColumn("cum_tokens", col("__off") +
        sum("n_tokens").over(Window.partitionBy("__s", "__bk")
          .orderBy(col("__u"), col("__id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") - col("n_tokens") < col("__budget"))
      .select(col("__id"), col("n_tokens"), col("cum_tokens"))
    df.join(cums, df(idCol) === cums("__id")).drop("__id")
  }

  /** (name, cumulative-threshold) pairs: floor(cumFraction · 2^60) — driver
    * integers shared verbatim by the engine expression and the q97 oracle.
    */
  private[scale] def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.map(_._1).zip(cums.map(c => math.floor(c * 1152921504606846976.0).toLong))
  }

  /** Corpus-level boilerplate removal — CCNet's first cleaning pass: strip
    * every paragraph (line) whose DOCUMENT frequency reaches `minDf`, i.e.
    * the nav bars, cookie notices, and copyright footers that repeat across
    * a crawl. Two jobs:
    *
    *   1. df count: paragraphs hash to xxhash64 longs inside the scan task,
    *      so only (8-byte hash) keys reach the distinct-per-doc aggregation —
    *      text never rides the shuffle. The surviving hot set is collected
    *      to the driver: it is bounded by totalParagraphs / minDf — with
    *      minDf scaled as a fraction of corpus docs (the only sane setting,
    *      and what [[removeBoilerplateByFraction]] provides by construction),
    *      that is avgParasPerDoc / fraction, independent of corpus size
    *      (same metadata-bounded-collect class as the IVF centroid sample).
    *   2. rebuild: a per-row `filter` over split(text) probing the hot set
    *      through [[graft.expressions.LongSetContains]] — the sorted hashes
    *      ride task serialization once as a reference object (broadcast
    *      shape, O(log |hot|) binary-search probe), NOT as a plan literal:
    *      an `array_contains(typedLit(hot), …)` form would embed the whole
    *      set in the plan and codegen source and scan it linearly per
    *      paragraph — megabytes of plan at a real crawl's hot-set size.
    *      Runs in the scan task, no explode, no shuffle, and docs whose
    *      every paragraph is boilerplate keep their row (empty text)
    *      because nothing ever leaves the row.
    *
    * Paragraph identity is the exact line string (hash-keyed, same 2^-64
    * collision argument as [[contaminatedDocs]]'s hashKeys). Oracled
    * end-to-end as q81 with planted header/footer boilerplate.
    */
  /** The narrow (doc id, paragraph hash) relation both boilerplate jobs
    * aggregate: text is split and hashed inside the scan task, so only
    * 16-byte rows leave it. `explode_outer` + a null-guarded hash keeps one
    * row per paragraph-less doc (`__h` NULL), so a distinct-id count over
    * this relation equals the corpus document count — which is what lets
    * [[removeBoilerplateByFraction]] resolve its threshold from the same
    * single corpus scan.
    */
  private def paragraphHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode_outer(split(col(textCol), "\n")).as("__p"))
      .select(col(idCol),
        when(col("__p").isNotNull, xxhash64(col("__p"))).as("__h"))

  private def hotSet(parHashes: DataFrame, minDf: Int, idCol: String): Array[Long] = {
    val hot = parHashes.filter(col("__h").isNotNull)
      .groupBy("__h").agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__h").collect().map(_.getLong(0))
    java.util.Arrays.sort(hot)
    hot
  }

  def removeBoilerplate(docs: DataFrame, minDf: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    rebuildWithoutHot(docs, hotSet(paragraphHashes(docs, idCol, textCol), minDf, idCol),
      idCol, textCol)
  }

  private def rebuildWithoutHot(docs: DataFrame, hot: Array[Long],
                                idCol: String, textCol: String): DataFrame = {
    def inHot(p: Column): Column = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.LongSetContains(
        org.apache.spark.sql.GraftColumnBridge.expression(xxhash64(p)), hot))
    val parts = split(col(textCol), "\n")
    val kept = filter(parts, p => !inHot(p))
    // NULL text passes through as NULL with n_removed = 0 (concat_ws would
    // otherwise silently turn it into "", diverging from the oracle's
    // NULL-propagating rebuild and from newContent's NULL discipline)
    docs
      .withColumn("n_removed",
        when(col(textCol).isNull, lit(0L))
          .otherwise((size(parts) - size(kept)).cast("long")))
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws("\n", kept)))
  }

  /** [[removeBoilerplate]] with the threshold as a FRACTION of the corpus
    * document count — the form whose bounded-collect invariant holds by
    * construction at any scale: an absolute `minDf` silently changes meaning
    * as the corpus grows (minDf=100 is "every third doc" at 300 docs and
    * "once per million" at 10⁸ — the latter collects an unbounded hot set),
    * while a fraction keeps the hot set at ≤ avgParasPerDoc / fraction
    * entries no matter the corpus size.
    *
    * One corpus scan resolves BOTH the document count and the hot set: the
    * narrow (id, hash) relation is materialized once (localCheckpoint —
    * 16-byte rows; blocks free with the query), the distinct-id count over
    * it IS the corpus doc count (paragraph-less docs keep a NULL-hash row),
    * and the hot-set aggregation reads the same blocks. The corpus text is
    * never split or hashed twice — at crawl scale the cached longs are
    * orders of magnitude smaller than a second text scan.
    */
  def removeBoilerplateByFraction(docs: DataFrame, minDfFraction: Double,
                                  idCol: String = "doc_id",
                                  textCol: String = "text"): DataFrame = {
    require(minDfFraction > 0 && minDfFraction <= 1,
      s"minDfFraction must be in (0, 1], got $minDfFraction")
    val ph = paragraphHashes(docs, idCol, textCol).localCheckpoint()
    val nDocs = ph.select(count_distinct(col(idCol))).head().getLong(0)
    val minDf = math.max(2, math.ceil(nDocs * minDfFraction).toLong.toInt)
    rebuildWithoutHot(docs, hotSet(ph, minDf, idCol), idCol, textCol)
  }

  /** Markup-aware text extraction (jusText-lite, Pomikálek 2011): turn raw
    * HTML into the block-segmented plain text the rest of the curation
    * pipeline expects, without an HTML parser — every step is a regex or
    * string op both engines evaluate identically, so the whole strip is
    * replayable declaratively by the q202 oracle.
    *
    * Pipeline, per document (all inside the scan task — codegen'd string
    * ops and HOFs over the split array; zero shuffle, zero explode):
    *   1. drop invisible content: comments, `<script>`, `<style>` — paired
    *     forms first, then a fail-closed `<script…$` sweep so an UNCLOSED
    *     script/style/comment drops the document tail rather than leaking
    *     code into the text;
    *   2. segment: block-level tags (`p div br h1–h6 li ul ol tr td th
    *     table … nav footer`) become newlines — the block structure IS the
    *     markup's, which is what makes the downstream line-frequency
    *     boilerplate pass ([[removeBoilerplate]]) see stable block
    *     identities;
    *   3. per block: strip inline tags (`<[^>]*>`), fail-close a dangling
    *     unterminated `<…` to end-of-block, decode the HTML entities
    *     (`&lt; &gt; &quot; &#39; &apos; &nbsp;` then `&amp;` LAST so
    *     `&amp;lt;` single-decodes to the literal `&lt;`), collapse
    *     whitespace runs, trim;
    *   4. density filter (the jusText judgment, integerized): keep a block
    *     only if it has >= `minWords` words AND words > `linkWordRatio` ×
    *     (number of `<a` anchors in the block's markup) — short fragments
    *     and link-dominated nav/footer/related-links blocks drop, body
    *     prose survives. Both counts are exact integers, so the kept set
    *     is value-identical across engines.
    *
    * Surviving blocks rejoin with `\n`; a doc whose every block drops keeps
    * its row with empty text; NULL text stays NULL with every count 0 (the
    * [[removeBoilerplate]] NULL discipline).
    */
  def extractText(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 3, linkWordRatio: Int = 2): DataFrame = {
    require(minWords >= 1 && linkWordRatio >= 1)
    val raw = col(textCol)
    // 1. invisible content, paired then fail-closed unclosed
    val noComment = regexp_replace(
      regexp_replace(raw, "(?is)<!--.*?-->", ""), "(?is)<!--.*$", "")
    val noScript = regexp_replace(
      regexp_replace(noComment, "(?is)<script\\b[^>]*>.*?</script>", ""),
      "(?is)<script\\b.*$", "")
    val noStyle = regexp_replace(
      regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", ""),
      "(?is)<style\\b.*$", "")
    // 2. block-level tags segment the text
    val segmented = regexp_replace(noStyle,
      "(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|thead|tbody|section|" +
        "article|header|footer|blockquote|nav|aside|form|hr|title)\\b[^>]*>",
      "\n")
    // 3. per-block cleanup (on the still-markup'd block)
    def cleanBlock(b: Column): Column = {
      val noTags = regexp_replace(regexp_replace(b, "<[^>]*>", ""), "<.*$", "")
      val decoded = regexp_replace(
        Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
            "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
          .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) },
        "[ \\t\\r\\f]+", " ")
      trim(decoded)
    }
    // anchors counted by replace-and-measure (3 chars per `<a ` / `<a>`
    // match) — no regex-count builtin is common to both engines, the
    // length delta is
    def linkCount(b: Column): Column = {
      val lb = lower(b)
      ((length(lb) - length(regexp_replace(lb, "<a[ >]", ""))) / 3).cast("long")
    }
    def words(t: Column): Column =
      when(t === "", lit(0)).otherwise(size(split(t, " "))).cast("long")
    val scored = transform(split(segmented, "\n"),
      b => struct(cleanBlock(b).as("t"), linkCount(b).as("nl")))
    val kept = filter(scored, s =>
      words(s("t")) >= minWords && words(s("t")) > lit(linkWordRatio) * s("nl"))
    docs.withColumn(textCol,
      when(raw.isNull, lit(null).cast("string"))
        .otherwise(concat_ws("\n", transform(kept, s => s("t")))))
  }

  /** URL canonicalization for crawl frontier/dedup keys: two URLs that name
    * the same resource must map to the same string, or every downstream
    * key — dedup, per-domain caps, frontier visited-sets — silently splits.
    * Absolute http(s) URLs; every step is a regex or string op both engines
    * evaluate identically (q203's oracle replays it value-exact):
    *   - fragment dropped (`#…` is client-side);
    *   - scheme and host lowercased (case-insensitive per RFC 3986); the
    *     path/query KEEP case (significant);
    *   - default port dropped (`:80` for http, `:443` for https — only for
    *     its own scheme); non-default ports kept;
    *   - leading `www.` dropped;
    *   - tracking params removed (`utm_*`, `gclid`, `fbclid`, `msclkid`,
    *     `ref` — the public-knowledge click-id set), remaining params
    *     SORTED (param order is almost never significant; sorting buys
    *     canonical equality for reordered links), empty query dropped;
    *   - trailing slashes trimmed, empty path normalized to `/`.
    * Pure codegen'd projection — runs in the scan task, nothing shuffles.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val dropPort = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val host = regexp_replace(dropPort, "^www\\.", "")
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    val pathTrim = regexp_replace(regexp_replace(rest, "\\?.*$", ""), "/+$", "")
    val path = when(pathTrim === "", lit("/")).otherwise(pathTrim)
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") && !p.startsWith("gclid=") &&
        !p.startsWith("fbclid=") && !p.startsWith("msclkid=") &&
        !p.startsWith("ref=")))
    concat(scheme, lit("://"), host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** Registered (pay-level) domain of an already-canonicalized host: the
    * unit crawl policies meter by — per-domain caps, politeness budgets,
    * domain-stratified sampling. Last two labels, or last three when the
    * 2-label tail is a multi-part public suffix (a public-knowledge subset
    * of the Mozilla Public Suffix List: the high-traffic ccTLD second
    * levels plus the big shared-hosting suffixes). A full PSL would be a
    * broadcast lookup table; the literal subset keeps the whole thing a
    * codegen'd projection the q203 oracle can replay with an IN list.
    */
  private val MultiPartSuffixes = Seq(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "ac.jp",
    "com.au", "net.au", "org.au", "co.nz", "co.kr", "com.br", "com.mx",
    "co.in", "com.cn", "com.sg", "com.tr", "github.io", "blogspot.com")

  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", slice(labels, -2, 2))
    val last3 = concat_ws(".", slice(labels, -3, 3))
    when(n >= 3 && last2.isInCollection(MultiPartSuffixes), last3)
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** [[registeredDomain]] straight off a (canonicalized) URL: authority
    * extracted, port dropped (a port is not part of the domain).
    */
  def urlDomain(u: Column): Column =
    registeredDomain(regexp_replace(
      regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1),
      ":[0-9]+$", ""))

  /** Every href attribute value in `html`, double- then single-quoted,
    * attribute name case-insensitive — the crawl frontier's outlink
    * extraction, as a pure array projection (no explode, no shuffle;
    * runs inside the scan task). Emission order is fixed (all
    * double-quoted matches in document order, then all single-quoted), a
    * replayable convention; downstream link SETS are order-insensitive.
    * Explicit `[ \t]` classes, not `\s` — Java and RE2 disagree on \s.
    */
  def extractLinks(html: Column): Column = concat(
    regexp_extract_all(html, lit("(?i)href[ \t]*=[ \t]*\"([^\"]+)\""), lit(1)),
    regexp_extract_all(html, lit("(?i)href[ \t]*=[ \t]*'([^']+)'"), lit(1)))

  private val AnchorDq =
    "(?i)<a[^>]*href[ \t]*=[ \t]*\"([^\"]+)\"[^>]*>([^<]*)</a>"
  private val AnchorSq =
    "(?i)<a[^>]*href[ \t]*=[ \t]*'([^']+)'[^>]*>([^<]*)</a>"

  /** Every `<a href=...>anchor</a>` element as a struct(url, anchor) —
    * the web-search signal [[extractLinks]] drops: inbound anchor text
    * describes the TARGET page (Brin & Page 1998 §2.2 propagate it to the
    * linked page precisely because the target may not contain its own
    * best description). Double- then single-quoted attribute passes, name
    * case-insensitive, anchor text is the immediate `[^<]*` run (an
    * anchor containing nested markup is out of scope for the fixture
    * grammar, as is one crossing a tag). Pure array projection — the
    * whole extraction runs inside the scan task, no shuffle.
    */
  def extractAnchors(html: Column): Column = {
    def pass(re: String) =
      transform(regexp_extract_all(html, lit(re), lit(0)), m =>
        struct(regexp_extract(m, re, 1).as("url"),
          regexp_extract(m, re, 2).as("anchor")))
    concat(pass(AnchorDq), pass(AnchorSq))
  }

  private val RobotsRuleRe = "(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^ \t#]+)"

  /** `struct(kind, prefix)` per Allow/Disallow line of a robots.txt body
    * (RFC 9309 §2): kind lowercased, value = first non-space/non-comment
    * run after the colon. Single-agent-group simplification — User-agent
    * scoping, Crawl-delay, Sitemap and comment lines all fall through the
    * line filter. Pure array projection (parsing runs inside the scan
    * task); rule sets are metadata-sized, one row per crawled domain.
    */
  def parseRobotsRules(txt: Column): Column =
    filter(
      transform(split(txt, "\n"), l =>
        struct(lower(regexp_extract(l, RobotsRuleRe, 1)).as("kind"),
          regexp_extract(l, RobotsRuleRe, 2).as("prefix"))),
      r => r.getField("kind") =!= "")

  /** Deterministic per-domain robots.txt fixture for the `site{k}` crawl
    * hosts: a news-section ban, a digit-prefixed read ban (whose prefix
    * also covers two-digit read paths — exercising prefix, not equality,
    * semantics), an Allow carve-out MORE SPECIFIC than the ban, and
    * noise lines the parser must skip.
    */
  private[graft] def robotsFixture(k: Column): Column = concat(
    lit("User-agent: *\n# generated\n"),
    lit("Disallow: /news/\n"),
    lit("Disallow: /read/"), k, lit("\n"),
    lit("Allow: /read/"), k, lit("/ok\n"),
    lit("Crawl-delay: 1"), k,
    lit("\nSitemap: https://example.com/s.xml\n"))

  /** Every `Sitemap:` URL of a robots body, in document order — the
    * crawl-frontier bootstrap (sitemaps.org protocol; the field RFC 9309
    * reserves as "other records"): line-anchored, case-insensitive, any
    * count per body; comments (`# Sitemap: ...`), lookalike fields
    * (`x-sitemap:`), and trailing same-line comments never match. Pure
    * codegen'd regex projection, RE2 ∩ java.util.regex.
    */
  def parseSitemaps(txt: Column): Column =
    regexp_extract_all(txt,
      lit("(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^ \\t\\r\\n#]+)"), lit(1))

  /** `<url>` entry blocks of a sitemap XML body (sitemaps.org protocol) —
    * the step after [[parseSitemaps]] hands the crawler a sitemap URL and
    * the fetch returns the body. Non-greedy block match, so adjacent
    * entries never merge; `<sitemapindex>` files (whose children are
    * `<sitemap>` blocks, not `<url>`) and non-XML bodies yield no blocks.
    * Pure codegen'd regex projection, same RE2 ∩ java.util.regex subset
    * discipline as the robots parsers.
    */
  def sitemapUrlBlocks(xml: Column): Column =
    regexp_extract_all(xml, lit("(?is)<url\\b[^>]*>(.*?)</url>"), lit(1))

  /** The entry's `<loc>` URL ('' when absent — callers drop those rows). */
  def sitemapLoc(block: Column): Column =
    regexp_extract(block, "(?is)<loc\\s*>\\s*([^<\\s]+)\\s*</loc>", 1)

  /** The entry's optional `<lastmod>` date, NULL when absent. Kept as the
    * raw ISO string: ISO dates compare lexicographically, so freshness
    * tests need no date type on either engine.
    */
  def sitemapLastmod(block: Column): Column =
    nullif(regexp_extract(block, "(?is)<lastmod\\s*>\\s*([^<\\s]+)\\s*</lastmod>", 1),
      lit(""))

  /** Sitemap-XML url entries of (`idCol`, `bodyCol`) rows: one row per
    * `<url>` block with a nonempty `<loc>`, in document order —
    * (`idCol`, i, url, lastmod).
    */
  def sitemapEntries(docs: DataFrame, idCol: String = "doc_id",
                     bodyCol: String = "body"): DataFrame =
    docs.select(col(idCol),
        posexplode(sitemapUrlBlocks(col(bodyCol))).as(Seq("i", "__blk")))
      .select(col(idCol), col("i").cast("int").as("i"),
        sitemapLoc(col("__blk")).as("url"),
        sitemapLastmod(col("__blk")).as("lastmod"))
      .filter(col("url") =!= "")

  /** Recrawl schedule from sitemap freshness: entries (url, lastmod) vs a
    * fetch log (url, last_fetch) — a URL is DUE iff it was never fetched,
    * or its sitemap claims a `lastmod` strictly newer than the last fetch
    * (ISO strings compare lexicographically, so no date type crosses an
    * engine boundary). Duplicate url claims collapse to the freshest
    * lastmod FIRST (max ignores NULL), so the ranked cut ranks a set, not
    * a multiset — the determinism guard every politeness window here
    * needs. Due URLs get politeness cycle/slot per domain
    * (`slotsPerCycle` fetches per domain per cycle, freshest first, URL
    * tiebreak) — the q248 scheduler's slot arithmetic driven by sitemap
    * freshness instead of trust.
    *
    * Scale shape: one url-keyed dedup aggregate + one url-keyed left join
    * + a per-DOMAIN window (domains are the politeness unit; a domain's
    * due list is its own sitemap's size, never the corpus).
    */
  def recrawlSchedule(entries: DataFrame, fetchLog: DataFrame,
                      slotsPerCycle: Int = 2): DataFrame = {
    require(slotsPerCycle >= 1)
    import org.apache.spark.sql.expressions.Window
    val uniq = entries.groupBy("url").agg(max("lastmod").as("lastmod"))
    val due = uniq.join(fetchLog.select("url", "last_fetch"), Seq("url"), "left")
      .filter(col("last_fetch").isNull ||
        (col("lastmod").isNotNull && col("lastmod") > col("last_fetch")))
      // no trailing-slash requirement: a bare '<loc>https://site.com</loc>'
      // still lands in its own politeness bucket, not a shared '' domain
      .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("domain"),
        col("url"), col("lastmod"), col("last_fetch"))
    val w = Window.partitionBy("domain")
      .orderBy(coalesce(col("lastmod"), lit("")).desc, col("url"))
    due.withColumn("rnk", row_number().over(w))
      .select(col("domain"),
        expr(s"CAST((rnk - 1) div $slotsPerCycle AS BIGINT)").as("cycle"),
        expr(s"CAST(pmod(rnk - 1, $slotsPerCycle) AS BIGINT)").as("slot"),
        col("url"), col("lastmod"), col("last_fetch"))
  }

  /** The robots body's Crawl-delay in seconds (first match wins, 0 when
    * absent) — the politeness rate limit the q249 fetch scheduler spaces
    * requests by. Anchored per line (`(?im)`), value = leading digit run.
    */
  def parseCrawlDelay(txt: Column): Column =
    coalesce(nullif(regexp_extract(txt,
      "(?im)^[ \t]*crawl-delay[ \t]*:[ \t]*([0-9]+)", 1), lit("")), lit("0"))
      .cast("long")

  /** Sitemap-XML fixture (q283/q284): class 0 = a urlset with three
    * entries (lastmod / padded no-lastmod / lastmod-before-loc), class 1 =
    * a sitemapindex decoy (loc OUTSIDE url blocks), class 2 = non-XML with
    * a loc-less url block. Mirrors the oracle's CASE verbatim.
    */
  private[graft] def sitemapXmlFixture(d: Column): Column = {
    val cls = (d % 3).cast("int")
    val dom = concat(lit("https://site"), d % 7, lit(".com/p"), d)
    val la = date_format(date_add(to_date(lit("2026-01-01")),
      (d % 60).cast("int")), "yyyy-MM-dd")
    val lc = date_format(date_add(to_date(lit("2026-01-01")),
      (d % 29).cast("int")), "yyyy-MM-dd")
    when(cls === 0, concat(
      lit("<?xml version=\"1.0\"?><urlset>"),
      lit("<url><loc>"), dom, lit("/a</loc><lastmod>"), la, lit("</lastmod></url>"),
      lit("<url>\n  <loc> "), dom, lit("/b </loc>\n</url>"),
      lit("<url><lastmod>"), lc, lit("</lastmod><loc>"), dom,
      lit("/c</loc></url></urlset>")))
      .when(cls === 1, concat(lit("<sitemapindex><sitemap><loc>https://site"),
        d % 7, lit(".com/child.xml</loc></sitemap></sitemapindex>")))
      .otherwise(lit("not xml <url><priority>0.5</priority></url>"))
  }

  /** Per-agent robots fixture: a `graftbot` group with a BROAD /read/
    * ban plus carve-out, then the `*` group with the q246 rules — the
    * two groups give opposite verdicts on most paths, so group scoping
    * is observable, not incidental.
    */
  private[graft] def robotsAgentFixture(k: Column): Column = concat(
    lit("User-agent: graftbot\nDisallow: /read/\nAllow: /read/"), k,
    lit("/ok\n\n"),
    lit("User-agent: *\nDisallow: /news/\nDisallow: /read/"), k,
    lit("\nAllow: /read/"), k, lit("/ok\nCrawl-delay: 1"), k, lit("\n"))

  /** The applicable group's Allow/Disallow rules per domain for one user
    * agent — RFC 9309 §2.2.1 group scoping, which [[parseRobotsRules]]'s
    * single-group simplification skips: consecutive `User-agent` lines
    * open a group whose rules run to the next group; the agent's own
    * group REPLACES (never extends) the `*` group, and an unmatched
    * agent falls back to `*`. Group assembly is two windows PARTITIONED
    * BY domain (robots bodies are metadata-sized — one per crawled
    * domain); `bodies` = (domain, txt).
    */
  def robotsAgentRules(bodies: DataFrame, agent: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDom = Window.partitionBy("domain").orderBy("p")
    val UaRe = "(?i)^[ \t]*user-agent[ \t]*:[ \t]*([^ \t#]+)"
    val lines = bodies
      .select(col("domain"), posexplode(split(col("txt"), "\n")).as(Seq("p", "l")))
      .withColumn("ua", lower(regexp_extract(col("l"), UaRe, 1)))
    val grp = lines
      .withColumn("pua", lag("ua", 1, "").over(byDom))
      .withColumn("grp", sum(when(col("ua") =!= "" && col("pua") === "", 1)
        .otherwise(0)).over(byDom))
    val agents = grp.filter(col("ua") =!= "").groupBy("domain", "grp")
      .agg(max(when(col("ua") === agent.toLowerCase, 1).otherwise(0)).as("hasAgent"),
        max(when(col("ua") === "*", 1).otherwise(0)).as("hasStar"))
    val pick = agents.groupBy("domain").agg(
      coalesce(min(when(col("hasAgent") === 1, col("grp"))),
        min(when(col("hasStar") === 1, col("grp")))).as("grp"))
    grp.join(pick, Seq("domain", "grp"))
      .withColumn("kind", lower(regexp_extract(col("l"), RobotsRuleRe, 1)))
      .withColumn("prefix", regexp_extract(col("l"), RobotsRuleRe, 2))
      .filter(col("kind") =!= "")
      .select("domain", "kind", "prefix")
  }

  /** Robots-verdict CTE chain, composable after [[linkDomainCtes]] (it
    * reads that block's `hrefs(doc_id, url)`): canonical (domain, path)
    * candidates plus the carve-out probes, the per-domain fixture robots
    * bodies, parsed Allow/Disallow rules, and the longest-prefix-wins /
    * Allow-breaks-ties scoring. Produces `r_k(domain, k)`,
    * `r_call(domain, path)`, `r_robots(domain, txt)`,
    * `r_scored(domain, path, score)`, `r_allowed(domain, path)`.
    */
  private[graft] val robotsVerdictCtes: String =
    """r_base AS (SELECT regexp_replace(url, '#.*$', '') AS nf FROM hrefs
      |            WHERE regexp_matches(url, '(?i)^https?://')),
      | r_parts AS (SELECT
      |    lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
      |    regexp_replace(regexp_replace(regexp_replace(nf,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''), '\?.*$', ''), '/+$', '') AS rawpath
      |   FROM r_base),
      | r_dom0 AS (SELECT
      |    regexp_replace(regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |           ELSE hostport END, '^www\.', ''), ':[0-9]+$', '') AS bare,
      |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path
      |   FROM r_parts),
      | r_cand0 AS (SELECT
      |    CASE WHEN len(string_split(bare, '.')) >= 3
      |              AND array_to_string(string_split(bare, '.')[-2:], '.') IN
      |                ('co.uk','ac.uk','gov.uk','org.uk','co.jp','ne.jp','ac.jp',
      |                 'com.au','net.au','org.au','co.nz','co.kr','com.br','com.mx',
      |                 'co.in','com.cn','com.sg','com.tr','github.io','blogspot.com')
      |         THEN array_to_string(string_split(bare, '.')[-3:], '.')
      |         WHEN len(string_split(bare, '.')) >= 2
      |         THEN array_to_string(string_split(bare, '.')[-2:], '.')
      |         ELSE bare END AS domain, path
      |   FROM r_dom0),
      | r_k AS (SELECT DISTINCT domain,
      |           regexp_extract(domain, '^site([0-9])', 1) AS k
      |         FROM r_cand0 WHERE regexp_extract(domain, '^site([0-9])', 1) <> ''),
      | r_call AS (SELECT DISTINCT domain, path FROM (
      |   SELECT domain, path FROM r_cand0
      |   UNION ALL SELECT domain, '/read/' || k || '/ok' FROM r_k
      |   UNION ALL SELECT domain, '/read/' || k || '/other' FROM r_k) q),
      | r_robots AS (SELECT domain,
      |    'User-agent: *' || chr(10) || '# generated' || chr(10) ||
      |    'Disallow: /news/' || chr(10) ||
      |    'Disallow: /read/' || k || chr(10) ||
      |    'Allow: /read/' || k || '/ok' || chr(10) ||
      |    'Crawl-delay: 1' || k || chr(10) ||
      |    'Sitemap: https://example.com/s.xml' || chr(10) AS txt
      |   FROM r_k),
      | r_rules AS (SELECT domain,
      |    lower(regexp_extract(l, '(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^ \t#]+)', 1)) AS kind,
      |    regexp_extract(l, '(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^ \t#]+)', 2) AS prefix
      |   FROM (SELECT domain, unnest(string_split(txt, chr(10))) AS l FROM r_robots) q
      |   WHERE regexp_matches(l, '(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*[^ \t#]')),
      | r_scored AS (SELECT c.domain, c.path,
      |    max(CASE WHEN r.kind IS NOT NULL
      |        THEN 2 * len(r.prefix) + (CASE WHEN r.kind = 'allow' THEN 1 ELSE 0 END) END) AS score
      |   FROM r_call c LEFT JOIN r_rules r
      |     ON c.domain = r.domain AND starts_with(c.path, r.prefix)
      |   GROUP BY 1, 2),
      | r_allowed AS (SELECT domain, path FROM r_scored
      |               WHERE coalesce(score % 2 = 1, TRUE))""".stripMargin

  /** TrustRank CTE chain over the weighted crawl domain graph, composable
    * after [[linkDomainCtes]] (reads `dom(doc_id, domain)`): per-pair link
    * multiplicities, the symmetric weighted relation, strengths, the
    * site{0,3,6,9}.com seed set, and the unrolled weighted seed-restart
    * rounds. Produces `t3(node, rank)`.
    */
  private[graft] lazy val trustCtes: String =
    s"""w0 AS (SELECT 'site' || (doc_id % 10) || '.com' AS src, domain AS dst
       |        FROM dom WHERE 'site' || (doc_id % 10) || '.com' <> domain),
       | wd AS (SELECT src, dst, CAST(count(1) AS BIGINT) AS w FROM w0 GROUP BY 1, 2),
       | ws AS (SELECT src, dst, w FROM wd UNION ALL SELECT dst, src, w FROM wd),
       | ew AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM ws GROUP BY 1, 2),
       | st AS (SELECT src, CAST(sum(w) AS BIGINT) AS strength FROM ew GROUP BY 1),
       | e AS (SELECT ew.src, ew.dst, ew.w, st.strength FROM ew JOIN st USING (src)),
       | sd AS (SELECT DISTINCT src AS node FROM ew
       |        WHERE regexp_matches(src, '^site[0369]\\.com$$')),
       | t0 AS (SELECT src AS node,
       |        CAST(CASE WHEN regexp_matches(src, '^site[0369]\\.com$$')
       |             THEN ${Graph.Scale} ELSE 0 END AS BIGINT) AS rank
       |        FROM st),
       |${(1 to 3).map(Graph.trustRoundSql).mkString(",\n")}""".stripMargin

  /** (domain, path, allowed) robots verdicts over the crawl's canonical
    * candidates plus the carve-out probes — the Spark side of
    * [[robotsVerdictCtes]], shared by q246/q248/q249.
    */
  def robotsVerdicts(docs: DataFrame): DataFrame =
    robotsVerdictsFromLinks(crawlLinks(docs))

  /** The (doc_id, url) absolute-link extraction every crawl-scheduler
    * surface starts from (r21): factored out so q248/q249 can run the
    * regex-heavy extraction ONCE (lazily checkpointed at the call site)
    * and feed both the robots and the trust sides — it was the dominant
    * compute of both, paid twice.
    */
  private[graft] def crawlLinks(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      explode(extractLinks(linkFixture(col("doc_id")))).as("url"))
    .filter(col("url").rlike("(?i)^https?://"))

  private[graft] def robotsVerdictsFromLinks(links: DataFrame): DataFrame = {
    // checkpoint: cand0 feeds BOTH the domain probe branch and the
    // candidate union below — DataFrame reuse is not CSE'd by the
    // optimizer, so without it the extraction chain runs twice (r21).
    // EAGER: the two branches are concurrent stages of one action, and a
    // lazy checkpoint drops its lineage, and with it the SQL metrics, when
    // the first job over it ends, so the other stage's task metrics are
    // lost (q246 under GC pressure)
    val cand0 = links
      .select(canonicalizeUrl(col("url")).as("cu"))
      .select(urlDomain(col("cu")).as("domain"),
        regexp_extract(col("cu"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?]*)", 1).as("path"))
      .localCheckpoint()
    val doms = cand0.select("domain").distinct()
      .withColumn("k", regexp_extract(col("domain"), "^site([0-9])", 1))
      .filter(col("k") =!= "")
    val probes = doms
      .select(col("domain"),
        concat(lit("/read/"), col("k"), lit("/ok")).as("path"))
      .unionByName(doms.select(col("domain"),
        concat(lit("/read/"), col("k"), lit("/other")).as("path")))
    val cand = cand0.unionByName(probes).distinct()
    val rules = doms
      .select(col("domain").as("rdomain"),
        explode(parseRobotsRules(robotsFixture(col("k")))).as("r"))
      .select(col("rdomain"), col("r.kind").as("kind"),
        col("r.prefix").as("prefix"))
    cand.join(rules, col("domain") === col("rdomain") &&
        col("path").startsWith(col("prefix")), "left")
      .groupBy("domain", "path")
      .agg(max(when(col("kind").isNotNull,
        length(col("prefix")).cast("long") * 2 +
          when(col("kind") === "allow", 1L).otherwise(0L))).as("score"))
      .select(col("domain"), col("path"),
        coalesce(col("score") % 2 === 1, lit(true)).as("allowed"))
  }

  /** (node, rank) TrustRank over the weighted crawl domain graph — the
    * Spark side of [[trustCtes]], shared by q244/q248.
    */
  def crawlTrust(docs: DataFrame): DataFrame =
    crawlTrustFromLinks(crawlLinks(docs))

  private[graft] def crawlTrustFromLinks(links: DataFrame): DataFrame = {
    val dir = links.select(
        concat(lit("site"), col("doc_id") % 10, lit(".com")).as("src"),
        urlDomain(canonicalizeUrl(col("url"))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      // lazy checkpoint: dir feeds both orientations of the union (r21)
      .localCheckpoint(false)
    val edges = dir.unionByName(
        dir.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node").rlike("^site[0369]\\.com$"))
    Graph.trustRank(edges, seeds, iters = 3)
  }

  /** Zipf rank-bucket profile of the corpus vocabulary — the corpus-QA
    * diagnostic (a healthy web corpus is near-Zipfian; a flat profile
    * flags boilerplate/dedup failures, a cliff flags template spam):
    * term counts ranked (cnt DESC, term ASC), ranks bucketed by
    * floor(log2 rank) — computed as `len(bin(rank)) - 1`, integer-exact,
    * because float `log2` via ln-division is NOT correctly rounded at
    * powers of two and the two engines disagree exactly there. Per
    * bucket: #terms and total token mass. The global rank window runs
    * over the VOCAB relation (metadata-sized), never the corpus.
    */
  def zipfBuckets(docs: DataFrame, textCol: String = "text"): DataFrame =
    zipfBucketsFromCounts(termCounts(docs, textCol))

  /** Corpus-wide (w, cnt) term counts — the additive relation behind the
    * Zipf profile, factored out so the streaming index can maintain it
    * with O(batch) partials (counts form a commutative monoid, the q247
    * argument).
    */
  def termCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    // Ws.segment: the unicode-script fallback (identity on ASCII) — the
    // streaming count-monoid trainers must count the same words as
    // Bpe.wordCounts, which carries the same transform
    docs.select(explode(filter(split(graft.expressions.Ws.segment(col(textCol)),
        graft.expressions.Ws.Regex), w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): per document, md5 hashes of the `k`-token
    * grams; every length-`w` window of consecutive gram positions selects
    * its minimum hash (ties to the RIGHTMOST position, the paper's §4
    * convention), and the fingerprint set is the distinct selected
    * positions. The paper's guarantee: any match of `w + k − 1` or more
    * tokens between two documents shares at least one fingerprint, at
    * ~2/(w+1) the density of full shingling — the sparse middle ground
    * between MinHash (no guarantee) and the suffix array (exact, but a
    * global build). md5 hex strings compare lexicographically in both
    * engines, so the selection replays exactly. One per-doc sliding
    * window + a per-doc bounded re-join for the argmin — no corpus-wide
    * state.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 8,
                         textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val toks = docs.select(col("doc_id"),
      posexplode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        t => t =!= "")).as(Seq("p", "t")))
    // gram hash at position p: md5 of the k tokens joined by one space
    // (positions with fewer than k tokens left emit no gram). The per-doc
    // token count rides the same doc_id partition as an unordered window
    // count instead of a groupBy+re-join, so the whole fingerprint pass is
    // ONE exchange: the gram count is n−k+1 by construction, and the
    // rightmost-min selection below is an argmin inside the sliding window,
    // not a re-join against the gram stream (plan: 22 Exchanges → 2).
    val grams = toks
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("g", concat_ws(" ", (0 until k).map(o =>
        lead(col("t"), o).over(byDoc)): _*))
      .filter(col("p") + k <= col("n"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        md5(col("g")).as("h"), (col("n") - (k - 1)).as("m"))
    // per window start p (only complete windows): the min hash with ties to
    // the RIGHTMOST position — min(struct(h, -p)) orders by hash then by
    // descending position, which IS the paper's §4 selection rule
    val sel = grams
      .withColumn("sel", min(struct(col("h"), (-col("p")).as("np")))
        .over(byDoc.rowsBetween(Window.currentRow, w - 1)))
      .filter(col("p") + w <= col("m"))
      .select(col("doc_id"), (-col("sel.np")).as("pos"), col("sel.h").as("h"))
    sel.distinct()
  }

  /** Term-distribution drift between two corpus snapshots — the "did the
    * new crawl shift the language" monitor a continuously-ingesting
    * pipeline alarms on: per term, the change in per-[[Graph.Scale]]
    * token rate (`cnt·Scale div total`, truncating — exact in both
    * engines, where a floating χ² would not be), scored by the squared
    * rate delta (bounded by Scale² — no overflow at any corpus size,
    * unlike cross-multiplied raw counts), top `k` by (score DESC, term).
    * Terms absent from one side count 0 there (a brand-new or vanished
    * term is maximal drift at its rate). Two hash aggregations plus a
    * bounded TakeOrdered cut — the vocab relation never rides a window.
    */
  def termDrift(before: DataFrame, after: DataFrame, k: Int = 20,
                textCol: String = "text"): DataFrame = {
    def rates(docs: DataFrame, cn: String) = {
      val c = termCounts(docs, textCol)
      c.crossJoin(broadcast(c.agg(sum("cnt").as("total"))))
        .select(col("w"),
          expr(s"(cnt * ${Graph.Scale}) div total").as(cn))
    }
    val scored = rates(before, "rate_a")
      .join(rates(after, "rate_b"), Seq("w"), "full")
      .na.fill(0L, Seq("rate_a", "rate_b"))
      .withColumn("score",
        (col("rate_b") - col("rate_a")) * (col("rate_b") - col("rate_a")))
    // ranked cut, not a window over the vocab relation: the cut is
    // TakeOrdered (bounded heaps) and only the k survivors pay the rank
    graft.ops.TopK.rankedCut(scored, k, "rnk",
        col("score").desc, col("w"))
      .select(col("rnk"), col("w").as("term"), col("rate_a"), col("rate_b"),
        col("score"))
  }

  /** [[zipfBuckets]] from an already-aggregated (w, cnt) relation. The
    * full-vocab frequency rank goes through the distributed dense rank
    * ([[SuffixArray.denseRankBy]]) — `w` is unique per row, so the dense
    * rank over (cnt DESC, w) IS the row number the Zipf profile wants,
    * without moving a web-scale vocabulary to one window partition.
    */
  def zipfBucketsFromCounts(counts: DataFrame): DataFrame =
    SuffixArray.denseRankBy(counts,
        Seq(col("cnt").desc, col("w")), Seq("cnt", "w"), "rank")
      .select((length(bin(col("rank"))) - 1).cast("long").as("bucket"),
        col("cnt"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_terms"), sum("cnt").as("mass"))

  /** Heaps-law vocabulary-growth curve at power-of-two document prefixes:
    * doc bucket b = floor(log2(doc_id+1)) (the `len(bin)` trick again), a
    * term's first sighting is its min doc_id, and cumulative (tokens,
    * vocab) come from a running sum over the ~log N bucket relation —
    * the whole curve costs two hash aggregations plus a window over a
    * handful of rows, never an ordered scan of the corpus. Sub-linear
    * vocab growth (Heaps' law) is the expected shape; linear growth
    * flags an id/hash leak into the token stream.
    */
  def heapsCurve(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        w => w =!= "")).as("w"))
    val tb = toks
      .select((length(bin(col("doc_id") + 1)) - 1).cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).as("nt"))
    val vb = toks.groupBy("w").agg(min("doc_id").as("fd"))
      .select((length(bin(col("fd") + 1)) - 1).cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).as("nv"))
    val cum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tb.join(vb, Seq("b"), "left").na.fill(0L, Seq("nv"))
      .withColumn("tokens", sum("nt").over(cum))
      .withColumn("vocab", sum("nv").over(cum))
      .select("b", "tokens", "vocab")
  }

  /** Inbound anchor-term counts per TARGET registered domain — the
    * aggregation behind the q243 anchor-text index, factored out because
    * it is an ADDITIVE relation: counts from disjoint doc batches sum to
    * the full-corpus counts, which is what lets the streaming index
    * ([[graft.streaming.AnchorCountIndex]]) maintain it with O(batch)
    * appends. One token-keyed shuffle; anchor text never rides a wide
    * shuffle (terms explode AFTER the scan-local extraction).
    */
  def anchorTermCounts(docs: DataFrame): DataFrame = docs
    .select(explode(extractAnchors(
      anchorFixture(col("doc_id"), col("text")))).as("la"))
    .select(col("la.url").as("url"), col("la.anchor").as("anchor"))
    .filter(col("url").rlike("(?i)^https?://"))
    .select(urlDomain(canonicalizeUrl(col("url"))).as("domain"),
      explode(filter(split(col("anchor"), graft.expressions.Ws.Regex),
        w => w =!= "")).as("term"))
    .groupBy("domain", "term").agg(count(lit(1)).as("cnt"))

  /** Distinct blocklist phrases occurring in `textCol` as consecutive
    * token runs, sorted — one Aho–Corasick pass regardless of blocklist
    * size ([[graft.expressions.PhraseMatches]]); the C4-style bad-words
    * document filter is `size(phraseMatches(text, list)) === 0`.
    */
  def phraseMatches(textCol: Column, phrases: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.PhraseMatches(
        org.apache.spark.sql.GraftColumnBridge.expression(textCol), phrases))

  /** Content-defined token-span chunks: the text's token stream cut AFTER
    * every boundary token (a token whose md5 hex is below '1' — a
    * deterministic 1/16-rate content condition both engines compute
    * identically), yielding chunks of ~16 expected tokens whose boundaries
    * depend only on local content. This is the token-level analogue of the
    * byte-level Rabin–Karp CDC in [[graft.expressions.RollingChunks]]: an
    * edit near the start of a document only perturbs the chunks it touches —
    * boundaries re-synchronize at the next boundary token — so identical
    * long spans at DIFFERENT offsets in different documents still produce
    * identical interior chunks. The byte-level kernel is the faster form;
    * this one exists because its boundary rule is exactly replayable in
    * ANSI SQL, which puts the whole span-dedup pipeline under the value-level
    * oracle instead of a rows-only check.
    *
    * Output per row: array of struct(n_tokens, chunk) in document order,
    * where `chunk` is the tokens rejoined with single spaces. A doc with no
    * tokens yields an empty array. Pure array projection — no explode, no
    * shuffle; chunking runs inside the scan task.
    *
    * This is the native kernel form ([[graft.expressions.SpanChunks]], one
    * static call per row inside codegen); [[spanChunksHof]] is the
    * built-in-functions formulation it is verified against (CurationSpec
    * parity law) — kept because its HOF pipeline documents, step by step,
    * the SQL-replayable rule the q87 oracle unrolls, but ~50x slower as
    * interpreted lambdas and evaluated up to three times per span-dedup
    * run.
    */
  private[scale] def spanChunks(textCol: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SpanChunks(
        org.apache.spark.sql.GraftColumnBridge.expression(textCol)))

  /** The semantic reference for [[spanChunks]] (interpreted HOF lambdas). */
  private[scale] def spanChunksHof(textCol: Column): Column = {
    val ws = filter(split(textCol, graft.expressions.Ws.Regex), w => w =!= "")
    val n = size(ws)
    // 1-based start positions: 1, plus (boundary position + 1) for every
    // boundary token not at the very end
    val bnext = filter(
      transform(ws, (w, i) => when(md5(w) < "1", i + 2).otherwise(lit(0))),
      p => p > 0)
    val starts = filter(concat(array(lit(1)), bnext), s => s <= n)
    val nexts = concat(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))), array(n + 1))
    when(n === 0, array().cast("array<struct<n_tokens:bigint,chunk:string>>"))
      .otherwise(zip_with(starts, nexts, (s, e) => struct(
        (e - s).cast("long").as("n_tokens"),
        array_join(slice(ws, s, e - s), " ").as("chunk"))))
  }

  /** Substring-level exact dedup (duplicated-span removal): find spans of at
    * least `minSpan` tokens that occur more than once across the corpus —
    * the syndicated article body, quoted license block, or mirrored page
    * section that whole-document dedup can never touch — and cut every
    * occurrence except the canonical one (global min (doc, position)) out of
    * the text, rebuilding each document from its surviving chunks.
    *
    * Span identity is the content-defined chunk ([[spanChunks]]): only
    * chunks of >= `minSpan` tokens enter the inventory, so the ubiquitous
    * short chunks ("the … a") never generate candidate pairs. Offsets don't
    * matter — CDC boundaries re-synchronize, so a span shared at different
    * positions in different docs yields the same interior chunks.
    *
    * Scale shape, three narrow jobs:
    *   1. inventory: explode chunk structs, keep (id, chunk_idx,
    *      xxhash64(chunk)) — 8-byte span keys, text never leaves the scan;
    *   2. winners: one hash aggregation per span key (map-side partial) for
    *      (min (id, idx), count); keys with count >= 2 join back against the
    *      inventory to name the removed occurrences — all-long relations;
    *   3. rebuild: docs join the per-doc removed-index lists (AQE broadcasts
    *      the removed side when small — duplicated spans are the exception,
    *      not the rule) and re-chunk in place, dropping removed indexes —
    *      per-row array ops, no second pass over the corpus.
    *
    * The rebuilt text is the surviving chunks joined with single spaces
    * (token-normalized whitespace, like [[chunkByTokens]]'s chunks). Removal
    * is idempotent: surviving chunks re-chunk identically (boundaries are
    * content-defined), and the kept canonical occurrence is unique on the
    * second pass, so nothing further is removed (CurationSpec law). NULL
    * text passes through as NULL with n_removed = 0. Oracled end-to-end as
    * q87 with a planted cross-doc span.
    */
  def dedupSpans(docs: DataFrame, minSpan: Int = 8,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minSpan >= 2, s"minSpan must be >= 2, got $minSpan")
    val chunks = spanChunks(col(textCol))
    val occ = docs
      .select(col(idCol).as("__id"), posexplode(chunks).as(Seq("__ci", "__c")))
      .filter(col("__c.n_tokens") >= minSpan)
      .select(col("__id"), col("__ci"), xxhash64(col("__c.chunk")).as("__h"))
    val winners = occ.groupBy("__h")
      .agg(min(struct(col("__id"), col("__ci"))).as("__w"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("__h"), col("__w"))
    val removed = occ.join(winners, "__h")
      .filter(!(col("__id") === col("__w.__id") && col("__ci") === col("__w.__ci")))
      .select(col("__id"), col("__ci"))
    val perDoc = removed.groupBy("__id")
      .agg(collect_list(col("__ci")).as("__rm"), count(lit(1)).as("__nrm"))
    val rm = coalesce(col("__rm"), array().cast("array<int>"))
    docs.join(perDoc, docs(idCol) === perDoc("__id"), "left")
      .withColumn("n_removed", coalesce(col("__nrm"), lit(0L)))
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", filter(
            transform(chunks, (c, i) =>
              when(array_contains(rm, i), lit(null).cast("string"))
                .otherwise(c.getField("chunk"))),
            x => x.isNotNull))))
      .drop("__id", "__rm", "__nrm")
  }

  // ---- declared queries ----------------------------------------------------

  /** q203/q204 fixture: a deterministic URL per document planting every
    * canonicalization rule — mixed-case scheme/host, default port on its
    * own scheme (the %6=2/:443 variant only occurs on even ids, i.e.
    * https; the %6=5/:80 variant only on odd ids, i.e. http), a kept
    * non-default port, www., tracking params among real ones, trailing
    * slash, fragment, and four public-suffix families.
    */
  private def seededUrls(s: org.apache.spark.sql.SparkSession, d: String,
                         withQuery: Boolean = true): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
      lit("://"),
      when(col("doc_id") % 6 === 0, lit("EXAMPLE.com"))
        .when(col("doc_id") % 6 === 1, lit("news.Example.co.uk"))
        .when(col("doc_id") % 6 === 2, lit("www.Example.com:443"))
        .when(col("doc_id") % 6 === 3, lit("blog.example.com:8080"))
        .when(col("doc_id") % 6 === 4, lit("Example.github.io"))
        .otherwise(lit("shop.example.com.au:80")),
      when(col("doc_id") % 4 === 0, lit(""))
        .when(col("doc_id") % 4 === 1, lit("/Articles/"))
        .when(col("doc_id") % 4 === 2, lit("/a/b"))
        .otherwise(lit("/")),
      if (!withQuery) lit("") else
        when(col("doc_id") % 5 === 0, lit(""))
          .when(col("doc_id") % 5 === 1, concat(lit("?utm_source=x&id="),
            col("doc_id").cast("string"), lit("&utm_campaign=y")))
          .when(col("doc_id") % 5 === 2, lit("?b=2&a=1"))
          .when(col("doc_id") % 5 === 3, lit("?gclid=abc"))
          .otherwise(lit("?ref=tw&q=Spark")),
      when(col("doc_id") % 3 === 0, lit("#Section-2")).otherwise(lit("")))
      .as("url"))

  /** The q202/q211 HTML page wrapper around a document's text — every
    * extraction rule planted deterministically (script on 1-in-5 docs,
    * entity paragraph on 1-in-7, unclosed tag on 1-in-11, nav/footer/
    * subscribe-line on all).
    */
  private[graft] def htmlFixture(docId: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc</title><style>body { color: red } p>a { x: 1 }</style></head>"),
    when(docId % 5 === 0,
      lit("""<script type="text/javascript">var s = "<p>fake para</p>"; if (a < b) { go(); }</script>"""))
      .otherwise(lit("")),
    lit("""<body><nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>"""),
    lit("<h1>Doc &#39;Overview&#39;</h1>"),
    lit("<p>"), text, lit("</p>"),
    when(docId % 7 === 0,
      lit("<p>5 &lt; 6 &amp; 7 &gt; 2 holds, she said &quot;always&quot;</p>"))
      .otherwise(lit("")),
    when(docId % 11 === 0,
      lit("<div>trailing fragment kept before <unclosed junk never closed"))
      .otherwise(lit("")),
    lit("<p>Subscribe to our newsletter for weekly updates</p>"),
    lit("""<!-- tracking pixel --><footer><a href="/tos">terms</a> <a href="/privacy">privacy</a></footer></body></html>"""))

  /** Crawl-page markup with a deterministic cross-host anchor structure
    * (q236's fixture): three absolute outlinks per page — exercising
    * attribute-name case, both quote styles, scheme/host case, the default
    * https port, `www.`, tracking params, fragments, duplicate slashes,
    * ccTLD multi-part suffixes, and a subdomain that must collapse into
    * its registered domain — plus a relative link and a mailto link that
    * extraction must keep but the absolute-URL filter must drop. The
    * page's own host is `site{doc_id % 10}.com` (the `src` convention its
    * consumers share).
    */
  private[graft] def linkFixture(docId: Column): Column = concat(
    lit("<html><body><p>story</p>"),
    lit("<a HREF=\"HTTPS://www.Site"), (docId + 1) % 10,
    lit(".com:443/read/"), docId % 13,
    lit("?utm_source=feed&b=2&a=1#top\">one</a>"),
    lit("<a href='http://site"), (docId * 3 + 1) % 10,
    lit(".co.uk//news//"), docId % 5, lit("/'>two</a>"),
    lit("<a href=\"https://cdn.site"), (docId * 7 + 2) % 10,
    lit(".com/a/b\">three</a>"),
    lit("<a href=\"/relative/skipped\">rel</a>"),
    lit("<a href=\"mailto:x@example.com\">mail</a>"),
    lit("</body></html>"))

  /** [[linkFixture]]'s sibling with content-bearing anchor text: the first
    * outlink's anchor is the doc's tokens 1–3, the second's tokens 4–6
    * (deterministic, replayable slices — shorter docs yield shorter or
    * empty anchors), plus a relative link whose anchor must survive
    * extraction but fall to the absolute-URL filter.
    */
  private[graft] def anchorFixture(docId: Column, text: Column): Column = {
    val ts = filter(split(text, graft.expressions.Ws.Regex), w => w =!= "")
    concat(
      lit("<html><body><p>story</p>"),
      lit("<a HREF=\"HTTPS://www.Site"), (docId + 1) % 10,
      lit(".com:443/read/"), docId % 13,
      lit("?utm_source=feed&b=2&a=1#top\">"),
      array_join(slice(ts, 1, 3), " "), lit("</a>"),
      lit("<a href='http://site"), (docId * 3 + 1) % 10,
      lit(".co.uk//news//"), docId % 5, lit("/'>"),
      array_join(slice(ts, 4, 3), " "), lit("</a>"),
      lit("<a href=\"/relative/skipped\">local nav</a>"),
      lit("</body></html>"))
  }

  /** The DuckDB replay of [[anchorFixture]] + [[extractAnchors]] +
    * canonicalization + registered-domain collapse: CTEs `a_seeded`
    * through `a_dom` (target domain, anchor per absolute outlink).
    * Prefixed `a_` — composes alongside [[linkDomainCtes]].
    */
  private[graft] val anchorDomainCtes: String =
    """a_seeded AS (
      |  SELECT doc_id,
      |    '<html><body><p>story</p>' ||
      |    '<a HREF="HTTPS://www.Site' || ((doc_id + 1) % 10) || '.com:443/read/' || (doc_id % 13) ||
      |      '?utm_source=feed&b=2&a=1#top">' || array_to_string(ts[1:3], ' ') || '</a>' ||
      |    '<a href=''http://site' || ((doc_id * 3 + 1) % 10) || '.co.uk//news//' || (doc_id % 5) || '/''>' ||
      |      array_to_string(ts[4:6], ' ') || '</a>' ||
      |    '<a href="/relative/skipped">local nav</a>' ||
      |    '</body></html>' AS html
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ts
      |        FROM documents)),
      | a_pairs AS (
      |  SELECT regexp_extract(m, '(?i)<a[^>]*href[ \t]*=[ \t]*"([^"]+)"[^>]*>([^<]*)</a>', 1) AS url,
      |         regexp_extract(m, '(?i)<a[^>]*href[ \t]*=[ \t]*"([^"]+)"[^>]*>([^<]*)</a>', 2) AS anchor
      |  FROM (SELECT unnest(regexp_extract_all(html,
      |          '(?i)<a[^>]*href[ \t]*=[ \t]*"([^"]+)"[^>]*>([^<]*)</a>', 0)) AS m
      |        FROM a_seeded)
      |  UNION ALL
      |  SELECT regexp_extract(m, '(?i)<a[^>]*href[ \t]*=[ \t]*''([^'']+)''[^>]*>([^<]*)</a>', 1),
      |         regexp_extract(m, '(?i)<a[^>]*href[ \t]*=[ \t]*''([^'']+)''[^>]*>([^<]*)</a>', 2)
      |  FROM (SELECT unnest(regexp_extract_all(html,
      |          '(?i)<a[^>]*href[ \t]*=[ \t]*''([^'']+)''[^>]*>([^<]*)</a>', 0)) AS m
      |        FROM a_seeded)),
      | a_abs AS (SELECT url, anchor FROM a_pairs
      |           WHERE regexp_matches(url, '(?i)^https?://')),
      | a_hostq AS (
      |  SELECT anchor,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport
      |  FROM a_abs),
      | a_dom0 AS (
      |  SELECT anchor,
      |    regexp_replace(regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |           ELSE hostport END, '^www\.', ''), ':[0-9]+$', '') AS bare
      |  FROM a_hostq),
      | a_dom AS (
      |  SELECT anchor,
      |    CASE WHEN len(string_split(bare, '.')) >= 3
      |              AND array_to_string(string_split(bare, '.')[-2:], '.') IN
      |                ('co.uk','ac.uk','gov.uk','org.uk','co.jp','ne.jp','ac.jp',
      |                 'com.au','net.au','org.au','co.nz','co.kr','com.br','com.mx',
      |                 'co.in','com.cn','com.sg','com.tr','github.io','blogspot.com')
      |         THEN array_to_string(string_split(bare, '.')[-3:], '.')
      |         WHEN len(string_split(bare, '.')) >= 2
      |         THEN array_to_string(string_split(bare, '.')[-2:], '.')
      |         ELSE bare END AS domain
      |  FROM a_dom0)""".stripMargin

  /** The DuckDB replay of [[linkFixture]] + [[extractLinks]] +
    * canonicalization + registered-domain collapse, shared by the q236 and
    * q237 oracles: CTEs `seeded` through `dom` (doc_id, domain per
    * absolute outlink).
    */
  private[graft] val linkDomainCtes: String =
    """seeded AS (
      |  SELECT doc_id,
      |    '<html><body><p>story</p>' ||
      |    '<a HREF="HTTPS://www.Site' || ((doc_id + 1) % 10) || '.com:443/read/' || (doc_id % 13) ||
      |      '?utm_source=feed&b=2&a=1#top">one</a>' ||
      |    '<a href=''http://site' || ((doc_id * 3 + 1) % 10) || '.co.uk//news//' || (doc_id % 5) || '/''>two</a>' ||
      |    '<a href="https://cdn.site' || ((doc_id * 7 + 2) % 10) || '.com/a/b">three</a>' ||
      |    '<a href="/relative/skipped">rel</a>' ||
      |    '<a href="mailto:x@example.com">mail</a>' ||
      |    '</body></html>' AS html
      |  FROM documents),
      | hrefs AS (
      |  SELECT doc_id, unnest(list_concat(
      |    regexp_extract_all(html, '(?i)href[ \t]*=[ \t]*"([^"]+)"', 1),
      |    regexp_extract_all(html, '(?i)href[ \t]*=[ \t]*''([^'']+)''', 1))) AS url
      |  FROM seeded),
      | abs0 AS (SELECT doc_id, url FROM hrefs
      |          WHERE regexp_matches(url, '(?i)^https?://')),
      | hostq AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport
      |  FROM abs0),
      | dom0 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |           ELSE hostport END, '^www\.', ''), ':[0-9]+$', '') AS bare
      |  FROM hostq),
      | dom AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(bare, '.')) >= 3
      |              AND array_to_string(string_split(bare, '.')[-2:], '.') IN
      |                ('co.uk','ac.uk','gov.uk','org.uk','co.jp','ne.jp','ac.jp',
      |                 'com.au','net.au','org.au','co.nz','co.kr','com.br','com.mx',
      |                 'co.in','com.cn','com.sg','com.tr','github.io','blogspot.com')
      |         THEN array_to_string(string_split(bare, '.')[-3:], '.')
      |         WHEN len(string_split(bare, '.')) >= 2
      |         THEN array_to_string(string_split(bare, '.')[-2:], '.')
      |         ELSE bare END AS domain
      |  FROM dom0)""".stripMargin

  /** The DuckDB replay of [[htmlFixture]] + [[extractText]], shared by the
    * q202 and q211 oracles: CTEs from `seeded` through `ext`
    * (doc_id, extracted text).
    */
  private[graft] val htmlExtractionCtes: String =
    """seeded AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc</title><style>body { color: red } p>a { x: 1 }</style></head>' ||
      |    CASE WHEN doc_id % 5 = 0 THEN '<script type="text/javascript">var s = "<p>fake para</p>"; if (a < b) { go(); }</script>' ELSE '' END ||
      |    '<body><nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>' ||
      |    '<h1>Doc &#39;Overview&#39;</h1>' ||
      |    '<p>' || text || '</p>' ||
      |    CASE WHEN doc_id % 7 = 0 THEN '<p>5 &lt; 6 &amp; 7 &gt; 2 holds, she said &quot;always&quot;</p>' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN '<div>trailing fragment kept before <unclosed junk never closed' ELSE '' END ||
      |    '<p>Subscribe to our newsletter for weekly updates</p>' ||
      |    '<!-- tracking pixel --><footer><a href="/tos">terms</a> <a href="/privacy">privacy</a></footer></body></html>'
      |    AS html
      |  FROM documents),
      | cleaned AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      html,
      |      '(?is)<!--.*?-->', '', 'g'), '(?is)<!--.*$', '', 'g'),
      |      '(?is)<script\b[^>]*>.*?</script>', '', 'g'), '(?is)<script\b.*$', '', 'g'),
      |      '(?is)<style\b[^>]*>.*?</style>', '', 'g'), '(?is)<style\b.*$', '', 'g') AS s
      |  FROM seeded),
      | segmented AS (
      |  SELECT doc_id, regexp_replace(s,
      |    '(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|thead|tbody|section|article|header|footer|blockquote|nav|aside|form|hr|title)\b[^>]*>',
      |    chr(10), 'g') AS s
      |  FROM cleaned),
      | blocks AS (
      |  SELECT doc_id,
      |    unnest(string_split(s, chr(10))) AS b,
      |    unnest(generate_series(1, len(string_split(s, chr(10))))) AS i
      |  FROM segmented),
      | scored AS (
      |  SELECT doc_id, i,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(replace(
      |        regexp_replace(regexp_replace(b, '<[^>]*>', '', 'g'), '<.*$', '', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |      '[ \t\r\f]+', ' ', 'g')) AS t,
      |    CAST((len(lower(b)) - len(regexp_replace(lower(b), '<a[ >]', '', 'g'))) // 3 AS BIGINT) AS nl
      |  FROM blocks),
      | kept AS (
      |  SELECT doc_id, i, t FROM scored
      |  WHERE (CASE WHEN t = '' THEN 0 ELSE len(string_split(t, ' ')) END) >= 3
      |    AND (CASE WHEN t = '' THEN 0 ELSE len(string_split(t, ' ')) END) > 2 * nl),
      | ext AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(k.text, '') END AS text
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id, string_agg(t, chr(10) ORDER BY i) AS text FROM kept GROUP BY 1) k
      |  USING (doc_id))""".stripMargin

  val queries: Seq[Q] = Seq(

    // Decontamination with planted contamination: docs with doc_id % 50 == 0
    // are the "benchmark set"; every corpus doc with doc_id % 17 == 0 gets
    // the text of its floor-of-50 benchmark doc appended (when that
    // benchmark doc is >= 13 tokens, so it contributes at least one full
    // 13-gram). The oracle rebuilds the same contaminated corpus and
    // recomputes the shared-distinct-13-gram counts by brute force; the
    // engine must flag exactly the planted docs with exactly the right
    // counts (chance 13-gram collisions between random docs are ~40^-13 —
    // this gate is deterministic, not probabilistic; the engine's xxhash64
    // key join differs only under a 2^-64 in-doc hash collision).
    Q("q70_decontaminate",
      """WITH base AS (SELECT doc_id, trim(text) AS text FROM documents),
        | ev AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
        | corp AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 17 = 0 AND e.doc_id IS NOT NULL
        |              AND len(string_split_regex(e.text, '\s+')) >= 13
        |         THEN d.text || ' [CONT] ' || e.text ELSE d.text END AS text
        |  FROM base d
        |  LEFT JOIN ev e ON e.doc_id = d.doc_id - (d.doc_id % 50)
        |  WHERE d.doc_id % 50 <> 0),
        | shc AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split_regex(text, '\s+')) - 13, 0) + 1),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+13], ' ')))) AS g
        |  FROM corp),
        | she AS (
        |  SELECT DISTINCT unnest(list_transform(
        |    range(0, greatest(len(string_split_regex(text, '\s+')) - 13, 0) + 1),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+13], ' '))) AS g
        |  FROM ev)
        |SELECT doc_id, count(1) AS n_shared FROM shc JOIN she USING (g)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // trim both sides: DuckDB's string_split_regex keeps a trailing empty
      // token that Java's split drops, so un-trimmed trailing whitespace
      // would shift the oracle's shingle windows off the kernel's
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), trim(col("text")).as("text"))
      val ev = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev.select(col("doc_id").as("__eid"), col("text").as("__etext"))),
          col("__eid") === col("doc_id") - (col("doc_id") % 50), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0 && col("__eid").isNotNull &&
               size(split(col("__etext"), graft.expressions.Ws.Regex)) >= 13,
            concat(col("text"), lit(" [CONT] "), col("__etext")))
            .otherwise(col("text")).as("text"))
      contaminatedDocs(corpus, ev).orderBy("doc_id")
    },

    // The benchmark owner's side of q70: per EVAL doc, how many corpus
    // docs leak it and how many (corpus doc, distinct 13-gram) pairs —
    // same planted fixture, attribution grouped the other way. Benchmark
    // docs nothing quotes are absent on both sides.
    Q("q275_eval_leak_report",
      """WITH base AS (SELECT doc_id, trim(text) AS text FROM documents),
        | ev AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
        | corp AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 17 = 0 AND e.doc_id IS NOT NULL
        |              AND len(string_split_regex(e.text, '\s+')) >= 13
        |         THEN d.text || ' [CONT] ' || e.text ELSE d.text END AS text
        |  FROM base d
        |  LEFT JOIN ev e ON e.doc_id = d.doc_id - (d.doc_id % 50)
        |  WHERE d.doc_id % 50 <> 0),
        | shc AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split_regex(text, '\s+')) - 13, 0) + 1),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+13], ' ')))) AS g
        |  FROM corp),
        | she AS (
        |  SELECT doc_id AS eval_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split_regex(text, '\s+')) - 13, 0) + 1),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+13], ' ')))) AS g
        |  FROM ev)
        |SELECT eval_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(1) AS BIGINT) AS n_shared
        |FROM shc JOIN she USING (g)
        |GROUP BY 1 ORDER BY eval_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), trim(col("text")).as("text"))
      val ev = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev.select(col("doc_id").as("__eid"), col("text").as("__etext"))),
          col("__eid") === col("doc_id") - (col("doc_id") % 50), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0 && col("__eid").isNotNull &&
               size(split(col("__etext"), graft.expressions.Ws.Regex)) >= 13,
            concat(col("text"), lit(" [CONT] "), col("__etext")))
            .otherwise(col("text")).as("text"))
      evalLeakReport(corpus, ev).orderBy("eval_id")
    },

    // The bloom-prefiltered decontamination path must be VALUE-EXACT against
    // the same brute-force oracle as q70 — same planted fixture, same
    // counts. fpp=0.25 is deliberately terrible: it forces real false
    // positives through the bloom so the verify join's exactness is what
    // this gate certifies, not a lucky clean prefilter.
    Q("q108_decontaminate_bloom",
      """WITH base AS (SELECT doc_id, trim(text) AS text FROM documents),
        | ev AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
        | corp AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 17 = 0 AND e.doc_id IS NOT NULL
        |              AND len(string_split_regex(e.text, '\s+')) >= 13
        |         THEN d.text || ' [CONT] ' || e.text ELSE d.text END AS text
        |  FROM base d
        |  LEFT JOIN ev e ON e.doc_id = d.doc_id - (d.doc_id % 50)
        |  WHERE d.doc_id % 50 <> 0),
        | shc AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split_regex(text, '\s+')) - 13, 0) + 1),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+13], ' ')))) AS g
        |  FROM corp),
        | she AS (
        |  SELECT DISTINCT unnest(list_transform(
        |    range(0, greatest(len(string_split_regex(text, '\s+')) - 13, 0) + 1),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+13], ' '))) AS g
        |  FROM ev)
        |SELECT doc_id, count(1) AS n_shared FROM shc JOIN she USING (g)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), trim(col("text")).as("text"))
      val ev = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev.select(col("doc_id").as("__eid"), col("text").as("__etext"))),
          col("__eid") === col("doc_id") - (col("doc_id") % 50), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0 && col("__eid").isNotNull &&
               size(split(col("__etext"), graft.expressions.Ws.Regex)) >= 13,
            concat(col("text"), lit(" [CONT] "), col("__etext")))
            .otherwise(col("text")).as("text"))
      contaminatedDocsBloom(corpus, ev, fpp = 0.25).orderBy("doc_id")
    },

    // PII scrubbing with planted PII: every 5th doc gets a deterministic
    // email + phone appended; the scrubbed text and per-doc redaction
    // counts are recomputed end-to-end by the oracle (RE2 and Java agree on
    // these patterns by construction).
    Q("q71_pii_scrub",
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN text || ' contact user' || doc_id ||
         |           '@example.com or 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         | len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
         | len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
         | regexp_replace(regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
         |                '$PhoneRe', '[PHONE]', 'g') AS text
         |FROM seeded ORDER BY doc_id""".stripMargin) { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      scrubPii(seeded)
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"), col("text"))
        .orderBy("doc_id")
    },

    // Training-mix assembly: language-weighted deterministic sampling (en
    // keep-all, de 1/2, fr 1/4, es+zh 1/8), reported as per-language kept
    // doc counts and char volume. The oracle applies the identical md5
    // thresholds, so the compare is value-exact at any SF.
    Q("q72_training_mix",
      """SELECT lang, count(1) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE CASE lang WHEN 'en' THEN true
        |                WHEN 'de' THEN md5(CAST(doc_id AS VARCHAR)) < '8'
        |                WHEN 'fr' THEN md5(CAST(doc_id AS VARCHAR)) < '4'
        |                ELSE md5(CAST(doc_id AS VARCHAR)) < '2' END
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      stratifiedMix(Tables.documents(s, d),
        "lang", Map("en" -> 16, "de" -> 8, "fr" -> 4), default16 = 2)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"))
        .orderBy("lang")
    },

    // Gopher/MassiveText repetition signals, reduced to exact integer sums
    // per language so the compare is value-exact at any SF (per-doc ratios
    // would hash-diverge on float rounding; sums of ints cannot). The
    // engine runs the single-pass native kernel (no explode, no per-word
    // shuffle); the oracle recomputes by brute-force word/bigram unnesting.
    // n_repetitive applies the Gopher-style "top bigram covers >= 20% of
    // bigram positions" rule as an integer cross-multiplication.
    Q("q73_repetition",
      """WITH w AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        | wc AS (
        |  SELECT doc_id, count(1) AS n_distinct, max(c) AS top_word FROM (
        |    SELECT doc_id, g, count(1) AS c
        |    FROM (SELECT doc_id, unnest(ws) AS g FROM w) GROUP BY 1, 2)
        |  GROUP BY 1),
        | bc AS (
        |  SELECT doc_id, max(c) AS top_bigram FROM (
        |    SELECT doc_id, g, count(1) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1])) AS g
        |      FROM w WHERE len(ws) >= 2) GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(len(ws)) AS BIGINT) AS sum_words,
        |  CAST(sum(coalesce(n_distinct, 0)) AS BIGINT) AS sum_distinct,
        |  CAST(sum(coalesce(top_word, 0)) AS BIGINT) AS sum_top_word,
        |  CAST(sum(coalesce(top_bigram, 0)) AS BIGINT) AS sum_top_bigram,
        |  CAST(sum(CASE WHEN len(ws) >= 2 AND coalesce(top_bigram, 0) * 5 >= len(ws) - 1
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        |FROM w LEFT JOIN wc USING (doc_id) LEFT JOIN bc USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      repetitionStats(Tables.documents(s, d).select("doc_id", "lang", "text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("sum_words"),
          sum("n_distinct").cast("long").as("sum_distinct"),
          sum("top_word").cast("long").as("sum_top_word"),
          sum("top_bigram").cast("long").as("sum_top_bigram"),
          sum(when(col("n_words") >= 2 &&
                   col("top_bigram") * 5 >= col("n_words") - 1, 1L)
            .otherwise(0L)).as("n_repetitive"))
        .orderBy("lang")
    },

    // Training-sequence packing: per-shard doc counts, token totals, and
    // sequence counts under a 2048-token budget. The window running sum is
    // shard-local (PARTITION BY shard), so both engines compute the same
    // deterministic packing with no global order.
    Q("q74_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id, doc_id % 64 AS shard,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS toks
        |  FROM documents),
        | c AS (
        |  SELECT shard, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT shard, count(1) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(max(CAST(floor((cum - toks) / 2048.0) AS BIGINT)) + 1 AS BIGINT) AS n_seqs
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      packSequences(Tables.documents(s, d).select("doc_id", "text"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("n_tokens"),
          (max("seq") + 1).as("n_seqs"))
        .orderBy("shard")
    },

    // Unigram-LM surprisal quality scoring (the CCNet perplexity-filter
    // idea with an integer-exact surprisal so the compare is hash-safe on
    // any engine). n_fluent counts docs averaging <= 8 bits/token, as an
    // integer cross-multiplication.
    Q("q75_unigram_surprisal",
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> x <> '')) AS g
        |  FROM documents),
        | v AS (SELECT g, count(1) AS cnt FROM w GROUP BY 1),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        | s AS (
        |  SELECT doc_id, count(1) AS n_tok,
        |         CAST(sum(length(bin(total)) - length(bin(cnt))) AS BIGINT) AS surp
        |  FROM w JOIN v USING (g) CROSS JOIN tot GROUP BY 1)
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(coalesce(n_tok, 0)) AS BIGINT) AS n_tokens,
        |  CAST(sum(coalesce(surp, 0)) AS BIGINT) AS sum_surprisal,
        |  CAST(sum(CASE WHEN coalesce(surp, 0) <= 8 * coalesce(n_tok, 0)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_fluent
        |FROM documents LEFT JOIN s USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      unigramSurprisal(Tables.documents(s, d).select("doc_id", "lang", "text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("surprisal").as("sum_surprisal"),
          sum(when(col("surprisal") <= col("n_tokens") * 8, 1L).otherwise(0L))
            .as("n_fluent"))
        .orderBy("lang")
    },

    // Bigram-LM surprisal: conditional transition bits (see
    // word2vec-style skip-gram pair extraction (window ±2): the training
    // corpus an embedding run consumes, built with the same zip-slice
    // idiom as the transition stream — pairs are narrow (w1, w2) strings,
    // counts map-side combine, text itself never shuffles. The oracle
    // derives the identical multiset via lag windows at offsets 1 and 2
    // over exploded positions. Top 30 with a total tie order.
    Q("q195_skipgrams",
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS c,
        |    generate_subscripts(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> x <> ''), 1) AS pos
        |  FROM documents),
        | p AS (
        |  SELECT doc_id, c,
        |    lag(c, 1) OVER win AS m1, lag(c, 2) OVER win AS m2
        |  FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        | pairs AS (
        |  SELECT m1 AS w1, c AS w2 FROM p WHERE m1 IS NOT NULL
        |  UNION ALL SELECT m2, c FROM p WHERE m2 IS NOT NULL
        |  UNION ALL SELECT c, m1 FROM p WHERE m1 IS NOT NULL
        |  UNION ALL SELECT c, m2 FROM p WHERE m2 IS NOT NULL)
        |SELECT w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2
        |ORDER BY n DESC, w1, w2 LIMIT 30""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val toks = filter(split(col("text"), graft.expressions.Ws.Regex), w => w =!= "")
      def pairsAt(off: Int) = {
        val n = greatest(size(toks) - off, lit(0))
        docs.select(explode(zip_with(
            slice(toks, lit(1), n), slice(toks, lit(1 + off), n),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("__t"))
          .select(col("__t.w1").as("w1"), col("__t.w2").as("w2"))
      }
      val directed = pairsAt(1).unionByName(pairsAt(2))
      directed
        .unionByName(directed.select(col("w2").as("w1"), col("w1").as("w2")))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(30)
    },

    // bigramSurprisal). n_fluent counts docs averaging <= 4.5 bits per
    // transition, as the integer cross-multiplication 2*surp <= 9*n_trans
    // (a real split on this corpus: ~1/7 of docs qualify). The oracle
    // derives transitions with a per-doc lag window over exploded
    // positions — same stream, different idiom, identical multiset.
    Q("q128_bigram_lm",
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS c,
        |    generate_subscripts(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> x <> ''), 1) AS pos
        |  FROM documents),
        | t AS (
        |  SELECT doc_id, lag(c) OVER (PARTITION BY doc_id ORDER BY pos) AS p, c
        |  FROM w QUALIFY p IS NOT NULL),
        | b AS (SELECT p, c, CAST(count(1) AS BIGINT) AS bc FROM t GROUP BY 1, 2),
        | x AS (SELECT p, CAST(sum(bc) AS BIGINT) AS pc FROM b GROUP BY 1),
        | s AS (
        |  SELECT doc_id, count(1) AS n_trans,
        |         CAST(sum(length(bin(pc)) - length(bin(bc))) AS BIGINT) AS surp
        |  FROM t JOIN b USING (p, c) JOIN x USING (p) GROUP BY 1)
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(coalesce(n_trans, 0)) AS BIGINT) AS n_trans,
        |  CAST(sum(coalesce(surp, 0)) AS BIGINT) AS sum_surprisal,
        |  CAST(sum(CASE WHEN 2 * coalesce(surp, 0) <= 9 * coalesce(n_trans, 0)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_fluent
        |FROM documents LEFT JOIN s USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      bigramSurprisal(Tables.documents(s, d).select("doc_id", "lang", "text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_trans").as("n_trans"),
          sum("surprisal").as("sum_surprisal"),
          sum(when(col("surprisal") * 2 <= col("n_trans") * 9, 1L).otherwise(0L))
            .as("n_fluent"))
        .orderBy("lang")
    },

    // Vocabulary build: corpus-wide word counts cut to the top-20 by
    // (count desc, word asc) — a total order, so DuckDB recomputes the cut
    // value-exactly (rank, word, and count all compare by hash). The corpus
    // vocabulary is ~31 words, so K=20 exercises a real cut, not keep-all.
    Q("q76_vocabulary",
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |                            x -> x <> '')) AS g
        |  FROM documents),
        | v AS (SELECT g AS word, CAST(count(1) AS BIGINT) AS cnt FROM w GROUP BY 1),
        | c AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rnk,
        |       word, cnt
        |FROM c ORDER BY rnk""".stripMargin) { (s, d) =>
      vocabulary(Tables.documents(s, d), topK = 20).orderBy("rnk")
    },

    // TextRank keywords for every document: adjacent >= 4-char token
    // pairs -> per-doc undirected term graph -> 3 integer PageRank rounds
    // over the pooled (doc, term) relation -> top-3 terms per doc. The
    // oracle replays tokenization, pair construction, every round's
    // grouped flow, and the final tie-ranked cut; the full keyword table
    // hash-compares.
    Q("q241_textrank_keywords",
      s"""WITH tok AS (SELECT doc_id,
         |   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
         | FROM documents),
         | pr0 AS (SELECT doc_id,
         |   unnest(list_transform(range(1, len(ts)),
         |     i -> {'a': ts[i], 'b': ts[i+1]})) AS s
         |  FROM tok WHERE len(ts) >= 2),
         | pairs AS (SELECT DISTINCT doc_id, s.a AS a, s.b AS b FROM pr0
         |           WHERE s.a <> s.b AND len(s.a) >= 4 AND len(s.b) >= 4),
         | e0 AS (SELECT doc_id, a AS src, b AS dst FROM pairs
         |        UNION SELECT doc_id, b, a FROM pairs),
         | deg AS (SELECT doc_id, src, CAST(count(1) AS BIGINT) AS outdeg
         |         FROM e0 GROUP BY 1, 2),
         | e AS (SELECT e0.doc_id, e0.src, e0.dst, deg.outdeg
         |       FROM e0 JOIN deg USING (doc_id, src)),
         | k0 AS (SELECT doc_id, src AS node,
         |        CAST(${Graph.Scale} AS BIGINT) AS rank FROM deg),
         |${(1 to 3).map(textRankRoundSql).mkString(",\n")}
         |SELECT doc_id, rnk, node AS term, rank FROM (
         |  SELECT doc_id, node, rank,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY rank DESC, node) AS rnk
         |  FROM k3)
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      textRankKeywords(Tables.documents(s, d))
        .select(col("doc_id"), col("rnk"), col("term"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rnk")
    },

    // TextRank extractive summaries: 12-token segments, overlap-weighted
    // per-doc segment graph, 3 weighted integer PageRank rounds over the
    // pooled (doc, segment) relation, top-2 salient segments per doc. The
    // oracle replays segmentation, the token-keyed overlap join, every
    // weighted round's per-edge truncating flow, and the final ranked cut;
    // the full summary table hash-compares.
    Q("q242_textrank_summary",
      s"""WITH tok AS (SELECT doc_id,
         |   list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> x <> '') AS ts
         | FROM documents),
         | seg AS (SELECT DISTINCT doc_id, (s.p // 12) AS sid, s.w FROM
         |   (SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
         |      i -> {'p': i - 1, 'w': ts[i]})) AS s FROM tok) q
         |   WHERE len(s.w) >= 4),
         | pairs AS (SELECT a.doc_id, a.sid AS src, b.sid AS dst,
         |            CAST(count(1) AS BIGINT) AS w
         |           FROM seg a JOIN seg b ON a.doc_id = b.doc_id AND a.w = b.w
         |             AND a.sid <> b.sid
         |           GROUP BY 1, 2, 3),
         | st AS (SELECT doc_id, src, CAST(sum(w) AS BIGINT) AS strength
         |        FROM pairs GROUP BY 1, 2),
         | e AS (SELECT p.doc_id, p.src, p.dst, p.w, st.strength
         |       FROM pairs p JOIN st USING (doc_id, src)),
         | k0 AS (SELECT doc_id, src AS node,
         |        CAST(${Graph.Scale} AS BIGINT) AS rank FROM st),
         |${(1 to 3).map(textRankSummaryRoundSql).mkString(",\n")}
         |SELECT doc_id, sid, rnk, rank FROM (
         |  SELECT doc_id, node AS sid, rank,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY rank DESC, node) AS rnk
         |  FROM k3)
         |WHERE rnk <= 2 ORDER BY doc_id, sid""".stripMargin) { (s, d) =>
      textRankSummary(Tables.documents(s, d))
        .select(col("doc_id"), col("sid"), col("rnk"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "sid")
    },

    // Anchor-text index: inbound anchor terms aggregated per TARGET
    // registered domain (Brin & Page 1998 §2.2 — anchor text describes
    // the linked page), top-3 terms per domain by (count DESC, term ASC).
    // The oracle replays the anchor fixture, both quote-style extraction
    // passes, the absolute filter, canonicalization, the registered-domain
    // collapse, tokenization, and the ranked cut; full table hash-compares.
    Q("q243_anchor_text_index",
      "WITH " + anchorDomainCtes + """,
        | a_terms AS (SELECT domain,
        |    unnest(list_filter(string_split_regex(anchor, '[ \t\n\f\r]+'),
        |      x -> x <> '')) AS term
        |  FROM a_dom),
        | a_cnt AS (SELECT domain, term, CAST(count(1) AS BIGINT) AS cnt
        |           FROM a_terms GROUP BY 1, 2)
        |SELECT domain, rnk, term, cnt FROM (
        |  SELECT domain, term, cnt,
        |    row_number() OVER (PARTITION BY domain ORDER BY cnt DESC, term) AS rnk
        |  FROM a_cnt)
        |WHERE rnk <= 3 ORDER BY domain, rnk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      anchorTermCounts(Tables.documents(s, d))
        .withColumn("rnk", row_number().over(Window.partitionBy("domain")
          .orderBy(col("cnt").desc, col("term"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("domain"), col("rnk"), col("term"), col("cnt"))
        .orderBy("domain", "rnk")
    },

    // Blocklist phrase screening (the C4 bad-words primitive): every doc's
    // distinct blocklist hits as consecutive-token phrase matches, via ONE
    // Aho-Corasick pass over the token stream (cost independent of list
    // size — the 100 TB path; K regex scans is the anti-pattern). The
    // oracle replays unigram membership + adjacent-pair membership for the
    // same literal list; the full (doc, phrase) relation hash-compares.
    Q("q245_blocklist_phrases",
      """WITH tok AS (SELECT doc_id,
        |   list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ts
        | FROM documents),
        | uni AS (SELECT DISTINCT doc_id, w AS phrase FROM
        |   (SELECT doc_id, unnest(ts) AS w FROM tok) q),
        | bi AS (SELECT DISTINCT doc_id, s.a || ' ' || s.b AS phrase FROM
        |   (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |      i -> {'a': ts[i], 'b': ts[i+1]})) AS s
        |    FROM tok WHERE len(ts) >= 2) q),
        | m AS (SELECT doc_id, phrase FROM uni WHERE phrase IN ('spark')
        |       UNION
        |       SELECT doc_id, phrase FROM bi
        |       WHERE phrase IN ('slow filter','fast merge','big vector',
        |                        'customer data','window window'))
        |SELECT doc_id, phrase FROM m ORDER BY doc_id, phrase""".stripMargin) { (s, d) =>
      val blocklist = Seq("spark", "slow filter", "fast merge", "big vector",
        "customer data", "window window")
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(phraseMatches(col("text"), blocklist)).as("phrase"))
        .orderBy("doc_id", "phrase")
    },

    // Robots.txt politeness filter over the crawl frontier: per-domain
    // Allow/Disallow rules parsed from raw robots bodies, then every
    // candidate (domain, path) gets the RFC 9309 verdict — longest
    // matching prefix wins, Allow beats Disallow on ties (encoded as
    // max(2*len + isAllow) parity; no matching rule = allowed). Probe
    // paths exercise the Allow carve-out beating its covering Disallow.
    // The oracle replays extraction, canonical path/domain, the fixture
    // robots bodies, line parsing, and the scoring; full table compares.
    Q("q246_robots_filter",
      "WITH " + linkDomainCtes + ",\n " + robotsVerdictCtes + """
        |SELECT domain, path, coalesce(score % 2 = 1, TRUE) AS allowed
        |FROM r_scored ORDER BY domain, path""".stripMargin) { (s, d) =>
      robotsVerdicts(Tables.documents(s, d).select("doc_id"))
        .orderBy("domain", "path")
    },

    // Crawl scheduler: the next fetch cycle's manifest — robots-allowed
    // candidate paths joined with the domain's TrustRank priority, two
    // slots per domain per cycle (the politeness budget), ordered most-
    // trusted-first. Pure composition of the certified q246 verdicts and
    // q244 trust scores; the oracle composes the same three CTE blocks.
    Q("q248_crawl_scheduler",
      "WITH " + linkDomainCtes + ",\n " + robotsVerdictCtes + ",\n " +
        trustCtes + """
        |SELECT domain, trust, slot, path FROM (
        |  SELECT a.domain, t.rank AS trust, a.path,
        |    row_number() OVER (PARTITION BY a.domain ORDER BY a.path) AS slot
        |  FROM r_allowed a JOIN t3 t ON a.domain = t.node)
        |WHERE slot <= 2
        |ORDER BY trust DESC, domain, slot""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select("doc_id")
      // ONE link extraction feeds both sides (r21): checkpointed so the
      // robots and trust branches read the same materialized blocks; eager
      // for the reason cand0 is (robotsVerdictsFromLinks)
      val links = crawlLinks(docs).localCheckpoint()
      val allowed = robotsVerdictsFromLinks(links).filter(col("allowed"))
        .select("domain", "path")
      val trust = crawlTrustFromLinks(links)
        .select(col("node"), col("rank").cast("long").as("trust"))
      allowed.join(trust, col("domain") === col("node"))
        .withColumn("slot", row_number().over(Window.partitionBy("domain")
          .orderBy("path")).cast("long"))
        .filter(col("slot") <= 2)
        .select(col("domain"), col("trust"), col("slot"), col("path"))
        .orderBy(col("trust").desc, col("domain"), col("slot"))
    },

    // Fetch schedule: robots Crawl-delay as an actual rate limit — each
    // domain's allowed paths get fetch timestamps spaced by its parsed
    // per-domain delay (slot i fires at (i-1)*delay seconds). Certifies
    // the Crawl-delay parse and the deterministic slot arithmetic; the
    // oracle re-parses the same raw robots bodies.
    Q("q249_fetch_schedule",
      "WITH " + linkDomainCtes + ",\n " + robotsVerdictCtes + """,
        | r_delay AS (SELECT domain,
        |    CAST(coalesce(nullif(regexp_extract(txt,
        |      '(?im)^[ \t]*crawl-delay[ \t]*:[ \t]*([0-9]+)', 1), ''), '0') AS BIGINT) AS delay
        |   FROM r_robots)
        |SELECT domain, slot, fetch_at, path FROM (
        |  SELECT a.domain, a.path,
        |    row_number() OVER (PARTITION BY a.domain ORDER BY a.path) AS slot,
        |    (row_number() OVER (PARTITION BY a.domain ORDER BY a.path) - 1) * d.delay AS fetch_at
        |  FROM r_allowed a JOIN r_delay d ON a.domain = d.domain)
        |ORDER BY domain, slot""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select("doc_id")
      val allowed = robotsVerdicts(docs).filter(col("allowed"))
        .select("domain", "path")
      val delays = allowed.select("domain").distinct()
        .withColumn("k", regexp_extract(col("domain"), "^site([0-9])", 1))
        .filter(col("k") =!= "")
        .select(col("domain").as("ddomain"),
          parseCrawlDelay(robotsFixture(col("k"))).as("delay"))
      allowed.join(delays, col("domain") === col("ddomain"))
        .withColumn("slot", row_number().over(Window.partitionBy("domain")
          .orderBy("path")).cast("long"))
        .select(col("domain"), col("slot"),
          ((col("slot") - 1) * col("delay")).as("fetch_at"), col("path"))
        .orderBy("domain", "slot")
    },

    // Winnowing fingerprints (MOSS): 4-gram md5s, every 8-window selects
    // its min hash (rightmost tie), distinct selected positions — the
    // measured density lands at ~2/(w+1) (0.206 vs 0.222 predicted) and
    // the selection replays exactly (md5 hex is lexicographic in both
    // engines). Planted q253 tails make cross-doc sharing observable.
    Q("q260_winnow_fingerprints",
      s"""WITH tl AS (SELECT doc_id,
         |   list_filter(string_split_regex(
         |     CASE WHEN doc_id % 7 = 0
         |          THEN text || ' ${SuffixArray.PlantedPhrase}' ELSE text END,
         |     '[ \\t\\n\\f\\r]+'), x -> x <> '') AS ts
         | FROM documents),
         | gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |          md5(array_to_string(ts[i : i + 3], ' ')) AS h
         |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 2)) AS i
         |              FROM tl WHERE len(ts) >= 4) q),
         | wn AS (SELECT doc_id, p AS i,
         |          min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS minh,
         |          count(*) OVER (PARTITION BY doc_id) AS m
         |        FROM gr),
         | cw AS (SELECT doc_id, i, minh FROM wn WHERE i + 8 <= m),
         | sel AS (SELECT w.doc_id, w.i, max(g.p) AS pos, min(w.minh) AS h
         |         FROM cw w JOIN gr g ON g.doc_id = w.doc_id AND g.h = w.minh
         |           AND g.p >= w.i AND g.p < w.i + 8
         |         GROUP BY 1, 2)
         |SELECT DISTINCT doc_id, pos, h FROM sel ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      val fixed = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      winnowFingerprints(fixed).orderBy("doc_id", "pos")
    },

    // Span-level eval decontamination (Lee et al. ACL 2022's surgical
    // form): the eval set is the 16-token planted phrase; every 7th doc
    // quotes it as a tail, and the scrub must excise EXACTLY the quoted
    // tokens (all 8-gram matches' coverage union = the 16-token tail) and
    // keep the rest of the document verbatim — whole-doc dropping would
    // lose the other ~200 tokens. The oracle replays gram hashing, the
    // interval-event coverage, and the token-order rebuild; any off-by-one
    // in window bounds or event edges moves a token and hash-fails.
    Q("q268_eval_span_scrub",
      s"""WITH fix AS (SELECT doc_id,
         |   CASE WHEN doc_id % 7 = 0
         |        THEN text || ' ${SuffixArray.PlantedPhrase}' ELSE text END AS text
         | FROM documents),
         | tl AS (SELECT doc_id,
         |   list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> x <> '') AS ts
         | FROM fix),
         | t AS (SELECT doc_id, s.p AS pos, s.w FROM
         |   (SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
         |      i -> {'p': CAST(i - 1 AS BIGINT), 'w': ts[i]})) AS s FROM tl) q),
         | gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |          md5(array_to_string(ts[i : i + 7], ' ')) AS h
         |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i
         |              FROM tl WHERE len(ts) >= 8) q),
         | etl AS (SELECT list_filter(string_split_regex(
         |           '${SuffixArray.PlantedPhrase}', '[ \\t\\n\\f\\r]+'),
         |           x -> x <> '') AS ts),
         | egr AS (SELECT DISTINCT md5(array_to_string(ts[i : i + 7], ' ')) AS h
         |         FROM (SELECT ts, unnest(range(1, len(ts) - 6)) AS i
         |               FROM etl WHERE len(ts) >= 8) q),
         | hits AS (SELECT gr.doc_id, gr.p FROM gr JOIN egr USING (h)),
         | ev AS (SELECT doc_id, pos, CAST(sum(e) AS BIGINT) AS ev FROM (
         |   SELECT doc_id, p AS pos, 1 AS e FROM hits
         |   UNION ALL SELECT doc_id, p + 8, -1 FROM hits) q GROUP BY 1, 2),
         | cov AS (SELECT t.doc_id, t.pos, t.w,
         |   sum(coalesce(ev.ev, 0)) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS cov
         |  FROM t LEFT JOIN ev ON t.doc_id = ev.doc_id AND t.pos = ev.pos),
         | clean AS (SELECT doc_id,
         |   string_agg(w, ' ' ORDER BY pos) AS clean_text,
         |   CAST(count(1) AS BIGINT) AS kept
         |  FROM cov WHERE cov = 0 GROUP BY 1),
         | ln AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM tl)
         |SELECT f.doc_id, coalesce(c.clean_text, '') AS clean_text,
         |  CAST(coalesce(ln.n, 0) - coalesce(c.kept, 0) AS BIGINT) AS n_scrubbed
         |FROM fix f
         |LEFT JOIN ln ON f.doc_id = ln.doc_id
         |LEFT JOIN clean c ON f.doc_id = c.doc_id
         |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val corpus = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      val evalSet = Seq((0L, SuffixArray.PlantedPhrase)).toDF("doc_id", "text")
      scrubEvalSpans(corpus, evalSet, n = 8).orderBy("doc_id")
    },

    // Collocation mining: top-20 adjacent bigrams by integer log2-PMI at
    // a min-count-5 floor — the phrase-mining pass. The oracle replays
    // bigram/unigram counting, the bitlen log surrogate, and the full
    // (pmi DESC, cab DESC, w1, w2) ranked cut; any count, score, or
    // tie-break drift hash-fails.
    Q("q274_collocations",
      """WITH tl AS (SELECT doc_id,
        |   list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ts
        | FROM documents),
        | bi AS (SELECT ts[i] AS w1, ts[i + 1] AS w2,
        |          CAST(count(1) AS BIGINT) AS cab
        |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
        |              FROM tl WHERE len(ts) >= 2) q
        |        GROUP BY 1, 2 HAVING count(1) >= 5),
        | uni AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt
        |         FROM (SELECT unnest(ts) AS w FROM tl) q GROUP BY 1),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uni),
        | sc AS (SELECT w1, w2, cab,
        |   CAST((len(bin(cab)) - 1) + (len(bin(n)) - 1)
        |        - (len(bin(a.cnt)) - 1) - (len(bin(b.cnt)) - 1) AS BIGINT) AS pmi_l2
        |  FROM bi JOIN uni a ON bi.w1 = a.w JOIN uni b ON bi.w2 = b.w
        |  CROSS JOIN tot),
        | rk AS (SELECT w1, w2, cab, pmi_l2,
        |   CAST(row_number() OVER (ORDER BY pmi_l2 DESC, cab DESC, w1, w2) AS BIGINT) AS rnk
        |  FROM sc)
        |SELECT rnk, w1, w2, cab, pmi_l2 FROM rk WHERE rnk <= 20
        |ORDER BY rnk""".stripMargin) { (s, d) =>
      collocations(Tables.documents(s, d)).orderBy("rnk")
    },

    // Sitemap extraction from robots bodies — the frontier bootstrap.
    // Three planted classes per domain: two sitemaps plus a mixed-case
    // third (all extracted, in order), one sitemap among decoys (a
    // commented-out line, an x-sitemap lookalike, and a trailing
    // same-line comment — none may leak into the URL), and no sitemap at
    // all (domain absent). The SAME regex constant runs on both engines.
    Q("q277_sitemaps",
      """WITH b AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'User-agent: *' || chr(10) ||
        |      'Sitemap: https://site' || doc_id || '.com/a.xml' || chr(10) ||
        |      'Disallow: /news/' || chr(10) ||
        |      'sitemap: https://site' || doc_id || '.com/b.xml' || chr(10) ||
        |      '  SITEMAP: https://site' || doc_id || '.com/c.xml' || chr(10)
        |    WHEN 1 THEN '# Sitemap: https://nope.com/x.xml' || chr(10) ||
        |      'x-sitemap: https://nope.com/y.xml' || chr(10) ||
        |      'Sitemap: https://site' || doc_id || '.com/only.xml # primary' || chr(10)
        |    ELSE 'User-agent: *' || chr(10) || 'Disallow: /news/' || chr(10)
        |  END AS body
        | FROM documents),
        | s AS (SELECT doc_id,
        |   generate_subscripts(regexp_extract_all(body,
        |     '(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^ \t\r\n#]+)', 1), 1) - 1 AS i,
        |   unnest(regexp_extract_all(body,
        |     '(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^ \t\r\n#]+)', 1)) AS url
        |  FROM b)
        |SELECT doc_id, CAST(i AS INT) AS i, url FROM s
        |ORDER BY doc_id, i""".stripMargin) { (s, d) =>
      val cls = expr("CAST(doc_id % 3 AS INT)")
      val body =
        when(cls === 0, concat(lit("User-agent: *\n"),
          lit("Sitemap: https://site"), col("doc_id"), lit(".com/a.xml\n"),
          lit("Disallow: /news/\n"),
          lit("sitemap: https://site"), col("doc_id"), lit(".com/b.xml\n"),
          lit("  SITEMAP: https://site"), col("doc_id"), lit(".com/c.xml\n")))
        .when(cls === 1, concat(
          lit("# Sitemap: https://nope.com/x.xml\n"),
          lit("x-sitemap: https://nope.com/y.xml\n"),
          lit("Sitemap: https://site"), col("doc_id"),
          lit(".com/only.xml # primary\n")))
        .otherwise(lit("User-agent: *\nDisallow: /news/\n"))
      Tables.documents(s, d).select(col("doc_id"), body.as("body"))
        .select(col("doc_id"),
          posexplode(parseSitemaps(col("body"))).as(Seq("i", "url")))
        .orderBy("doc_id", "i")
    },

    // Sitemap-XML url entries: the fetch AFTER q277 hands the crawler a
    // sitemap URL. Three planted classes: a urlset with three entries
    // (ISO lastmod / no lastmod with padded whitespace / lastmod BEFORE
    // loc — element order must not matter), a sitemapindex whose <loc>
    // elements sit inside <sitemap> blocks (must yield NO rows — the
    // block match scopes loc to <url>), and a non-XML body with a
    // loc-less <url> decoy (block matches, empty loc drops the row). The
    // SAME regex constants run on both engines.
    Q("q283_sitemap_urls",
      """WITH b AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN '<?xml version="1.0"?><urlset>'
        |      || '<url><loc>https://site' || (doc_id % 7) || '.com/p' || doc_id
        |      || '/a</loc><lastmod>'
        |      || strftime(DATE '2026-01-01' + CAST(doc_id % 60 AS INT), '%Y-%m-%d')
        |      || '</lastmod></url>'
        |      || '<url>' || chr(10) || '  <loc> https://site' || (doc_id % 7)
        |      || '.com/p' || doc_id || '/b </loc>' || chr(10) || '</url>'
        |      || '<url><lastmod>'
        |      || strftime(DATE '2026-01-01' + CAST(doc_id % 29 AS INT), '%Y-%m-%d')
        |      || '</lastmod><loc>https://site' || (doc_id % 7) || '.com/p'
        |      || doc_id || '/c</loc></url></urlset>'
        |    WHEN 1 THEN '<sitemapindex><sitemap><loc>https://site'
        |      || (doc_id % 7) || '.com/child.xml</loc></sitemap></sitemapindex>'
        |    ELSE 'not xml <url><priority>0.5</priority></url>'
        |  END AS body
        | FROM documents),
        | blk AS (SELECT doc_id,
        |   generate_subscripts(regexp_extract_all(body,
        |     '(?is)<url\b[^>]*>(.*?)</url>', 1), 1) - 1 AS i,
        |   unnest(regexp_extract_all(body,
        |     '(?is)<url\b[^>]*>(.*?)</url>', 1)) AS blk
        |  FROM b),
        | e AS (SELECT doc_id, CAST(i AS INT) AS i,
        |   regexp_extract(blk, '(?is)<loc\s*>\s*([^<\s]+)\s*</loc>', 1) AS url,
        |   nullif(regexp_extract(blk,
        |     '(?is)<lastmod\s*>\s*([^<\s]+)\s*</lastmod>', 1), '') AS lastmod
        |  FROM blk)
        |SELECT doc_id, i, url, lastmod FROM e WHERE url <> ''
        |ORDER BY doc_id, i""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), sitemapXmlFixture(col("doc_id")).as("body"))
        .transform(sitemapEntries(_))
        .orderBy("doc_id", "i")
    },

    // Recrawl schedule from sitemap freshness: the q283 entries joined
    // against a fetch log — 'a' urls were fetched the day BEFORE their
    // lastmod (due), 'c' urls the day AFTER (not due), 'b' urls never
    // (due with unknown freshness, ranked last). Politeness slots: 2
    // fetches per domain per cycle, freshest lastmod first, URL
    // tiebreak; 7 shared domains make the cycle arithmetic real. The
    // oracle replays the dedup, the due rule, and the ranked slot
    // assignment on raw ISO strings (lexicographic = chronological).
    Q("q284_recrawl_schedule",
      """WITH d0 AS (SELECT doc_id,
        |    'https://site' || (doc_id % 7) || '.com/p' || doc_id AS base,
        |    strftime(DATE '2026-01-01' + CAST(doc_id % 60 AS INT), '%Y-%m-%d') AS la,
        |    strftime(DATE '2026-01-01' + CAST(doc_id % 29 AS INT), '%Y-%m-%d') AS lc
        |  FROM documents WHERE doc_id % 3 = 0),
        | e AS (SELECT base || '/a' AS url, la AS lastmod FROM d0
        |       UNION ALL SELECT base || '/b', NULL FROM d0
        |       UNION ALL SELECT base || '/c', lc FROM d0),
        | uniq AS (SELECT url, max(lastmod) AS lastmod FROM e GROUP BY 1),
        | log AS (SELECT base || '/a' AS url,
        |           strftime(DATE '2026-01-01' + CAST(doc_id % 60 AS INT) - 1,
        |                    '%Y-%m-%d') AS last_fetch FROM d0
        |         UNION ALL
        |         SELECT base || '/c',
        |           strftime(DATE '2026-01-01' + CAST(doc_id % 29 AS INT) + 1,
        |                    '%Y-%m-%d') FROM d0),
        | due AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
        |           u.url, u.lastmod, l.last_fetch
        |         FROM uniq u LEFT JOIN log l USING (url)
        |         WHERE l.last_fetch IS NULL
        |            OR (u.lastmod IS NOT NULL AND u.lastmod > l.last_fetch)),
        | rk AS (SELECT domain, url, lastmod, last_fetch,
        |          row_number() OVER (PARTITION BY domain
        |            ORDER BY coalesce(lastmod, '') DESC, url) AS rnk
        |        FROM due)
        |SELECT domain, CAST((rnk - 1) // 2 AS BIGINT) AS cycle,
        |  CAST((rnk - 1) % 2 AS BIGINT) AS slot, url, lastmod, last_fetch
        |FROM rk ORDER BY domain, cycle, slot""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val entries = docs
        .select(col("doc_id"), sitemapXmlFixture(col("doc_id")).as("body"))
        .transform(sitemapEntries(_))
      val d0 = docs.filter(col("doc_id") % 3 === 0).select(
        concat(lit("https://site"), col("doc_id") % 7, lit(".com/p"),
          col("doc_id")).as("base"),
        date_format(date_add(to_date(lit("2026-01-01")),
          (col("doc_id") % 60).cast("int")), "yyyy-MM-dd").as("la"),
        date_format(date_add(to_date(lit("2026-01-01")),
          (col("doc_id") % 29).cast("int")), "yyyy-MM-dd").as("lc"))
      val log = d0.select(concat(col("base"), lit("/a")).as("url"),
          date_format(date_sub(to_date(col("la")), 1), "yyyy-MM-dd").as("last_fetch"))
        .unionByName(d0.select(concat(col("base"), lit("/c")).as("url"),
          date_format(date_add(to_date(col("lc")), 1), "yyyy-MM-dd").as("last_fetch")))
      recrawlSchedule(entries, log)
        .orderBy("domain", "cycle", "slot")
    },

    // Meta-robots noindex screening: the page-level opt-out a crawl must
    // honor before a page enters the corpus. Six planted classes: quoted
    // noindex (flag), reversed-attribute single-quoted caps NOINDEX
    // (flag), index-follow (pass), a name="keywords" content="noindex"
    // decoy (pass — content matching without name matching must not
    // flag), fully unquoted attributes (flag), and no meta at all (pass).
    // The SAME regex constants run on both engines (RE2 ∩ java.util.regex
    // subset), so any pattern drift hash-fails.
    Q("q271_meta_noindex",
      s"""WITH h AS (SELECT doc_id,
         |  CASE CAST(doc_id % 7 AS INT)
         |    WHEN 0 THEN '<html><head><meta name="robots" content="noindex, nofollow"></head><body>' || text || '</body></html>'
         |    WHEN 1 THEN '<html><head><META CONTENT=''NOINDEX, NOFOLLOW'' NAME=''ROBOTS''></head><body>' || text || '</body></html>'
         |    WHEN 2 THEN '<html><head><meta name="robots" content="index, follow"></head><body>' || text || '</body></html>'
         |    WHEN 3 THEN '<html><head><meta name="keywords" content="noindex"></head><body>' || text || '</body></html>'
         |    WHEN 4 THEN '<html><head><meta name=robots content=noindex></head><body>' || text || '</body></html>'
         |    ELSE '<html><body>' || text || '</body></html>' END AS html
         | FROM documents)
         |SELECT doc_id,
         |  (regexp_matches(html, '${MetaNoindexFwRe.replace("'", "''")}')
         |   OR regexp_matches(html, '${MetaNoindexRevRe.replace("'", "''")}')) AS noindex
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      val html = expr("CAST(doc_id % 7 AS INT)")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(html === 0, concat(lit("<html><head><meta name=\"robots\" " +
            "content=\"noindex, nofollow\"></head><body>"), col("text"),
            lit("</body></html>")))
          .when(html === 1, concat(lit("<html><head><META CONTENT='NOINDEX, " +
            "NOFOLLOW' NAME='ROBOTS'></head><body>"), col("text"),
            lit("</body></html>")))
          .when(html === 2, concat(lit("<html><head><meta name=\"robots\" " +
            "content=\"index, follow\"></head><body>"), col("text"),
            lit("</body></html>")))
          .when(html === 3, concat(lit("<html><head><meta name=\"keywords\" " +
            "content=\"noindex\"></head><body>"), col("text"),
            lit("</body></html>")))
          .when(html === 4, concat(lit("<html><head><meta name=robots " +
            "content=noindex></head><body>"), col("text"),
            lit("</body></html>")))
          .otherwise(concat(lit("<html><body>"), col("text"),
            lit("</body></html>"))).as("html"))
      docs.select(col("doc_id"), metaRobotsNoindex(col("html")).as("noindex"))
        .orderBy("doc_id")
    },

    // Winnowing plagiarism candidates: doc pairs sharing a fingerprint
    // hash, with the shared count. The SIGMOD 2003 §3 guarantee — any
    // >= w+k-1 = 11-token match shares at least one fingerprint — is
    // exercised by the 16-token plant: all 2556 planted pairs appear
    // (CurationSpec pins the guarantee; the oracle pins the exact table).
    Q("q261_winnow_pairs",
      s"""WITH tl AS (SELECT doc_id,
         |   list_filter(string_split_regex(
         |     CASE WHEN doc_id % 7 = 0
         |          THEN text || ' ${SuffixArray.PlantedPhrase}' ELSE text END,
         |     '[ \\t\\n\\f\\r]+'), x -> x <> '') AS ts
         | FROM documents),
         | gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |          md5(array_to_string(ts[i : i + 3], ' ')) AS h
         |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 2)) AS i
         |              FROM tl WHERE len(ts) >= 4) q),
         | wn AS (SELECT doc_id, p AS i,
         |          min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS minh,
         |          count(*) OVER (PARTITION BY doc_id) AS m
         |        FROM gr),
         | cw AS (SELECT doc_id, i, minh FROM wn WHERE i + 8 <= m),
         | sel AS (SELECT w.doc_id, w.i, max(g.p) AS pos, min(w.minh) AS h
         |         FROM cw w JOIN gr g ON g.doc_id = w.doc_id AND g.h = w.minh
         |           AND g.p >= w.i AND g.p < w.i + 8
         |         GROUP BY 1, 2),
         | ph AS (SELECT DISTINCT doc_id, h FROM sel)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(1) AS BIGINT) AS shared
         |FROM ph a JOIN ph b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val fixed = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      val ph = winnowFingerprints(fixed).select("doc_id", "h").distinct()
      ph.as("a").join(ph.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .orderBy("doc_a", "doc_b")
    },

    // Term drift between crawl snapshots (even docs = before, odd =
    // after, one planted emergent meme in the after half): per-term
    // integer token rates, squared rate delta, top-20 — the distribution
    // monitor for continuous ingestion. Both snapshots' rate arithmetic
    // and the ranked cut replay exactly.
    Q("q259_term_drift",
      s"""WITH fix AS (SELECT doc_id,
         |   CASE WHEN doc_id % 10 = 5 THEN text || ' emergentmeme emergentmeme'
         |        ELSE text END AS text FROM documents),
         | ca AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt FROM (
         |   SELECT unnest(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'),
         |     x -> x <> '')) AS w FROM fix WHERE doc_id % 2 = 0) q GROUP BY 1),
         | ta AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ca),
         | ra AS (SELECT w, (cnt * ${Graph.Scale}) // total AS rate_a
         |        FROM ca CROSS JOIN ta),
         | cb AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt FROM (
         |   SELECT unnest(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'),
         |     x -> x <> '')) AS w FROM fix WHERE doc_id % 2 = 1) q GROUP BY 1),
         | tb AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cb),
         | rb AS (SELECT w, (cnt * ${Graph.Scale}) // total AS rate_b
         |        FROM cb CROSS JOIN tb),
         | j AS (SELECT coalesce(ra.w, rb.w) AS term,
         |         coalesce(rate_a, 0) AS rate_a, coalesce(rate_b, 0) AS rate_b
         |       FROM ra FULL JOIN rb ON ra.w = rb.w),
         | sc AS (SELECT term, rate_a, rate_b,
         |         (rate_b - rate_a) * (rate_b - rate_a) AS score FROM j)
         |SELECT rnk, term, rate_a, rate_b, score FROM (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, term) AS rnk FROM sc)
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin) { (s, d) =>
      val fixed = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" emergentmeme emergentmeme")))
          .otherwise(col("text")).as("text"))
      termDrift(fixed.filter(col("doc_id") % 2 === 0),
          fixed.filter(col("doc_id") % 2 === 1))
        .orderBy("rnk")
    },

    // Zipf rank-bucket corpus profile: full tokenize -> vocab counts ->
    // exact rank -> log2 buckets via the integer bin-length trick (float
    // log2 is not cross-engine-safe at powers of two) -> per-bucket term
    // count and token mass. The corpus-QA fingerprint.
    Q("q251_zipf_buckets",
      """WITH tok AS (SELECT doc_id,
        |   list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ts
        | FROM documents),
        | c AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt
        |       FROM (SELECT unnest(ts) AS w FROM tok) q GROUP BY 1),
        | r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM c)
        |SELECT CAST(len(bin(rank)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(1) AS BIGINT) AS n_terms, CAST(sum(cnt) AS BIGINT) AS mass
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      zipfBuckets(Tables.documents(s, d)).orderBy("bucket")
    },

    // Heaps vocabulary-growth curve at power-of-two document prefixes:
    // per-bucket token counts + per-term first sightings, cumulated by a
    // running sum over the ~log N bucket rows. Sub-linear vocab growth is
    // the healthy shape; linear growth flags ids/hashes leaking into text.
    Q("q252_heaps_curve",
      """WITH tok AS (SELECT doc_id,
        |   list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ts
        | FROM documents),
        | t AS (SELECT doc_id, unnest(ts) AS w FROM tok),
        | tb AS (SELECT CAST(len(bin(doc_id + 1)) - 1 AS BIGINT) AS b,
        |               CAST(count(1) AS BIGINT) AS nt FROM t GROUP BY 1),
        | vb AS (SELECT CAST(len(bin(fd + 1)) - 1 AS BIGINT) AS b,
        |               CAST(count(1) AS BIGINT) AS nv
        |        FROM (SELECT w, min(doc_id) AS fd FROM t GROUP BY 1) q GROUP BY 1)
        |SELECT tb.b,
        |  CAST(sum(tb.nt) OVER (ORDER BY tb.b) AS BIGINT) AS tokens,
        |  CAST(sum(coalesce(vb.nv, 0)) OVER (ORDER BY tb.b) AS BIGINT) AS vocab
        |FROM tb LEFT JOIN vb ON tb.b = vb.b ORDER BY tb.b""".stripMargin) { (s, d) =>
      heapsCurve(Tables.documents(s, d)).orderBy("b")
    },

    // RFC 9309 user-agent group scoping: graftbot's group REPLACES the
    // `*` group (a bot group with no /news/ rule ALLOWS /news/ even
    // though `*` bans it), an unknown agent falls back to `*`, and both
    // agents' verdict columns certify side by side — 127 of 150 verdicts
    // differ, so the scoping is observable, not incidental. The oracle
    // replays the group-boundary windows, the pick, and both scorings.
    Q("q256_robots_agent_groups",
      """WITH r_k AS (
        |  SELECT DISTINCT 'site' || (doc_id % 10) || '.com' AS domain,
        |    CAST(doc_id % 10 AS VARCHAR) AS k FROM documents),
        | g_robots AS (SELECT domain, k,
        |    'User-agent: graftbot' || chr(10) ||
        |    'Disallow: /read/' || chr(10) ||
        |    'Allow: /read/' || k || '/ok' || chr(10) ||
        |    chr(10) ||
        |    'User-agent: *' || chr(10) ||
        |    'Disallow: /news/' || chr(10) ||
        |    'Disallow: /read/' || k || chr(10) ||
        |    'Allow: /read/' || k || '/ok' || chr(10) ||
        |    'Crawl-delay: 1' || k || chr(10) AS txt
        |  FROM r_k),
        | g_lines AS (SELECT domain, s.p AS p, s.l FROM (
        |    SELECT domain, unnest(list_transform(range(1, len(ls) + 1),
        |      i -> {'p': CAST(i - 1 AS BIGINT), 'l': ls[i]})) AS s
        |    FROM (SELECT domain, string_split(txt, chr(10)) AS ls FROM g_robots) q0) q1),
        | g_fl AS (SELECT domain, p, l,
        |    lower(regexp_extract(l, '(?i)^[ \t]*user-agent[ \t]*:[ \t]*([^ \t#]+)', 1)) AS ua
        |  FROM g_lines),
        | g_grp AS (SELECT domain, p, l, ua,
        |    sum(CASE WHEN ua <> '' AND coalesce(pua, '') = '' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY domain ORDER BY p) AS grp
        |  FROM (SELECT *, lag(ua) OVER (PARTITION BY domain ORDER BY p) AS pua FROM g_fl) q),
        | g_agents AS (SELECT domain, grp,
        |    max(CASE WHEN ua = 'graftbot' THEN 1 ELSE 0 END) AS has_bot,
        |    max(CASE WHEN ua = '*' THEN 1 ELSE 0 END) AS has_star
        |  FROM g_grp WHERE ua <> '' GROUP BY 1, 2),
        | g_pick AS (SELECT domain,
        |    coalesce(min(CASE WHEN has_bot = 1 THEN grp END),
        |             min(CASE WHEN has_star = 1 THEN grp END)) AS bgrp,
        |    min(CASE WHEN has_star = 1 THEN grp END) AS sgrp
        |  FROM g_agents GROUP BY 1),
        | g_rules AS (SELECT domain, grp,
        |    lower(regexp_extract(l, '(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^ \t#]+)', 1)) AS kind,
        |    regexp_extract(l, '(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^ \t#]+)', 2) AS prefix
        |  FROM g_grp
        |  WHERE regexp_matches(l, '(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*[^ \t#]')),
        | g_cand AS (SELECT domain, '/read/' || m AS path
        |   FROM (SELECT DISTINCT 'site' || (doc_id % 10) || '.com' AS domain,
        |                doc_id % 13 AS m FROM documents) q
        |   UNION SELECT domain, '/read/' || k || '/ok' FROM r_k
        |   UNION SELECT domain, '/news/latest' FROM r_k),
        | g_bot AS (SELECT c.domain, c.path,
        |    max(CASE WHEN r.kind IS NOT NULL
        |        THEN 2 * len(r.prefix) + (CASE WHEN r.kind = 'allow' THEN 1 ELSE 0 END) END) AS score
        |  FROM g_cand c LEFT JOIN (SELECT r.* FROM g_rules r JOIN g_pick p
        |      ON r.domain = p.domain AND r.grp = p.bgrp) r
        |    ON c.domain = r.domain AND starts_with(c.path, r.prefix)
        |  GROUP BY 1, 2),
        | g_star AS (SELECT c.domain, c.path,
        |    max(CASE WHEN r.kind IS NOT NULL
        |        THEN 2 * len(r.prefix) + (CASE WHEN r.kind = 'allow' THEN 1 ELSE 0 END) END) AS score
        |  FROM g_cand c LEFT JOIN (SELECT r.* FROM g_rules r JOIN g_pick p
        |      ON r.domain = p.domain AND r.grp = p.sgrp) r
        |    ON c.domain = r.domain AND starts_with(c.path, r.prefix)
        |  GROUP BY 1, 2)
        |SELECT b.domain, b.path,
        |  coalesce(b.score % 2 = 1, TRUE) AS bot_allowed,
        |  coalesce(s.score % 2 = 1, TRUE) AS any_allowed
        |FROM g_bot b JOIN g_star s ON b.domain = s.domain AND b.path = s.path
        |ORDER BY b.domain, b.path""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val rk = docs.select(
          concat(lit("site"), col("doc_id") % 10, lit(".com")).as("domain"),
          (col("doc_id") % 10).cast("string").as("k")).distinct()
      val bodies = rk.select(col("domain"),
        robotsAgentFixture(col("k")).as("txt"))
      val cand = docs.select(
          concat(lit("site"), col("doc_id") % 10, lit(".com")).as("domain"),
          concat(lit("/read/"), col("doc_id") % 13).as("path"))
        .unionByName(rk.select(col("domain"),
          concat(lit("/read/"), col("k"), lit("/ok")).as("path")))
        .unionByName(rk.select(col("domain"), lit("/news/latest").as("path")))
        .distinct()
      def verdict(rules: DataFrame, out: String) = cand
        .join(rules.select(col("domain").as("rdomain"), col("kind"),
          col("prefix")), col("domain") === col("rdomain") &&
            col("path").startsWith(col("prefix")), "left")
        .groupBy("domain", "path")
        .agg(max(when(col("kind").isNotNull,
          length(col("prefix")).cast("long") * 2 +
            when(col("kind") === "allow", 1L).otherwise(0L))).as("score"))
        .select(col("domain"), col("path"),
          coalesce(col("score") % 2 === 1, lit(true)).as(out))
      verdict(robotsAgentRules(bodies, "graftbot"), "bot_allowed")
        .join(verdict(robotsAgentRules(bodies, "nosuchbot"), "any_allowed"),
          Seq("domain", "path"))
        .orderBy("domain", "path")
    },

    // Per-stratum domain caps with the survivor re-join the docstring
    // prescribes: at most 10 docs per source, chosen by the deterministic
    // md5(id) permutation (id tiebreak), then joined back to the corpus for
    // their payload columns. The oracle replays the identical window — both
    // engines agree on md5 hex and on binary string order, so the kept set
    // is value-exact.
    Q("q77_stratum_cap",
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      docs.join(capPerStratum(docs, "source", cap = 10).select("doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Snapshot content diff with NULL text planted on BOTH sides: the old
    // snapshot is every third doc (text nulled on doc_id % 30), the new
    // snapshot every second doc (text nulled on doc_id % 20). Anti-join
    // semantics: NULL-text new rows always pass, NULL-text old rows suppress
    // nothing — the oracle states exactly that, so a regression to Spark's
    // xxhash64(NULL)-equates-NULLs behavior hash-fails here.
    Q("q78_new_content",
      """WITH old AS (
        |  SELECT CASE WHEN doc_id % 30 = 0 THEN NULL ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 = 0),
        | neu AS (
        |  SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN NULL ELSE text END AS text
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT doc_id, text FROM neu
        |WHERE text IS NULL
        |   OR text NOT IN (SELECT text FROM old WHERE text IS NOT NULL)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "text")
      val old = base.filter(col("doc_id") % 3 === 0)
        .withColumn("text",
          when(col("doc_id") % 30 === 0, lit(null).cast("string")).otherwise(col("text")))
      val neu = base.filter(col("doc_id") % 2 === 0)
        .withColumn("text",
          when(col("doc_id") % 20 === 0, lit(null).cast("string")).otherwise(col("text")))
      newContent(neu, old).orderBy("doc_id")
    },

    // Capped-vocab surprisal — the 100 TB path of q75: the broadcast
    // vocabulary is cut to the top-16 words (the corpus has ~31, so the OOV
    // bucket really scores tokens here) and every OOV token scores against
    // the residual mass. Same integer floor-log2 arithmetic as q75, so the
    // compare is hash-exact; same per-lang aggregate shape.
    Q("q79_surprisal_capped",
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> x <> '')) AS g
        |  FROM documents),
        | v AS (SELECT g, count(1) AS cnt FROM w GROUP BY 1),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        | cut AS (SELECT g, cnt FROM v ORDER BY cnt DESC, g LIMIT 16),
        | cs AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS cutsum FROM cut),
        | s AS (
        |  SELECT doc_id, count(1) AS n_tok,
        |    CAST(sum(length(bin(total)) -
        |             length(bin(coalesce(cnt, total - cutsum)))) AS BIGINT) AS surp
        |  FROM w LEFT JOIN cut USING (g) CROSS JOIN tot CROSS JOIN cs
        |  GROUP BY 1)
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(coalesce(n_tok, 0)) AS BIGINT) AS n_tokens,
        |  CAST(sum(coalesce(surp, 0)) AS BIGINT) AS sum_surprisal,
        |  CAST(sum(CASE WHEN coalesce(surp, 0) <= 8 * coalesce(n_tok, 0)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_fluent
        |FROM documents LEFT JOIN s USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      unigramSurprisal(Tables.documents(s, d).select("doc_id", "lang", "text"),
        vocabCap = 16)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("surprisal").as("sum_surprisal"),
          sum(when(col("surprisal") <= col("n_tokens") * 8, 1L).otherwise(0L))
            .as("n_fluent"))
        .orderBy("lang")
    },

    // Composed curation pipeline — the pipeline caller for the domain-cap
    // and vocabulary operators (mirroring how q61 exercises the cleaning
    // chain): per-source domain caps → language-weighted mix sampling →
    // top-K vocabulary of the surviving corpus. Every stage is
    // deterministic, so DuckDB replays the whole chain end-to-end.
    Q("q80_curation_pipeline",
      """WITH capped AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |      row_number() OVER (PARTITION BY source
        |                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |    FROM documents) WHERE rn <= 15),
        | mixed AS (
        |  SELECT doc_id, text FROM capped
        |  WHERE CASE lang WHEN 'en' THEN true
        |                  WHEN 'de' THEN md5(CAST(doc_id AS VARCHAR)) < '8'
        |                  WHEN 'fr' THEN md5(CAST(doc_id AS VARCHAR)) < '4'
        |                  ELSE md5(CAST(doc_id AS VARCHAR)) < '2' END),
        | w AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |                                 x -> x <> '')) AS g FROM mixed),
        | v AS (SELECT g AS word, CAST(count(1) AS BIGINT) AS cnt FROM w GROUP BY 1),
        | c AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word LIMIT 25)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rnk,
        |       word, cnt
        |FROM c ORDER BY rnk""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val capped = docs
        .join(capPerStratum(docs, "source", cap = 15).select("doc_id"), Seq("doc_id"))
      val mixed = stratifiedMix(capped, "lang",
        Map("en" -> 16, "de" -> 8, "fr" -> 4), default16 = 2)
      vocabulary(mixed, topK = 25).orderBy("rnk")
    },

    // Boilerplate removal with planted boilerplate: every third doc gets a
    // nav-bar header line, every fourth a copyright footer line (~33%/25%
    // document frequency — far above the organic per-line df, far above the
    // minDf=100 threshold at any SF). The oracle recomputes document
    // frequencies over the same seeded corpus by string value and strips the
    // same lines, so the cleaned text and per-doc removal counts are
    // value-exact; the engine's xxhash64 keys differ only under a 2^-64
    // collision.
    Q("q81_boilerplate",
      """WITH seeded AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'NAV: home | about | contact' || chr(10) || text
        |         ELSE text END ||
        |    CASE WHEN doc_id % 4 = 0
        |         THEN chr(10) || 'Copyright 2026 Example Corp'
        |         ELSE '' END AS text
        |  FROM documents),
        | p AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS para FROM seeded),
        | hot AS (SELECT list(para) AS hp FROM (
        |   SELECT para FROM (
        |     SELECT para, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |   WHERE df >= 100))
        |SELECT doc_id,
        |  array_to_string(list_filter(string_split(text, chr(10)),
        |    x -> NOT coalesce(list_contains(hp, x), false)), chr(10)) AS text,
        |  CAST(len(string_split(text, chr(10))) -
        |       len(list_filter(string_split(text, chr(10)),
        |         x -> NOT coalesce(list_contains(hp, x), false))) AS BIGINT) AS n_removed
        |FROM seeded CROSS JOIN hot ORDER BY doc_id""".stripMargin) { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            concat(lit("NAV: home | about | contact\n"), col("text")))
            .otherwise(col("text")),
          when(col("doc_id") % 4 === 0,
            lit("\nCopyright 2026 Example Corp")).otherwise(lit("")))
          .as("text"))
      removeBoilerplate(seeded, minDf = 100)
        .select("doc_id", "text", "n_removed")
        .orderBy("doc_id")
    },

    // Markup-aware extraction (jusText-lite) feeding the q81 line-frequency
    // pass: each document is wrapped in a full HTML page (head/style,
    // script on 1-in-5 docs with fake markup inside, a link-only nav, an
    // entity-bearing heading, the body paragraph, an entity paragraph on
    // 1-in-7, an UNCLOSED tag on 1-in-11, a subscribe line in every doc,
    // a comment, a link-only footer), extracted by extractText, then the
    // corpus-frequency boilerplate pass strips the cross-doc subscribe
    // line. The oracle replays every strip declaratively — the same
    // regexes (RE2 ∩ java.util.regex semantics), the same entity chain,
    // the same integer density rule — so text and removal counts are
    // value-exact, covering: invisible-content removal, block
    // segmentation, dangling-tag fail-close, entity single-decode, and
    // the link-density drop of nav/footer.
    Q("q202_markup_extract",
      s"""WITH $htmlExtractionCtes,
 p AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS para FROM ext),
 hot AS (SELECT list(para) AS hp FROM (
   SELECT para FROM (
     SELECT para, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
   WHERE df >= 100))
SELECT doc_id,
  array_to_string(list_filter(string_split(text, chr(10)),
    x -> NOT coalesce(list_contains(hp, x), false)), chr(10)) AS text,
  CAST(len(string_split(text, chr(10))) -
       len(list_filter(string_split(text, chr(10)),
         x -> NOT coalesce(list_contains(hp, x), false))) AS BIGINT) AS n_removed
FROM ext CROSS JOIN hot ORDER BY doc_id""") { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        htmlFixture(col("doc_id"), col("text")).as("text"))
      removeBoilerplate(extractText(seeded), minDf = 100)
        .select("doc_id", "text", "n_removed")
        .orderBy("doc_id")
    },

    // URL canonicalization + registered-domain extraction over a fixture
    // that plants every rule: mixed-case scheme/host, default port on its
    // own scheme vs a kept non-default port, www., fragments, utm_*/gclid/
    // ref tracking params among real ones (which re-sort), trailing
    // slashes, empty paths, and four suffix families (plain .com, co.uk
    // ccTLD second-level, github.io shared hosting, com.au). The oracle
    // replays every regex and string op value-exact.
    Q("q203_url_canonical",
      """WITH seeded AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
        |    (CASE doc_id % 6
        |       WHEN 0 THEN 'EXAMPLE.com' WHEN 1 THEN 'news.Example.co.uk'
        |       WHEN 2 THEN 'www.Example.com:443' WHEN 3 THEN 'blog.example.com:8080'
        |       WHEN 4 THEN 'Example.github.io' ELSE 'shop.example.com.au:80' END) ||
        |    (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/Articles/' WHEN 2 THEN '/a/b' ELSE '/' END) ||
        |    (CASE doc_id % 5 WHEN 0 THEN ''
        |       WHEN 1 THEN '?utm_source=x&id=' || doc_id || '&utm_campaign=y'
        |       WHEN 2 THEN '?b=2&a=1' WHEN 3 THEN '?gclid=abc' ELSE '?ref=tw&q=Spark' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '#Section-2' ELSE '' END) AS url
        |  FROM documents),
        | parts AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM seeded),
        | comps AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_replace(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS rest
        |  FROM parts),
        | hostq AS (
        |  SELECT doc_id, scheme, rest,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END, '^www\.', '') AS host
        |  FROM comps),
        | built AS (
        |  SELECT doc_id, scheme, host,
        |    CASE WHEN regexp_replace(regexp_replace(rest, '\?.*$', ''), '/+$', '') = ''
        |         THEN '/' ELSE regexp_replace(regexp_replace(rest, '\?.*$', ''), '/+$', '') END AS path,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'gclid=')
        |        AND NOT starts_with(p, 'fbclid=') AND NOT starts_with(p, 'msclkid=')
        |        AND NOT starts_with(p, 'ref='))) AS params
        |  FROM hostq),
        | canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || path ||
        |      CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS url,
        |    regexp_replace(host, ':[0-9]+$', '') AS bare
        |  FROM built)
        |SELECT doc_id, url,
        |  CASE WHEN len(string_split(bare, '.')) >= 3
        |            AND array_to_string(string_split(bare, '.')[-2:], '.') IN
        |              ('co.uk','ac.uk','gov.uk','org.uk','co.jp','ne.jp','ac.jp',
        |               'com.au','net.au','org.au','co.nz','co.kr','com.br','com.mx',
        |               'co.in','com.cn','com.sg','com.tr','github.io','blogspot.com')
        |       THEN array_to_string(string_split(bare, '.')[-3:], '.')
        |       WHEN len(string_split(bare, '.')) >= 2
        |       THEN array_to_string(string_split(bare, '.')[-2:], '.')
        |       ELSE bare END AS domain
        |FROM canon ORDER BY doc_id""".stripMargin) { (s, d) =>
      seededUrls(s, d)
        .select(col("doc_id"), canonicalizeUrl(col("url")).as("url"))
        .withColumn("domain", urlDomain(col("url")))
        .orderBy("doc_id")
    },

    // Registered-domain strata driving the sampling machinery: cap 150
    // docs per domain (q77's deterministic md5 tiebreak), then temperature
    // mix at alpha = 0.5 over the capped strata (q82's 60-bit threshold
    // arithmetic) — the crawl-side "no single domain dominates the
    // training mix" policy, end to end from raw URL strings. The oracle
    // replays canonicalization, domain extraction, the cap ranking, and
    // the IEEE threshold arithmetic, so per-domain kept counts are exact.
    Q("q204_domain_mix",
      """WITH seeded AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
        |    (CASE doc_id % 6
        |       WHEN 0 THEN 'EXAMPLE.com' WHEN 1 THEN 'news.Example.co.uk'
        |       WHEN 2 THEN 'www.Example.com:443' WHEN 3 THEN 'blog.example.com:8080'
        |       WHEN 4 THEN 'Example.github.io' ELSE 'shop.example.com.au:80' END) ||
        |    (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/Articles/' WHEN 2 THEN '/a/b' ELSE '/' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '#Section-2' ELSE '' END) AS url
        |  FROM documents),
        | hostq AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport
        |  FROM seeded),
        | dom0 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END, '^www\.', ''), ':[0-9]+$', '') AS bare
        |  FROM hostq),
        | dom AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(bare, '.')) >= 3
        |              AND array_to_string(string_split(bare, '.')[-2:], '.') IN
        |                ('co.uk','ac.uk','gov.uk','org.uk','co.jp','ne.jp','ac.jp',
        |                 'com.au','net.au','org.au','co.nz','co.kr','com.br','com.mx',
        |                 'co.in','com.cn','com.sg','com.tr','github.io','blogspot.com')
        |         THEN array_to_string(string_split(bare, '.')[-3:], '.')
        |         WHEN len(string_split(bare, '.')) >= 2
        |         THEN array_to_string(string_split(bare, '.')[-2:], '.')
        |         ELSE bare END AS domain
        |  FROM dom0),
        | capped AS (
        |  SELECT doc_id, domain FROM (
        |    SELECT doc_id, domain,
        |      row_number() OVER (PARTITION BY domain
        |                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |    FROM dom) WHERE rn <= 150),
        | c AS (SELECT domain, count(1) AS c FROM capped GROUP BY 1),
        | m AS (SELECT min(c) AS cmin FROM c),
        | r AS (SELECT domain,
        |         CAST(floor(sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE)) *
        |                    1152921504606846976) AS BIGINT) AS thr
        |       FROM c CROSS JOIN m),
        | kept AS (
        |  SELECT d.domain FROM capped d JOIN r USING (domain)
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        < thr)
        |SELECT domain, count(1) AS n_docs FROM kept GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dom = seededUrls(s, d, withQuery = false)
        .select(col("doc_id"), urlDomain(canonicalizeUrl(col("url"))).as("domain"))
      temperatureMix(
          dom.join(capPerStratum(dom, "domain", cap = 150).select("doc_id"), Seq("doc_id")),
          "domain")
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    },

    // The crawl's web graph, end to end: outlink extraction from raw
    // markup (extractLinks — attribute case, both quote styles, relative
    // and mailto links dropped by the absolute-URL filter), q203's
    // canonicalization, registered-domain collapse (the subdomain link
    // merges into its pay-level domain), the DISTINCT domain-level edge
    // relation, and q207's dangling-aware integer PageRank over it (the
    // .co.uk hosts are pure sinks — their rank recycles as dangling
    // mass). The oracle replays every stage CTE-for-CTE and the FULL rank
    // table hash-compares, so one mis-extracted href, mis-canonicalized
    // host, or mis-ranked domain fails. This is the composition a crawl
    // pipeline actually runs: page → links → host graph → authority.
    Q("q236_link_graph",
      "WITH " + linkDomainCtes + """,
        | edges AS (
        |  SELECT DISTINCT 'site' || (doc_id % 10) || '.com' AS src, domain AS dst
        |  FROM dom WHERE 'site' || (doc_id % 10) || '.com' <> domain),
        | deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        | e AS (SELECT p.src, p.dst, d.outdeg FROM edges p JOIN deg d USING (src)),
        | nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
        | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        | dang AS (SELECT node FROM nodes ANTI JOIN deg ON node = deg.src),
        |""".stripMargin +
      s" r0 AS (SELECT node, CAST(${Graph.Scale} AS BIGINT) AS rank FROM nodes),\n" +
      (1 to Graph.DirIters).map(Graph.dirIterSql).mkString(",\n") +
      s"\nSELECT node, rank FROM r${Graph.DirIters} ORDER BY node") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val links = docs
        .select(col("doc_id"),
          explode(extractLinks(linkFixture(col("doc_id")))).as("url"))
        .filter(col("url").rlike("(?i)^https?://"))
      val edges = links.select(
          concat(lit("site"), col("doc_id") % 10, lit(".com")).as("src"),
          urlDomain(canonicalizeUrl(col("url"))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      Graph.pageRankDirected(edges, Graph.DirIters)
        .select(col("node"), col("rank").cast("long").as("rank"))
        .orderBy("node")
    },

    // TrustRank over the crawl domain graph: link multiplicity between
    // registered domains is the edge weight (symmetric encoding), the
    // trusted whitelist is the site{0,3,6,9}.com seeds, and 3 weighted
    // seed-restart rounds propagate trust — heavily-linked neighbors of
    // the whitelist inherit more than incidental ones, islands stay 0.
    // The oracle replays extraction, canonicalization, domain collapse,
    // weight aggregation, and every weighted round; full table compares.
    Q("q244_trustrank",
      "WITH " + linkDomainCtes + ",\n " + trustCtes +
        "\nSELECT node, rank FROM t3 ORDER BY node") { (s, d) =>
      crawlTrust(Tables.documents(s, d).select("doc_id"))
        .select(col("node"), col("rank").cast("long").as("rank"))
        .orderBy("node")
    },

    // Temperature sampling at alpha = 0.5 over language strata: the oracle
    // recomputes the sqrt(c_min/c_s) thresholds and the 60-bit md5 prefixes
    // — every arithmetic step (int divide-to-double, sqrt, multiply by 2^60,
    // floor) is IEEE correctly-rounded, so the kept set is value-exact
    // across engines, not approximately so.
    Q("q82_temperature_mix",
      """WITH c AS (SELECT lang, count(1) AS c FROM documents GROUP BY 1),
        | m AS (SELECT min(c) AS cmin FROM c),
        | r AS (SELECT lang,
        |         CAST(floor(sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE)) *
        |                    1152921504606846976) AS BIGINT) AS thr
        |       FROM c CROSS JOIN m),
        | kept AS (
        |  SELECT d.lang, d.text FROM documents d JOIN r USING (lang)
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        < thr)
        |SELECT lang, count(1) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      temperatureMix(Tables.documents(s, d), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"))
        .orderBy("lang")
    },

    // Sliding-window chunking at 64 tokens / 16 overlap: every chunk row —
    // index, token count, and the rejoined chunk text itself — is
    // recomputed by the oracle, so window arithmetic and slicing semantics
    // are value-exact, not just counted.
    Q("q84_chunking",
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        | k AS (
        |  SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1))) AS k
        |  FROM w),
        | c AS (
        |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |         ws[k * 48 + 1 : k * 48 + 64] AS cw
        |  FROM k WHERE k * 48 < len(ws))
        |SELECT doc_id, chunk_idx,
        |  CAST(len(cw) AS BIGINT) AS n_tokens,
        |  array_to_string(cw, ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      chunkByTokens(Tables.documents(s, d).select("doc_id", "text"),
        maxTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // Duplicated-span removal with a planted cross-doc span: every doc with
    // doc_id % 7 = 3 gets the same 11-token span appended. 'dup' and 'hash'
    // are md5-boundary tokens (md5(w) < '1'), so the span's interior chunk —
    // "spark sort merge join scan filter batch stream vector hash", 10
    // tokens, all interiors non-boundary — is byte-identical in every
    // planted doc regardless of what precedes it (CDC re-synchronization).
    // The winner (min doc_id, then chunk position) keeps it; every other
    // occurrence is cut and the doc rebuilt. The oracle replays the whole
    // pipeline — boundary flags, prefix-count chunk ids, dup inventory,
    // min-occurrence winner, text rebuild — by string value, so chunking
    // arithmetic AND the rebuilt text are value-exact (the engine's
    // xxhash64 span keys differ only under a 2^-64 collision). Organic
    // >= 8-token duplicate chunks the word-salad corpus happens to contain
    // are removed identically by both engines — the plant guarantees
    // coverage, it does not bound the result.
    Q("q87_span_dedup",
      """WITH seeded AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3
        |      THEN text || ' dup spark sort merge join scan filter batch stream vector hash'
        |      ELSE text END AS text
        |  FROM documents),
        | w AS (SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |       FROM seeded),
        | tok AS (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i FROM w),
        | t2 AS (SELECT doc_id, CAST(i AS INT) AS i, ws[CAST(i AS INT)] AS tk FROM tok),
        | cid AS (
        |  SELECT doc_id, i, tk,
        |    coalesce(sum(CASE WHEN md5(tk) < '1' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |  FROM t2),
        | ch AS (
        |  SELECT doc_id, c AS chunk_idx, count(1) AS n_tok,
        |         string_agg(tk, ' ' ORDER BY i) AS chunk
        |  FROM cid GROUP BY 1, 2),
        | r AS (SELECT doc_id, chunk_idx,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |       FROM ch WHERE n_tok >= 8),
        | removed AS (SELECT doc_id, chunk_idx FROM r WHERE rn >= 2),
        | keep AS (
        |  SELECT ch.doc_id, ch.chunk_idx, ch.chunk
        |  FROM ch LEFT JOIN removed rm
        |    ON rm.doc_id = ch.doc_id AND rm.chunk_idx = ch.chunk_idx
        |  WHERE rm.doc_id IS NULL),
        | rb AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |        FROM keep GROUP BY 1),
        | cnt AS (SELECT doc_id, count(1) AS n_removed FROM removed GROUP BY 1)
        |SELECT s.doc_id, coalesce(rb.text, '') AS text,
        |       CAST(coalesce(cnt.n_removed, 0) AS BIGINT) AS n_removed
        |FROM seeded s
        |LEFT JOIN rb ON rb.doc_id = s.doc_id
        |LEFT JOIN cnt ON cnt.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(col("text"),
            lit(" dup spark sort merge join scan filter batch stream vector hash")))
          .otherwise(col("text")).as("text"))
      dedupSpans(seeded, minSpan = 8)
        .select("doc_id", "text", "n_removed")
        .orderBy("doc_id")
    },

    // Cross-snapshot NEAR-dup diff with a planted re-crawl: old snapshot =
    // documents; the new snapshot re-crawls every 10th doc unchanged
    // (dropped — identical text collides in the identity pseudo-band with
    // Jaccard exactly 1), every doc_id%10==5 doc with its first token lost
    // (the trivially-edited re-crawl: J = (m-1)/m >= 0.875 at the corpus's
    // >= 10-token docs, far over the 0.8 threshold — dropped; the per-doc
    // band-miss odds at that J are ~1e-6, vs the EXACT diff q78 which
    // re-ingests these forever), and every doc_id%10==7 doc token-REVERSED
    // (genuinely changed content: reversed 3-gram shingles share almost
    // nothing with the original, J << 0.8 — kept). The oracle replays the
    // drop rule by exhaustive shingle Jaccard; keeps are deterministic
    // regardless of band luck because the exact-Jaccard verify, not the
    // bands, decides every drop (bands only generate candidates).
    Q("q89_new_content_neardup",
      """WITH old AS (SELECT doc_id, trim(text) AS text FROM documents),
        | nw AS (
        |  SELECT doc_id + 300000 AS doc_id, text FROM old WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text[instr(text, ' ') + 1:]
        |  FROM old WHERE doc_id % 10 = 5
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |    array_to_string(list_reverse(string_split_regex(text, '\s+')), ' ')
        |  FROM old WHERE doc_id % 10 = 7),
        | shn AS (SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(t) - 3, 0) + 2),
        |           i -> array_to_string(t[i:i+2], ' '))) AS sh
        |         FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM nw)),
        | sho AS (SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(t) - 3, 0) + 2),
        |           i -> array_to_string(t[i:i+2], ' '))) AS sh
        |         FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM old)),
        | dropped AS (
        |  SELECT DISTINCT n.doc_id
        |  FROM shn n, sho o
        |  WHERE CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE) /
        |        (len(n.sh) + len(o.sh) - len(list_intersect(n.sh, o.sh))) >= 0.8)
        |SELECT doc_id, text FROM nw
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // trim for the same Java-vs-DuckDB trailing-empty-token reason as q70
      val old = Tables.documents(s, d)
        .select(col("doc_id"), trim(col("text")).as("text"))
      val exactRecrawl = old.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 300000)
      val editedRecrawl = old.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      val freshDocs = old.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("text", concat_ws(" ",
          reverse(split(col("text"), graft.expressions.Ws.Regex))))
      val newDocs = exactRecrawl.unionByName(editedRecrawl).unionByName(freshDocs)
      newContentNearDup(newDocs, old, threshold = 0.8)
        .orderBy("doc_id")
    },

    // Deterministic 80/10/10 corpus split, per-document: the engine's
    // md5-prefix bucketing against driver-computed integer thresholds must
    // place every doc exactly where the oracle's replay of the same
    // literals does. The property under test is the serving guarantee —
    // split membership is a pure function of the id (stable across corpus
    // growth and re-runs), not a stored assignment.
    Q("q97_train_split", {
      val Seq((_, t1), (_, t2), _) = splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""SELECT doc_id,
         | CASE WHEN u < $t1 THEN 'train'
         |      WHEN u < $t2 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      assignSplit(Tables.documents(s, d).select("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    // Deterministic training shuffle: every engine must produce the SAME
    // (shard, pos) for every doc — the md5 permutation is the cross-engine
    // RNG. The oracle replays the whole permutation arithmetic; a single
    // transposed position anywhere hash-fails.
    Q("q109_training_shuffle",
      """SELECT doc_id, shard, pos FROM (
        |  SELECT doc_id, u % 8 AS shard,
        |    row_number() OVER (PARTITION BY u % 8 ORDER BY u, doc_id) AS pos
        |  FROM (SELECT doc_id,
        |          CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      shuffleShards(Tables.documents(s, d).select("doc_id"), nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // Token-budgeted mixture: the per-language budgets bind (every listed
    // stratum holds more tokens than its budget at both verify SFs), zh is
    // deliberately absent from the spec (whitelist semantics — all its
    // docs drop), and the admission ledger itself is certified: doc set,
    // per-doc token counts, and the inclusive global running total in the
    // md5 admission order. The engine computes that total as a bucketed
    // two-level prefix sum (strata never serialize through one task); the
    // oracle computes it as one plain window per stratum — bit-equal by
    // construction, so any bucketing/offset/order error hash-fails.
    Q("q226_token_budget_mix",
      """WITH b(lang, budget) AS (VALUES ('en', 4000), ('de', 1500), ('es', 1800), ('fr', 1600)),
        | toks AS (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |                                  x -> x <> '')), 0) AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
        |  FROM documents),
        | cums AS (
        |  SELECT doc_id, lang, n_tokens, budget,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY u, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM toks JOIN b USING (lang))
        |SELECT doc_id, lang, n_tokens, cum_tokens
        |FROM cums WHERE cum_tokens - n_tokens < budget
        |ORDER BY lang, cum_tokens, doc_id""".stripMargin) { (s, d) =>
      tokenBudgetMix(Tables.documents(s, d).select("doc_id", "lang", "text"),
          "lang", Seq("en" -> 4000L, "de" -> 1500L, "es" -> 1800L, "fr" -> 1600L))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy("lang", "cum_tokens", "doc_id")
    },

    // CCNet head/middle/tail routing over a corpus with PLANTED fluency
    // spread: doc_id % 7 copies of a doc-unique rare token salt each
    // document (the fixture corpus's organic floor-log2 surprisal is
    // near-constant, which is itself informative — integer bits compress
    // small fluency differences — so the fixture plants the spread the
    // mechanism exists to split). The full per-document relation is
    // certified: LM score, integer per-token key, and bucket — the oracle
    // replays the vocabulary build, the bits arithmetic, the histogram
    // cumsum, and both exact-rank boundaries, so a single mis-bucketed
    // document hash-fails. Buckets land within one doc of perfect terciles
    // per language at both verify SFs (planted keys are almost all
    // distinct); ties share a bucket by construction.
    Q("q229_perplexity_buckets",
      """WITH fix AS (
        |  SELECT doc_id, lang,
        |    text || repeat(' u' || CAST(doc_id AS VARCHAR), CAST(doc_id % 7 AS INT)) AS text
        |  FROM documents),
        | w AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |                                    x -> x <> '')) AS g
        |  FROM fix),
        | v AS (SELECT g, count(1) AS cnt FROM w GROUP BY 1),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        | s AS (
        |  SELECT doc_id, count(1) AS n_tok,
        |         CAST(sum(length(bin(total)) - length(bin(cnt))) AS BIGINT) AS surp
        |  FROM w JOIN v USING (g) CROSS JOIN tot GROUP BY 1),
        | keyed AS (
        |  SELECT f.doc_id, f.lang,
        |    CAST(coalesce(s.surp, 0) AS BIGINT) AS surprisal,
        |    CASE WHEN coalesce(s.n_tok, 0) = 0 THEN 0
        |         ELSE (coalesce(s.surp, 0) * 1048576) // s.n_tok END AS ppl_key
        |  FROM fix f LEFT JOIN s USING (doc_id)),
        | hist AS (SELECT lang, ppl_key, count(1) AS c FROM keyed GROUP BY 1, 2),
        | cums AS (
        |  SELECT lang, ppl_key,
        |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY ppl_key
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist),
        | bounds AS (
        |  SELECT lang,
        |    min(CASE WHEN cum * 3 >= n THEN ppl_key END) AS k1,
        |    min(CASE WHEN cum * 3 >= 2 * n THEN ppl_key END) AS k2
        |  FROM cums GROUP BY 1)
        |SELECT k.doc_id, k.lang, k.surprisal, k.ppl_key,
        |  CASE WHEN k.ppl_key <= b.k1 THEN 'head'
        |       WHEN k.ppl_key <= b.k2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM keyed k JOIN bounds b USING (lang)
        |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      val fix = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        concat(col("text"),
          expr("repeat(concat(' u', CAST(doc_id AS STRING)), CAST(doc_id % 7 AS INT))"))
          .as("text"))
      perplexityBuckets(fix)
        .select(col("doc_id"), col("lang"), col("surprisal"), col("ppl_key"),
          col("bucket"))
        .orderBy("doc_id")
    },
  )
}

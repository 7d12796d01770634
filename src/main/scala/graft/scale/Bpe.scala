package graft.scale

import graft.core.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training on top of [[Curation.vocabulary]] — the
  * step that turns the word-frequency table into an actual subword vocab
  * (Sennrich et al. 2016's algorithm: repeatedly merge the most frequent
  * adjacent symbol pair, ties broken deterministically).
  *
  * Scale shape: the only corpus-sized job is the word count (one word-keyed
  * shuffle with map-side partials, then the K-bounded [[Curation.cutVocab]]
  * TakeOrdered) — exactly [[Curation.vocabulary]]'s plan. The merge loop
  * itself runs on the driver over those K (word, count) rows: BPE training
  * state is the word-frequency table, not the corpus, so at 100 TB the loop
  * is the same milliseconds it is here (the
  * [[Similarity.trainCentroids]] bounded-metadata class). Each round is one
  * pass over ≤ K segmentations: count adjacent pairs weighted by word count,
  * pick the max by (count desc, left, right) — a total order, so the merge
  * list is value-exact on any engine — and apply it greedily left-to-right.
  *
  * Greedy application: scan the symbol sequence once, merging at the first
  * eligible position and skipping the consumed symbol — so in a run of
  * repeated symbols (`l == r`, "aaaa" under (a,a)) merges never overlap:
  * [aa, aa], not [aa, a? …]. The DuckDB oracle replays the same rule via the
  * run-parity formulation (a position merges iff it matches and an even
  * number of consecutive matches immediately precede it).
  */
object Bpe {

  /** One greedy left-to-right merge pass: every non-overlapping (l, r)
    * adjacency becomes the concatenated symbol.
    */
  private[scale] def applyMerge(seg: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < seg.length) {
      if (i + 1 < seg.length && seg(i) == l && seg(i + 1) == r) {
        out += (l + r); i += 2
      } else {
        out += seg(i); i += 1
      }
    }
    out.toArray
  }

  /** Segment one word under an ordered merge list — the tokenizer side of
    * the round trip: start from code points (never UTF-16 chars — a
    * `split("")` segmentation cuts astral characters into lone surrogates
    * and diverges from the oracle's per-code-point `word[i:i]`; see
    * [[graft.expressions.BpeSegment.codePoints]]), apply each merge in
    * rank order. Concatenating the result always re-yields the word
    * (BpeSpec law).
    */
  def segmentWord(word: String, merges: Seq[(String, String)]): Array[String] =
    merges.foldLeft(graft.expressions.BpeSegment.codePoints(word)) {
      case (seg, (l, r)) => applyMerge(seg, l, r)
    }

  /** The corpus word-frequency relation (`__w`, `__cnt`) — the ONE
    * corpus-sized job of the BPE surface (map-side partial counts, one
    * word-keyed shuffle). Callers that need it more than once
    * ([[bpeTokenCounts]]) materialize it rather than re-shuffling.
    */
  private[scale] def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      // Ws.segment: the unicode-script fallback (Han/Kana → one token per
      // codepoint, Thai → one per run; identity on ASCII) — ONE site
      // serves every trainer built on the word-count relation
      .select(explode(filter(
        split(graft.expressions.Ws.segment(col(textCol)), graft.expressions.Ws.Regex),
        w => w =!= "")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))

  /** Train `nMerges` BPE merges over the top-`topKWords` corpus vocabulary.
    * Output: (rnk, lhs, rhs, cnt) — the merge list in training order with
    * the pair's weighted count at selection time. Stops early (fewer rows)
    * only if the vocabulary runs out of adjacent pairs — impossible at any
    * real K and merge budget, but the loop is total rather than partial.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 12, topKWords: Int = 200,
                textCol: String = "text"): DataFrame =
    bpeMergesFromCounts(wordCounts(docs, textCol), nMerges, topKWords)

  /** Tie-breaks compare UTF-8 BYTES, not UTF-16 code units: the DuckDB
    * oracle's ORDER BY and Spark's own string comparisons are both
    * byte-ordered, and Scala's Ordering.String would rank a
    * supplementary-plane symbol (surrogates, 0xD800-range units) BELOW a
    * U+E000..U+FFFF symbol while UTF-8 ranks it above — a count tie between
    * two such symbols would silently pick different merges per engine.
    * Unreachable on an ASCII corpus, but "value-exact on any engine" must
    * not depend on the corpus staying ASCII.
    */
  private[scale] val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  /** [[bpeMerges]] over a precomputed (`__w`, `__cnt`) relation — lets a
    * caller that already paid the word-count shuffle reuse it.
    */
  def bpeMergesFromCounts(counts: DataFrame, nMerges: Int, topKWords: Int): DataFrame = {
    require(nMerges >= 1 && topKWords >= 1)
    val spark = counts.sparkSession
    val vocab: Array[(String, Long)] = Curation.cutVocab(counts, topKWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    var segs: Array[(Array[String], Long)] =
      vocab.map { case (w, c) => (graft.expressions.BpeSegment.codePoints(w), c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= nMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (s, c) =>
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), c) = pairCounts.minBy { case ((l, r), c) => (-c, l, r) }(
          Ordering.Tuple3(Ordering.Long, Utf8Order, Utf8Order))
        merges += ((rank, l, r, c))
        segs = segs.map { case (s, wc) => (applyMerge(s, l, r), wc) }
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rnk", "lhs", "rhs", "cnt")
  }

  /** Tokenize with a trained merge list as a Column: characters merged in
    * rank order through the native [[graft.expressions.BpeSegment]] kernel
    * (merge list as a reference object, never a plan literal).
    */
  def bpeSegmentCol(word: org.apache.spark.sql.Column,
                    merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.BpeSegment(
        org.apache.spark.sql.GraftColumnBridge.expression(word),
        merges.map(_._1).toArray, merges.map(_._2).toArray))

  /** Corpus subword frequencies under a freshly trained merge list — the
    * train-then-tokenize round trip as one operator. Scale shape: the
    * corpus-sized work is ONE word-count shuffle, materialized and shared
    * by training and tokenization (localCheckpoint — its blocks free with
    * the query); tokenization then runs over the DISTINCT-word relation
    * (segment once per word, weight by its count — never once per
    * occurrence), and the subword aggregation is K-bounded input (|vocab| ×
    * avg segments). Output (rnk, subword, cnt), cut to `topK` by
    * (count desc, subword).
    */
  def bpeTokenCounts(docs: DataFrame, nMerges: Int = 12, topKWords: Int = 200,
                     topK: Int = 50, textCol: String = "text",
                     policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val words = policy.checkpoint(wordCounts(docs, textCol))
    val merges = bpeMergesFromCounts(words, nMerges, topKWords)
      .orderBy("rnk").select("lhs", "rhs").as[(String, String)].collect().toSeq
    words
      .select(explode(bpeSegmentCol(col("__w"), merges)).as("subword"), col("__cnt"))
      .groupBy("subword").agg(sum("__cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("subword")).limit(topK)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("subword"))).cast("long"))
      .select(col("rnk"), col("subword"), col("cnt"))
  }

  /** The production composition the pieces were built for: train BPE merges,
    * tokenize every document to SUBWORD IDS against the trained vocab (the
    * top-`vocabSize` subwords by corpus frequency, id = rank; anything
    * outside maps to UNK id 0), and pack the id sequences into
    * `budget`-token training rows ([[Curation.packSequences]]'s shard/
    * cumsum arithmetic, driven by the REAL tokenized length instead of the
    * word-count proxy). Output is per shard: docs, total ids, packed
    * sequence count, and the sum of all ids — the id sum pins the vocab
    * lookup itself (a wrong id anywhere shifts it).
    *
    * Scale shape: corpus-sized work is ONE word-count shuffle (shared with
    * training via localCheckpoint) plus one occurrence-level join of narrow
    * (doc_id, word) rows against the per-DISTINCT-word stats — the text
    * itself never shuffles, the BPE kernel runs once per distinct word
    * (never per occurrence), and the driver holds only the K-bounded merge
    * list and vocab map.
    */
  def tokenIdPack(docs: DataFrame, nMerges: Int = 12, topKWords: Int = 200,
                  vocabSize: Int = 50, budget: Int = 2048, nShards: Int = 64,
                  idCol: String = "doc_id", textCol: String = "text",
                  policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val words = policy.checkpoint(wordCounts(docs, textCol))
    val merges = bpeMergesFromCounts(words, nMerges, topKWords)
      .orderBy("rnk").select("lhs", "rhs").as[(String, String)].collect().toSeq
    val subs = bpeSegmentCol(col("__w"), merges)
    // vocab ids: rank by (corpus frequency desc, subword) — K-bounded collect
    val vocabIds: Map[String, Long] = words
      .select(explode(subs).as("subword"), col("__cnt"))
      .groupBy("subword").agg(sum("__cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("subword")).limit(vocabSize)
      .collect().zipWithIndex
      .map { case (r, i) => (r.getString(0), (i + 1).toLong) }.toMap
    val vocabMap = typedLit(vocabIds)
    // per-DISTINCT-word stats: tokenized length + id sum (segment once per
    // word; occurrences inherit by join)
    val wstat = words.select(col("__w").as("word"),
      size(subs).cast("long").as("n_sub"),
      aggregate(subs, lit(0L),
        (acc, x) => acc + coalesce(element_at(vocabMap, x), lit(0L))).as("idsum"))
    val wd = docs.select(col(idCol),
      explode(filter(split(col(textCol), graft.expressions.Ws.Regex),
        w => w =!= "")).as("word"))
    val dstat = wd.join(wstat, "word")
      .groupBy(idCol).agg(sum("n_sub").as("toks"), sum("idsum").as("idsum"))
    val all = docs.select(col(idCol), (col(idCol) % nShards).as("shard"))
      .join(dstat, Seq(idCol), "left")
      .select(col(idCol), col("shard"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("idsum"), lit(0L)).as("idsum"))
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all
      .withColumn("cum", sum("toks").over(w))
      .withColumn("seq",
        floor((col("cum") - col("toks")) / lit(budget.toDouble)).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        (max("seq") + 1).as("n_seqs"), sum("idsum").as("id_sum"))
      .orderBy("shard")
  }

  // ---- declared queries ----------------------------------------------------

  /** The greedy-application CTE body (run-parity selection — see object
    * doc): rebuild segmentation table `prev` as `out` under merge pair
    * `m$i`. Shared by the training chain (seg over the cut vocabulary) and
    * q92's tokenize chain (sega over ALL distinct words).
    */
  private def applySql(prev: String, out: String, i: Int): String =
    s"""
 $out AS MATERIALIZED (
   SELECT word, cnt,
     list_filter(
       list_transform(range(1, len(s)+1), i ->
         CASE WHEN i < len(s) AND sel[i] THEN s[i] || s[i+1]
              WHEN i > 1 AND sel[i-1] THEN NULL
              ELSE s[i] END),
       x -> x IS NOT NULL) AS s
   FROM (
     SELECT word, cnt, s,
       list_transform(range(1, greatest(len(s), 1)), p ->
         m[p] AND (p - 1 - coalesce(list_max(list_filter(range(1, p), q -> NOT m[q])), 0)) % 2 = 0) AS sel
     FROM (
       SELECT word, cnt, s,
         list_transform(range(1, greatest(len(s), 1)), p ->
           p < len(s) AND s[p] = ml AND s[p+1] = mr) AS m
       FROM $prev, (SELECT l AS ml, r AS mr FROM m$i))))"""

  /** One DuckDB merge round: pair counts over the previous segmentation,
    * deterministic argmax, run-parity greedy application (see object doc).
    * Every chained CTE is MATERIALIZED: each round references the previous
    * segmentation twice (pair count + rebuild), so DuckDB's default CTE
    * inlining would expand the word-count subtree 2^rounds times.
    */
  private def roundSql(i: Int): String = {
    val prev = s"seg${i - 1}"
    // Pair exhaustion: the engine's training loop stops early and tokenizes
    // with the shorter merge list. An EMPTY m$i here would instead
    // cross-join every later round to zero rows, silently wiping the whole
    // oracle — so exhaustion falls back to a sentinel no-op merge (symbols
    // are whitespace-split, so a space can never match an adjacency): the
    // tokenize chains stay value-identical to the engine's early stop,
    // while q90's merge-list output diverges LOUDLY (a visible sentinel row
    // vs a missing engine row) instead of as a 0-row mystery.
    s"""
 pc$i AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, sum(cnt) AS c
         FROM (SELECT cnt, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS pr FROM $prev)
         GROUP BY 1, 2),
 m$i AS MATERIALIZED (
   SELECT * FROM (SELECT l, r, CAST(c AS BIGINT) AS c FROM pc$i ORDER BY c DESC, l, r LIMIT 1)
   UNION ALL
   SELECT ' ', ' ', CAST(0 AS BIGINT) WHERE NOT EXISTS (SELECT 1 FROM pc$i)),""" +
    applySql(prev, s"seg$i", i)
  }

  private val NMerges = 12
  private val TopK = 200
  private val TopSubwords = 50

  /** Shared oracle prefix: corpus word counts, the training cut, char
    * segmentation, and the `NMerges` unrolled selection rounds.
    */
  private def trainingChainSql: String = {
    val rounds = (1 to NMerges).map(roundSql).mkString(",")
    s"""WITH w AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> '')) AS g
  FROM documents),
 v AS MATERIALIZED (SELECT g AS word, CAST(count(1) AS BIGINT) AS cnt FROM w GROUP BY 1),
 cut AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word LIMIT $TopK),
 seg0 AS MATERIALIZED (SELECT word, cnt,
            list_transform(range(1, length(word)+1), i -> word[i:i]) AS s
          FROM cut),$rounds"""
  }

  private val mergesOracle: String = {
    val union = (1 to NMerges)
      .map(i => s"SELECT $i AS rnk, l AS lhs, r AS rhs, c AS cnt FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""$trainingChainSql
SELECT CAST(rnk AS BIGINT) AS rnk, lhs, rhs, cnt FROM (
  $union
) ORDER BY rnk"""
  }

  private val tokenizeOracle: String = {
    // the tokenize chain re-applies each selected merge to ALL distinct
    // words (sega), independent of the training cut (seg)
    val applies = (1 to NMerges).map(i => applySql(s"sega${i - 1}", s"sega$i", i)).mkString(",")
    s"""$trainingChainSql,
 sega0 AS MATERIALIZED (SELECT word, cnt,
            list_transform(range(1, length(word)+1), i -> word[i:i]) AS s
          FROM v),$applies,
 sub AS (SELECT unnest(s) AS subword, cnt FROM sega$NMerges),
 agg AS (SELECT subword, CAST(sum(cnt) AS BIGINT) AS cnt FROM sub GROUP BY 1),
 cut2 AS (SELECT subword, cnt FROM agg ORDER BY cnt DESC, subword LIMIT $TopSubwords)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, subword) AS BIGINT) AS rnk,
       subword, cnt
FROM cut2 ORDER BY rnk"""
  }

  private val packOracle: String = {
    val applies = (1 to NMerges).map(i => applySql(s"sega${i - 1}", s"sega$i", i)).mkString(",")
    s"""$trainingChainSql,
 sega0 AS MATERIALIZED (SELECT word, cnt,
            list_transform(range(1, length(word)+1), i -> word[i:i]) AS s
          FROM v),$applies,
 sub AS (SELECT unnest(s) AS subword, cnt FROM sega$NMerges),
 agg AS (SELECT subword, CAST(sum(cnt) AS BIGINT) AS cnt FROM sub GROUP BY 1),
 cut2 AS (SELECT subword, cnt FROM agg ORDER BY cnt DESC, subword LIMIT $TopSubwords),
 vid AS (SELECT subword,
           CAST(row_number() OVER (ORDER BY cnt DESC, subword) AS BIGINT) AS id
         FROM cut2),
 flat AS (SELECT word, unnest(s) AS subword FROM sega$NMerges),
 wstat AS MATERIALIZED (
   SELECT f.word, CAST(count(1) AS BIGINT) AS n_sub,
     CAST(sum(coalesce(vi.id, 0)) AS BIGINT) AS idsum
   FROM flat f LEFT JOIN vid vi USING (subword) GROUP BY f.word),
 wd AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS word
        FROM documents),
 dstat AS (SELECT doc_id, sum(n_sub) AS toks, sum(idsum) AS idsum
           FROM wd JOIN wstat USING (word) GROUP BY doc_id),
 alldocs AS (SELECT d.doc_id, d.doc_id % 64 AS shard,
               coalesce(ds.toks, 0) AS toks, coalesce(ds.idsum, 0) AS idsum
             FROM documents d LEFT JOIN dstat ds USING (doc_id)),
 c AS (SELECT shard, doc_id, toks, idsum,
         sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
       FROM alldocs)
SELECT shard, count(1) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
  CAST(max(CAST(floor((cum - toks) / 2048.0) AS BIGINT)) + 1 AS BIGINT) AS n_seqs,
  CAST(sum(idsum) AS BIGINT) AS id_sum
FROM c GROUP BY 1 ORDER BY 1"""
  }

  val queries: Seq[Q] = Seq(

    // BPE merge training over the corpus vocabulary: 12 deterministic merge
    // rounds on the top-200 words — the merge LIST itself is the output
    // (rank, pair, weighted count), value-exact against a DuckDB replay that
    // unrolls the same 12 rounds as chained CTEs. Every step is a total
    // order (pair argmax by count desc then pair; greedy application by the
    // run-parity rule), so the whole training trajectory — not just the
    // final vocab — must match for the hash to pass.
    Q("q90_bpe_merges", mergesOracle) { (s, d) =>
      bpeMerges(Tables.documents(s, d), nMerges = NMerges, topKWords = TopK)
        .orderBy("rnk")
    },

    // Train-then-tokenize round trip: subword frequencies of the whole
    // corpus under the 12 trained merges, through the native bpe_segment
    // kernel (merge list as a reference object). The oracle re-derives the
    // merges (q90's chain) AND re-applies them to every distinct word, so
    // the hash certifies training + serving end-to-end. The engine's
    // distinct-word pre-aggregation (segment once per word, weight by
    // count) must be invisible in the output — tokenization is per-word
    // deterministic, so occurrence-level and word-level aggregation agree.
    Q("q92_bpe_tokenize", tokenizeOracle) { (s, d) =>
      bpeTokenCounts(Tables.documents(s, d), nMerges = NMerges, topKWords = TopK,
        topK = TopSubwords)
        .orderBy("rnk")
    },

    // The full production pipeline: train merges → tokenize every doc to
    // subword IDS against the trained top-50 vocab (UNK = 0) → pack the id
    // streams into 2048-token training rows. The oracle replays the entire
    // trajectory — 12 training rounds, per-word re-segmentation, vocab
    // ranking, id lookup, and the q74 shard/cumsum packing arithmetic — as
    // exact integers, so the hash certifies train → tokenize → pack end to
    // end: a wrong merge, a wrong id, or an off-by-one in the packing
    // cumsum all surface as value mismatches.
    Q("q104_tokenize_pack", packOracle) { (s, d) =>
      tokenIdPack(Tables.documents(s, d), nMerges = NMerges, topKWords = TopK,
        vocabSize = TopSubwords)
    },

    // Streaming BPE training maintenance: like q293 for the frequency-
    // scored trainer — the word-count monoid drains through the count
    // index and [[bpeMergesFromCounts]] must reproduce q90's merge
    // trajectory exactly (the oracle is q90's verbatim).
    Q("q294_streaming_bpe", mergesOracle) { (s, d) =>
      val wh = graft.core.Scratch.dir("graft-q294")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      graft.streaming.Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new graft.streaming.AnchorCountIndex(s2, s"$wh/words",
        maxChainDepth = 2,
        build = Curation.termCounts(_), keyCols = Seq("w"))
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      graft.streaming.Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch)
        .awaitTermination()
      bpeMergesFromCounts(
        idx.served().select(col("w").as("__w"), col("cnt").as("__cnt")),
        NMerges, TopK)
        .orderBy("rnk")
    },

    // Unicode-script segmentation fallback (r17 verdict item 3): the word
    // model is no longer whitespace-only. Each doc gets a planted mixed-
    // script suffix — two Han codepoints, one hiragana, a Latin word glued
    // to a Thai run — and the corpus vocabulary through [[wordCounts]]
    // (the ONE site all trainers/LMs consume) must contain the Han/Kana
    // chars as single-codepoint tokens, the Thai run as one token, and
    // the glued 'abc' split free of it. The oracle replays the SAME
    // segmentation via [[graft.expressions.Ws.segmentSql]] (the Java and
    // RE2 character classes are generated from one range list), so an
    // engine/oracle drift in any range boundary hash-fails. On the ASCII
    // corpus body the transform is the identity — which is the law that
    // keeps every pre-existing tokenizer/LM oracle unchanged.
    Q("q304_cjk_segmentation",
      s"""WITH m AS (
         |  SELECT doc_id, text || ' ' ||
         |    chr(CAST(19968 + doc_id % 7 AS INTEGER)) || chr(CAST(19968 + (doc_id + 1) % 7 AS INTEGER)) ||
         |    chr(CAST(12354 + doc_id % 5 AS INTEGER)) || 'abc' ||
         |    chr(CAST(3585 + doc_id % 4 AS INTEGER)) || chr(CAST(3585 + (doc_id + 1) % 4 AS INTEGER)) AS t2
         |  FROM documents),
         | w AS (SELECT unnest(list_filter(string_split_regex(
         |         ${graft.expressions.Ws.segmentSql("t2")},
         |         '[ \\t\\n\\f\\r]+'), x -> x <> '')) AS g
         |       FROM m),
         | v AS (SELECT g AS word, CAST(count(1) AS BIGINT) AS cnt FROM w GROUP BY 1),
         | cut AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word LIMIT 120)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rnk,
         |       word, cnt
         |FROM cut ORDER BY rnk""".stripMargin) { (s, d) =>
      def pick(base: Int, n: Int, k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        element_at(array((0 until n).map(i =>
          lit(new String(Character.toChars(base + i)))): _*),
          (k % n).cast("int") + 1)
      val mixed = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" "),
          pick(0x4E00, 7, col("doc_id")), pick(0x4E00, 7, col("doc_id") + 1),
          pick(0x3042, 5, col("doc_id")), lit("abc"),
          pick(0x0E01, 4, col("doc_id")), pick(0x0E01, 4, col("doc_id") + 1))
          .as("text"))
      graft.ops.TopK.rankedCut(
          wordCounts(mixed, "text")
            .select(col("__w").as("word"), col("__cnt").as("cnt")),
          120, "rnk", col("cnt").desc, col("word"))
        .select("rnk", "word", "cnt")
        .orderBy("rnk")
    },
  )
}

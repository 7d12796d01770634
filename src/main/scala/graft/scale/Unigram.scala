package graft.scale

import graft.core.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training — the other half of
  * the modern tokenizer pair next to [[Bpe]] (Kudo 2018's algorithm, the
  * hard-EM variant): seed a candidate vocabulary from substring counts,
  * then alternate Viterbi segmentation of the word table (E-step) with
  * count re-estimation (M-step); pieces that win no Viterbi use fall out of
  * the vocabulary (the pruning step, subsumed by hard counts).
  *
  * Integer-exact by construction, like every trainer here: piece cost is
  * the bit surrogate `bits(total) − bits(cnt)` for −log₂ P(piece) (the
  * [[Curation.bigramSurprisal]] formulation — both engines compute it via
  * binary-digit counts), and the Viterbi tie chain (total cost, then piece
  * count, then smallest split point = longest piece) is a total order, so
  * the whole EM trajectory — not just the final vocab — is value-exact
  * against a DuckDB replay that unrolls each round's per-position DP as
  * chained CTEs (the [[Bpe]] oracle pattern, one level deeper: BPE unrolls
  * merge rounds; this unrolls EM rounds × word positions).
  *
  * Scale shape (100 TB): the ONLY corpus-sized job is the word-count
  * shuffle ([[Bpe.wordCounts]] — map-side partials, one word-keyed
  * shuffle). Training state is the top-K word table: the EM loop runs on
  * the driver over those K rows (the [[Bpe.bpeMergesFromCounts]]
  * bounded-metadata class — identical milliseconds at any corpus size),
  * and serving segments each DISTINCT word once via the codegen'd
  * [[graft.expressions.UnigramSegment]] kernel — corpus text never rides a
  * shuffle, occurrences inherit their word's segmentation by join
  * weighting, and the driver holds only piece tables bounded by
  * K × maxWordLen × maxPieceLen.
  */
object Unigram {

  /** Contract bounds — shared by trainer, kernel, and oracle. `MaxWordLen`
    * bounds the oracle's DP unroll; the trainer REQUIRES cut words fit (a
    * longer word would silently diverge from the unrolled SQL), while
    * serving maps longer words to UNK (SentencePiece's own policy for
    * oversized tokens).
    */
  val MaxWordLen = 12
  val MaxPieceLen = 4
  val SeedMulti = 40
  val EmRounds = 2
  val TopKWords = 200

  /** Binary digit count of a positive long — `length(bin(x))` in DuckDB. */
  private[scale] def bits(x: Long): Long = {
    require(x > 0, s"bits($x)")
    64L - java.lang.Long.numberOfLeadingZeros(x)
  }

  /** Driver-side Viterbi under a piece→cost table: lexicographic-min DP
    * (cost, pieces, split point). Must stay step-identical to
    * [[graft.expressions.UnigramSegment.compute]] (spec parity law) and to
    * the oracle's unrolled rounds. None = no tiling or word too long.
    */
  private[scale] def viterbi(word: String, pc: collection.Map[String, Long],
                             maxPieceLen: Int = MaxPieceLen,
                             maxWordLen: Int = MaxWordLen): Option[Array[String]] = {
    val cps = graft.expressions.BpeSegment.codePoints(word)
    val n = cps.length
    if (n == 0 || n > maxWordLen) return None
    val INF = Long.MaxValue
    val c = Array.fill(n + 1)(INF)
    val np = new Array[Long](n + 1)
    val bp = Array.fill(n + 1)(-1)
    c(0) = 0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (c(j) != INF) {
          pc.get(cps.slice(j, i).mkString) match {
            case Some(cost) =>
              val nc = c(j) + cost
              val nn = np(j) + 1
              // j ascends: replace on strict improvement only, so a full
              // tie keeps the smallest j (longest piece) — the same order
              // the oracle's row_number() OVER (ORDER BY c, np, pos) picks
              if (c(i) == INF || nc < c(i) || (nc == c(i) && nn < np(i))) {
                c(i) = nc; np(i) = nn; bp(i) = j
              }
            case None => ()
          }
        }
        j += 1
      }
      i += 1
    }
    if (c(n) == INF) None
    else {
      val out = List.newBuilder[String]
      val rev = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = n
      while (pos > 0) { rev += cps.slice(bp(pos), pos).mkString; pos = bp(pos) }
      out ++= rev.reverseIterator
      Some(out.result().toArray)
    }
  }

  /** Train over a precomputed (`__w`, `__cnt`) relation: collect the top-K
    * cut (K-bounded), seed from substring counts (all single code points +
    * the top-`SeedMulti` multi-char substrings by (count desc, piece)),
    * run `EmRounds` hard-EM rounds. Returns the final (piece → count) map
    * — Viterbi-weighted counts under the last round's segmentation.
    */
  private[scale] def trainFromCounts(counts: DataFrame, emRounds: Int = EmRounds,
                                     topKWords: Int = TopKWords): Map[String, Long] = {
    val cut: Array[(String, Long)] = Curation.cutVocab(counts, topKWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    cut.foreach { case (w, _) =>
      require(graft.expressions.BpeSegment.codePoints(w).length <= MaxWordLen,
        s"cut word '$w' exceeds MaxWordLen=$MaxWordLen — the unrolled oracle " +
          s"cannot replay it; raise MaxWordLen in lockstep with the oracle")
    }
    // seed: substring occurrence counts weighted by word count
    val seed = scala.collection.mutable.Map.empty[String, Long]
    cut.foreach { case (w, cnt) =>
      val cps = graft.expressions.BpeSegment.codePoints(w)
      for (i <- cps.indices; l <- 1 to math.min(MaxPieceLen, cps.length - i)) {
        val p = cps.slice(i, i + l).mkString
        seed.update(p, seed.getOrElse(p, 0L) + cnt)
      }
    }
    def cpLen(s: String) = graft.expressions.BpeSegment.codePoints(s).length
    val chars = seed.filter { case (p, _) => cpLen(p) == 1 }
    val multi = seed.filter { case (p, _) => cpLen(p) >= 2 }.toSeq
      .sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, Bpe.Utf8Order)).take(SeedMulti)
    var voc: Map[String, Long] = (chars ++ multi).toMap
    for (_ <- 1 to emRounds) {
      val total = voc.values.sum
      val pc = voc.map { case (p, c) => p -> (bits(total) - bits(c)) }
      val next = scala.collection.mutable.Map.empty[String, Long]
      cut.foreach { case (w, cnt) =>
        val seg = viterbi(w, pc).getOrElse(throw new IllegalStateException(
          s"training word '$w' unsegmentable — single-char seeds guarantee a " +
            s"tiling in round 1 and used pieces survive between rounds"))
        seg.foreach(p => next.update(p, next.getOrElse(p, 0L) + cnt))
      }
      voc = next.toMap
    }
    voc
  }

  /** The trained vocabulary as a relation: (rnk, piece, cnt) ranked by
    * (count desc, piece) — the ENTIRE EM trajectory feeds every count, so a
    * value-exact match certifies training end to end.
    */
  def unigramVocab(docs: DataFrame, emRounds: Int = EmRounds,
                   topKWords: Int = TopKWords, textCol: String = "text"): DataFrame =
    unigramVocabFromCounts(Bpe.wordCounts(docs, textCol), emRounds, topKWords)

  /** [[unigramVocab]] from an already-aggregated (`__w`, `__cnt`) word
    * relation — the serving form over a maintained count index. The
    * trainer's ENTIRE corpus-derived state is the word-frequency table, an
    * additive monoid, so a streaming drain's served counts train the
    * IDENTICAL EM trajectory to the batch pass
    * ([[Bpe.bpeMergesFromCounts]] / [[Wordpiece.wordpieceMergesFromCounts]]'s
    * factoring — this completes the tokenizer family).
    */
  def unigramVocabFromCounts(counts: DataFrame, emRounds: Int = EmRounds,
                             topKWords: Int = TopKWords): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    trainFromCounts(counts, emRounds, topKWords)
      .toSeq.sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, Bpe.Utf8Order))
      .zipWithIndex
      .map { case ((p, c), i) => ((i + 1).toLong, p, c) }
      .toDF("rnk", "piece", "cnt")
  }

  /** Viterbi segmentation as a Column under a trained (piece, cnt) vocab —
    * costs derived the same way training derives them. NULL (word the vocab
    * cannot tile, or longer than `MaxWordLen`) is the caller's UNK case.
    */
  def unigramSegmentCol(word: org.apache.spark.sql.Column,
                        vocab: Seq[(String, Long)]): org.apache.spark.sql.Column = {
    val total = vocab.map(_._2).sum
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.UnigramSegment(
        org.apache.spark.sql.GraftColumnBridge.expression(word),
        vocab.map(_._1).toArray,
        vocab.map { case (_, c) => bits(total) - bits(c) }.toArray,
        MaxPieceLen, MaxWordLen))
  }

  /** Train, then segment EVERY distinct corpus word under the trained vocab
    * — the serving round trip. One word-count shuffle shared by training
    * and serving (localCheckpoint); segmentation is the codegen'd kernel
    * over the distinct-word relation (once per word, never per
    * occurrence). Output per word: count, piece count, and the tiling
    * itself (space-joined — words are whitespace-split so the join is
    * unambiguous); UNK words surface as ('<unk>', 0), never silently.
    */
  def unigramSegmentWords(docs: DataFrame, emRounds: Int = EmRounds,
                          topKWords: Int = TopKWords, textCol: String = "text",
                          policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val words = policy.checkpoint(Bpe.wordCounts(docs, textCol))
    val vocab = trainFromCounts(words, emRounds, topKWords).toSeq
    val seg = unigramSegmentCol(col("__w"), vocab)
    words.select(col("__w").as("word"), col("__cnt").as("cnt"), seg.as("__seg"))
      .select(col("word"), col("cnt"),
        coalesce(size(col("__seg")), lit(0)).cast("long").as("n_pieces"),
        coalesce(array_join(col("__seg"), " "), lit("<unk>")).as("seg"))
  }

  // ---- oracle -------------------------------------------------------------

  /** One unrolled DP position: extend every reachable split state by one
    * piece ending at `i`, keep the per-word lexicographic minimum. `src` is
    * the previous position's CTE, `cst` the round's piece-cost relation.
    */
  private def dpRoundSql(prefix: String, cst: String, i: Int): String = {
    val lo = math.max(0, i - MaxPieceLen)
    s"""
 ${prefix}_$i AS MATERIALIZED (
   SELECT word, cnt, pos, c, np, seg FROM ${prefix}_${i - 1}
   UNION ALL
   SELECT word, cnt, pos, c, np, seg FROM (
     SELECT d.word, d.cnt, CAST($i AS BIGINT) AS pos, d.c + x.pc AS c,
       d.np + 1 AS np, list_append(d.seg, x.piece) AS seg,
       row_number() OVER (PARTITION BY d.word
                          ORDER BY d.c + x.pc, d.np + 1, d.pos) AS rn
     FROM ${prefix}_${i - 1} d JOIN $cst x
       ON x.piece = substr(d.word, CAST(d.pos + 1 AS INT), CAST($i - d.pos AS INT))
     WHERE d.pos >= $lo AND d.pos <= ${i - 1} AND length(d.word) >= $i)
   WHERE rn = 1)"""
  }

  /** Costs of vocabulary relation `voc` (piece, cnt) as CTE `cst`. */
  private def costSql(voc: String, cst: String): String =
    s"""
 ${cst}_t AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM $voc),
 $cst AS MATERIALIZED (
   SELECT piece, CAST(length(bin(t.t)) - length(bin(cnt)) AS BIGINT) AS pc
   FROM $voc, ${cst}_t t)"""

  /** Full Viterbi chain over relation `src` (word, cnt) under costs `cst`:
    * CTEs `prefix`_0..`prefix`_$MaxWordLen plus the `prefix`_fin winner.
    */
  private def dpChainSql(prefix: String, src: String, cst: String): String = {
    val rounds = (1 to MaxWordLen).map(dpRoundSql(prefix, cst, _)).mkString(",")
    s"""
 ${prefix}_0 AS (SELECT word, cnt, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS c,
            CAST(0 AS BIGINT) AS np, CAST([] AS VARCHAR[]) AS seg
          FROM $src WHERE length(word) <= $MaxWordLen),$rounds,
 ${prefix}_fin AS MATERIALIZED (
   SELECT word, cnt, np, seg FROM ${prefix}_$MaxWordLen WHERE pos = length(word))"""
  }

  /** Shared training prefix: word counts, the top-K cut, substring seeding,
    * and `EmRounds` unrolled (cost → Viterbi → recount) rounds, ending at
    * voc${EmRounds + 1} — the trained vocabulary.
    */
  private def trainingChainSql: String = {
    val emRounds = (1 to EmRounds).map { t =>
      costSql(s"voc$t", s"cst$t") + "," +
        dpChainSql(s"dp$t", "cut", s"cst$t") + s""",
 voc${t + 1} AS MATERIALIZED (
   SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
   FROM (SELECT cnt, unnest(seg) AS piece FROM dp${t}_fin) GROUP BY 1)"""
    }.mkString(",")
    s"""WITH w AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> '')) AS g
  FROM documents),
 v AS MATERIALIZED (SELECT g AS word, CAST(count(1) AS BIGINT) AS cnt FROM w GROUP BY 1),
 cut AS MATERIALIZED (SELECT word, cnt FROM v ORDER BY cnt DESC, word LIMIT $TopKWords),
 subs AS MATERIALIZED (
   SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
          CAST(sum(cnt) AS BIGINT) AS cnt
   FROM cut
   CROSS JOIN unnest(range(1, ${MaxWordLen + 1})) AS t1(i)
   CROSS JOIN unnest(range(1, ${MaxPieceLen + 1})) AS t2(l)
   WHERE i + l - 1 <= length(word)
   GROUP BY 1),
 voc1 AS MATERIALIZED (
   SELECT piece, cnt FROM subs WHERE length(piece) = 1
   UNION ALL
   SELECT piece, cnt FROM (SELECT piece, cnt FROM subs WHERE length(piece) >= 2
                           ORDER BY cnt DESC, piece LIMIT $SeedMulti)),$emRounds"""
  }

  private val vocabOracle: String =
    s"""$trainingChainSql
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS rnk, piece, cnt
FROM voc${EmRounds + 1} ORDER BY rnk"""

  private val segmentOracle: String =
    s"""$trainingChainSql,${costSql(s"voc${EmRounds + 1}", "cstf")},${
      dpChainSql("sdp", "v", "cstf")}
SELECT v.word, v.cnt, CAST(coalesce(s.np, 0) AS BIGINT) AS n_pieces,
  coalesce(array_to_string(s.seg, ' '), '<unk>') AS seg
FROM v LEFT JOIN sdp_fin s USING (word) ORDER BY v.word"""

  // ---- declared queries ----------------------------------------------------

  val queries: Seq[Q] = Seq(

    // Unigram-LM training: substring seeding + 2 hard-EM rounds over the
    // top-200 word cut — the final vocabulary (rank, piece, Viterbi-weighted
    // count), value-exact against a DuckDB replay that unrolls every EM
    // round's per-position Viterbi DP as chained CTEs. Any divergence in
    // seeding, costs, a single DP tie, or a recount shifts some count and
    // fails the hash.
    Q("q148_unigram_vocab", vocabOracle) { (s, d) =>
      unigramVocab(Tables.documents(s, d)).orderBy("rnk")
    },

    // Serving round trip: segment EVERY distinct corpus word under the
    // freshly trained vocab via the codegen'd Viterbi kernel. The oracle
    // re-derives the full training chain AND replays the final DP over the
    // whole word relation, so the hash certifies train → tokenize end to
    // end, per word — including the UNK policy for untileable words.
    Q("q154_unigram_segment", segmentOracle) { (s, d) =>
      unigramSegmentWords(Tables.documents(s, d)).orderBy("word")
    },

    // Streaming Unigram-LM training maintenance: like WordPiece (q293) and
    // BPE (q294), the trainer's entire corpus-derived state is the
    // word-frequency table — an additive monoid — so a 4-batch drain
    // through the count index must train the IDENTICAL EM trajectory,
    // Viterbi ties, recounts and all. The oracle is q148's verbatim.
    Q("q295_streaming_unigram", vocabOracle) { (s, d) =>
      val wh = graft.core.Scratch.dir("graft-q295")
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
      unigramVocabFromCounts(
        idx.served().select(col("w").as("__w"), col("cnt").as("__cnt")))
        .orderBy("rnk")
    },
  )
}

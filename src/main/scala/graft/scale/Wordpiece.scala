package graft.scale

import graft.core.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training — the third member of the modern tokenizer
  * family next to [[Bpe]] (frequency-scored merges) and [[Unigram]]
  * (likelihood-pruned pieces): Schuster & Nakajima 2012's algorithm as used
  * by BERT. Like BPE it repeatedly merges the best adjacent symbol pair,
  * but the score is the LIKELIHOOD GAIN `count(l,r) / (count(l)·count(r))`
  * — pairs whose co-occurrence beats their independence — rather than raw
  * pair frequency, and symbols carry the `##` continuation marker from the
  * start (word-initial code points are unmarked, all later ones marked;
  * merging `l + r` strips `r`'s marker), so the trained vocabulary IS the
  * serving vocabulary of the greedy longest-match inference rule
  * ([[graft.expressions.WordpieceSegment]]).
  *
  * Integer-exact by construction: scores are rationals compared by BigInt
  * cross-multiplication — `c_a/(l_a·r_a) > c_b/(l_b·r_b)` iff
  * `c_a·l_b·r_b > c_b·l_a·r_a` — never floats, with ties broken by
  * (lhs, rhs) in UTF-8 byte order ([[Bpe.Utf8Order]]); the DuckDB oracle
  * replays the same comparison in HUGEINT via a NOT EXISTS argmax. Greedy
  * merge application reuses BPE's run-parity rule, so the whole training
  * trajectory — every round's pair counts, symbol counts, and selection —
  * is value-exact on any engine.
  *
  * Scale shape (100 TB): identical to [[Bpe]] — the ONLY corpus-sized job
  * is the word-count shuffle (map-side partials, one word-keyed shuffle,
  * then the K-bounded [[Curation.cutVocab]] TakeOrdered); the merge loop is
  * driver-side over those K rows (bounded metadata, same milliseconds at
  * any corpus size), and serving segments each DISTINCT word once via the
  * codegen'd kernel — corpus text never rides a shuffle.
  */
object Wordpiece {

  val NMerges = 12
  val TopKWords = 200

  /** Greedy serving bound, shared with the oracle's unrolled chain: words
    * longer than this many code points serve as UNK (each greedy step
    * consumes ≥1 code point, so the oracle unrolls exactly this many
    * argmax rounds).
    */
  val MaxWordLen = 12

  private[scale] def stripMark(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** Initial marked segmentation: first code point raw, the rest `##`-marked. */
  private[scale] def markedCps(word: String): Array[String] = {
    val cps = graft.expressions.BpeSegment.codePoints(word)
    cps.zipWithIndex.map { case (c, i) => if (i == 0) c else "##" + c }
  }

  /** One greedy left-to-right merge pass — [[Bpe.applyMerge]]'s
    * non-overlapping rule with WordPiece concatenation (strip `r`'s marker).
    */
  private[scale] def applyMerge(seg: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < seg.length) {
      if (i + 1 < seg.length && seg(i) == l && seg(i + 1) == r) {
        out += (l + stripMark(r)); i += 2
      } else {
        out += seg(i); i += 1
      }
    }
    out.toArray
  }

  /** One trained merge: rank, pair, and the exact integers the score is the
    * ratio of — pair count and both symbol counts at selection time.
    */
  final case class Merge(rnk: Long, lhs: String, rhs: String,
                         cnt: Long, cl: Long, cr: Long)

  /** Train over a precomputed (`__w`, `__cnt`) relation: K-bounded cut,
    * `nMerges` likelihood-scored merge rounds. Returns the merge trajectory
    * and the final vocabulary (the distinct symbols of the final
    * segmentations — WordPiece's serving vocab). Stops early only on pair
    * exhaustion, like [[Bpe.bpeMergesFromCounts]].
    */
  private[scale] def trainFromCounts(counts: DataFrame, nMerges: Int = NMerges,
                                     topKWords: Int = TopKWords): (Seq[Merge], Set[String]) = {
    require(nMerges >= 1 && topKWords >= 1)
    val cut: Array[(String, Long)] = Curation.cutVocab(counts, topKWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var segs: Array[(Array[String], Long)] =
      cut.map { case (w, c) => (markedCps(w), c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 1L
    var done = false
    while (rank <= nMerges && !done) {
      val symCounts = scala.collection.mutable.Map.empty[String, Long]
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (s, c) =>
        var i = 0
        while (i < s.length) {
          symCounts.update(s(i), symCounts.getOrElse(s(i), 0L) + c)
          if (i + 1 < s.length) {
            val k = (s(i), s(i + 1))
            pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          }
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // argmax of c/(cl·cr) by BigInt cross-multiplication — a is better
        // than b iff c_a·l_b·r_b > c_b·l_a·r_a; ties by (lhs, rhs) UTF-8
        val scored = pairCounts.toSeq.map { case ((l, r), c) =>
          (l, r, c, symCounts(l), symCounts(r))
        }
        val best = scored.reduceLeft { (a, b) =>
          val lhs = BigInt(a._3) * BigInt(b._4) * BigInt(b._5)
          val rhs = BigInt(b._3) * BigInt(a._4) * BigInt(a._5)
          if (lhs > rhs) a
          else if (lhs < rhs) b
          else {
            val c = Bpe.Utf8Order.compare(a._1, b._1)
            if (c < 0 || (c == 0 && Bpe.Utf8Order.compare(a._2, b._2) <= 0)) a else b
          }
        }
        merges += Merge(rank, best._1, best._2, best._3, best._4, best._5)
        segs = segs.map { case (s, wc) => (applyMerge(s, best._1, best._2), wc) }
        rank += 1
      }
    }
    (merges.toSeq, segs.iterator.flatMap(_._1).toSet)
  }

  /** The merge trajectory as a relation: (rnk, lhs, rhs, cnt, cl, cr) in
    * training order — exposing the score's numerator AND denominators, so a
    * value-exact match certifies every round's pair counts, symbol counts,
    * and the rational argmax itself.
    */
  def wordpieceMerges(docs: DataFrame, nMerges: Int = NMerges,
                      topKWords: Int = TopKWords, textCol: String = "text"): DataFrame =
    wordpieceMergesFromCounts(Bpe.wordCounts(docs, textCol), nMerges, topKWords)

  /** [[wordpieceMerges]] over a precomputed (`__w`, `__cnt`) relation — the
    * serving form over a maintained word-count index (training state is
    * the count table, an additive monoid, so a streaming drain trains the
    * identical vocabulary).
    */
  def wordpieceMergesFromCounts(counts: DataFrame, nMerges: Int = NMerges,
                                topKWords: Int = TopKWords): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    trainFromCounts(counts, nMerges, topKWords)._1
      .map(m => (m.rnk, m.lhs, m.rhs, m.cnt, m.cl, m.cr))
      .toDF("rnk", "lhs", "rhs", "cnt", "cl", "cr")
  }

  /** Greedy longest-match segmentation as a Column under a trained vocab
    * (the codegen'd [[graft.expressions.WordpieceSegment]] kernel; vocab as
    * a reference object, never a plan literal). NULL = UNK.
    */
  def wordpieceSegmentCol(word: org.apache.spark.sql.Column,
                          vocab: Seq[String]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.WordpieceSegment(
        org.apache.spark.sql.GraftColumnBridge.expression(word),
        vocab.toArray, MaxWordLen))

  /** Driver-side greedy longest-match — must stay step-identical to the
    * kernel (spec parity law) and the oracle's unrolled chain.
    */
  private[scale] def greedy(word: String, vocab: Set[String]): Option[Array[String]] = {
    val cps = graft.expressions.BpeSegment.codePoints(word)
    val n = cps.length
    if (n == 0 || n > MaxWordLen || vocab.isEmpty) return None
    val maxLen = vocab.iterator.map(p =>
      graft.expressions.BpeSegment.codePoints(p).length).max
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < n) {
      var l = math.min(n - pos, maxLen)
      var matched: String = null
      while (l >= 1 && matched == null) {
        val sub = cps.slice(pos, pos + l).mkString
        if (pos == 0) {
          if (!sub.startsWith("##") && vocab.contains(sub)) matched = sub
        } else if (vocab.contains("##" + sub)) matched = "##" + sub
        if (matched == null) l -= 1
      }
      if (matched == null) return None
      out += matched
      pos += l
    }
    Some(out.toArray)
  }

  /** Train, then segment EVERY distinct corpus word under the trained vocab
    * — the serving round trip ([[Unigram.unigramSegmentWords]]'s shape). One
    * word-count shuffle shared by training and serving (localCheckpoint);
    * the greedy kernel runs once per distinct word. UNK words (untileable,
    * or longer than [[MaxWordLen]]) surface as ('<unk>', 0), never silently.
    */
  def wordpieceSegmentWords(docs: DataFrame, nMerges: Int = NMerges,
                            topKWords: Int = TopKWords,
                            textCol: String = "text",
                            policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val words = policy.checkpoint(Bpe.wordCounts(docs, textCol))
    val vocab = trainFromCounts(words, nMerges, topKWords)._2
    val seg = wordpieceSegmentCol(col("__w"), vocab.toSeq.sorted)
    words.select(col("__w").as("word"), col("__cnt").as("cnt"), seg.as("__seg"))
      .select(col("word"), col("cnt"),
        coalesce(size(col("__seg")), lit(0)).cast("long").as("n_pieces"),
        coalesce(array_join(col("__seg"), " "), lit("<unk>")).as("seg"))
  }

  /** The production composition, [[Bpe.tokenIdPack]]'s shape for this
    * tokenizer: train WordPiece merges, greedy-segment every document to
    * PIECE IDS against the trained vocab (ids = rank by corpus piece
    * frequency desc then piece, cut to `vocabSize`; out-of-cut pieces map
    * to UNK id 0), and pack the id streams into `budget`-token rows. A
    * word the vocab cannot tile contributes ONE `[UNK]` token (id 0) —
    * WordPiece's whole-word UNK, visible in the packed token counts.
    * Output per shard: docs, total tokens, packed sequence count, id sum.
    *
    * Scale shape: identical to the BPE pack — one shared word-count
    * shuffle, the greedy kernel once per DISTINCT word, occurrence-level
    * stats by join, the q74 shard/cumsum packing arithmetic.
    */
  def wordpieceIdPack(docs: DataFrame, nMerges: Int = NMerges,
                      topKWords: Int = TopKWords, vocabSize: Int = 50,
                      budget: Int = 2048, nShards: Int = 64,
                      idCol: String = "doc_id", textCol: String = "text",
                      policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = policy.checkpoint(Bpe.wordCounts(docs, textCol))
    val vocab = trainFromCounts(words, nMerges, topKWords)._2
    val seg = wordpieceSegmentCol(col("__w"), vocab.toSeq.sorted)
    val pieceIds: Map[String, Long] = words
      .select(explode(seg).as("p"), col("__cnt"))
      .groupBy("p").agg(sum("__cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("p")).limit(vocabSize)
      .collect().zipWithIndex
      .map { case (r, i) => (r.getString(0), (i + 1).toLong) }.toMap
    val vocabMap = typedLit(pieceIds)
    // per-DISTINCT-word stats; an UNK word is ONE [UNK] token with id 0
    val wstat = words.select(col("__w").as("word"),
      coalesce(size(seg).cast("long"), lit(1L)).as("n_sub"),
      coalesce(aggregate(seg, lit(0L),
        (acc, x) => acc + coalesce(element_at(vocabMap, x), lit(0L))), lit(0L))
        .as("idsum"))
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

  // ---- oracle -------------------------------------------------------------

  /** BPE's run-parity greedy application with WordPiece concatenation: the
    * merged symbol is `l || strip##(r)`. See [[Bpe]] for the parity rule's
    * derivation.
    */
  private def applySql(prev: String, out: String, i: Int): String =
    s"""
 $out AS MATERIALIZED (
   SELECT word, cnt,
     list_filter(
       list_transform(range(1, len(s)+1), i ->
         CASE WHEN i < len(s) AND sel[i] THEN
                s[i] || (CASE WHEN s[i+1] LIKE '##%' THEN s[i+1][3:] ELSE s[i+1] END)
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

  /** One DuckDB merge round: symbol counts + pair counts over the previous
    * segmentation, the rational argmax via NOT EXISTS with HUGEINT
    * cross-multiplication, run-parity application. Pair exhaustion falls
    * back to the loud sentinel no-op merge ([[Bpe]]'s convention).
    */
  private def roundSql(i: Int): String = {
    val prev = s"seg${i - 1}"
    s"""
 sym$i AS MATERIALIZED (
   SELECT sym, CAST(sum(cnt) AS BIGINT) AS c
   FROM (SELECT cnt, unnest(s) AS sym FROM $prev) GROUP BY 1),
 pc$i AS MATERIALIZED (
   SELECT pr[1] AS l, pr[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
   FROM (SELECT cnt, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS pr FROM $prev)
   GROUP BY 1, 2),
 sc$i AS MATERIALIZED (
   SELECT p.l, p.r, p.c, sl.c AS cl, sr.c AS cr
   FROM pc$i p JOIN sym$i sl ON sl.sym = p.l JOIN sym$i sr ON sr.sym = p.r),
 m$i AS MATERIALIZED (
   SELECT l, r, c, cl, cr FROM sc$i a
   WHERE NOT EXISTS (SELECT 1 FROM sc$i b WHERE
       CAST(b.c AS HUGEINT) * a.cl * a.cr > CAST(a.c AS HUGEINT) * b.cl * b.cr
       OR (CAST(b.c AS HUGEINT) * a.cl * a.cr = CAST(a.c AS HUGEINT) * b.cl * b.cr
           AND (b.l < a.l OR (b.l = a.l AND b.r < a.r))))
   UNION ALL
   SELECT ' ', ' ', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
   WHERE NOT EXISTS (SELECT 1 FROM pc$i)),""" + applySql(prev, s"seg$i", i)
  }

  /** Shared training prefix: word counts, the top-K cut, the MARKED char
    * segmentation, and `NMerges` unrolled rounds.
    */
  private def trainingChainSql: String = {
    val rounds = (1 to NMerges).map(roundSql).mkString(",")
    s"""WITH w AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> '')) AS g
  FROM documents),
 v AS MATERIALIZED (SELECT g AS word, CAST(count(1) AS BIGINT) AS cnt FROM w GROUP BY 1),
 cut AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word LIMIT $TopKWords),
 seg0 AS MATERIALIZED (SELECT word, cnt,
    list_transform(range(1, length(word)+1), i ->
      CASE WHEN i = 1 THEN word[i:i] ELSE '##' || word[i:i] END) AS s
  FROM cut),$rounds"""
  }

  private val mergesOracle: String = {
    val union = (1 to NMerges)
      .map(i => s"SELECT $i AS rnk, l AS lhs, r AS rhs, c AS cnt, cl, cr FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""$trainingChainSql
SELECT CAST(rnk AS BIGINT) AS rnk, lhs, rhs, cnt, cl, cr FROM (
  $union
) ORDER BY rnk"""
  }

  /** The candidate-match predicate of greedy step `$i` — shared by the
    * winner branch and the dead-end branch so the two can never disagree
    * about whether a candidate exists.
    */
  private def matchSql: String =
    """(d.pos = 0 AND x.piece NOT LIKE '##%'
          AND x.piece = substr(d.word, 1, CAST(length(x.piece) AS INT)))
       OR (d.pos > 0 AND x.piece LIKE '##%' AND length(x.piece) > 2
          AND x.piece[3:] = substr(d.word, CAST(d.pos + 1 AS INT),
                                   CAST(length(x.piece) - 2 AS INT)))"""

  /** One greedy step: finished/dead words carry through; live words either
    * take the LONGEST matching candidate (consumed code points =
    * piece length minus its marker) or go dead when none matches.
    */
  private def greedyStepSql(i: Int): String =
    s"""
 g_$i AS MATERIALIZED (
   SELECT word, cnt, pos, np, seg, dead FROM g_${i - 1}
   WHERE dead OR pos = length(word)
   UNION ALL
   SELECT word, cnt, pos, np, seg, dead FROM (
     SELECT d.word, d.cnt,
       d.pos + CASE WHEN x.piece LIKE '##%' THEN length(x.piece) - 2
                    ELSE length(x.piece) END AS pos,
       d.np + 1 AS np, list_append(d.seg, x.piece) AS seg, false AS dead,
       row_number() OVER (PARTITION BY d.word
         ORDER BY length(x.piece) -
                  CASE WHEN x.piece LIKE '##%' THEN 2 ELSE 0 END DESC) AS rn
     FROM g_${i - 1} d JOIN voc x ON $matchSql
     WHERE NOT d.dead AND d.pos < length(d.word))
   WHERE rn = 1
   UNION ALL
   SELECT d.word, d.cnt, d.pos, d.np, d.seg, true AS dead FROM g_${i - 1} d
   WHERE NOT d.dead AND d.pos < length(d.word)
     AND NOT EXISTS (SELECT 1 FROM voc x WHERE $matchSql))"""

  private val segmentOracle: String = {
    val steps = (1 to MaxWordLen).map(greedyStepSql).mkString(",")
    s"""$trainingChainSql,
 voc AS MATERIALIZED (SELECT DISTINCT unnest(s) AS piece FROM seg$NMerges),
 g_0 AS (SELECT word, cnt, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np,
           CAST([] AS VARCHAR[]) AS seg, false AS dead
         FROM v WHERE length(word) <= $MaxWordLen),$steps,
 fin AS MATERIALIZED (
   SELECT word, np, seg FROM g_$MaxWordLen WHERE NOT dead AND pos = length(word))
SELECT v.word, v.cnt, CAST(coalesce(f.np, 0) AS BIGINT) AS n_pieces,
  coalesce(array_to_string(f.seg, ' '), '<unk>') AS seg
FROM v LEFT JOIN fin f USING (word) ORDER BY v.word"""
  }

  private val packOracle: String = {
    val steps = (1 to MaxWordLen).map(greedyStepSql).mkString(",")
    s"""$trainingChainSql,
 voc AS MATERIALIZED (SELECT DISTINCT unnest(s) AS piece FROM seg$NMerges),
 g_0 AS (SELECT word, cnt, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np,
           CAST([] AS VARCHAR[]) AS seg, false AS dead
         FROM v WHERE length(word) <= $MaxWordLen),$steps,
 fin AS MATERIALIZED (
   SELECT word, cnt, np, seg FROM g_$MaxWordLen
   WHERE NOT dead AND pos = length(word)),
 pf AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
        FROM (SELECT cnt, unnest(seg) AS piece FROM fin) GROUP BY 1),
 vid AS (SELECT piece,
           CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS id
         FROM (SELECT piece, cnt FROM pf ORDER BY cnt DESC, piece LIMIT 50)),
 flat AS (SELECT word, unnest(seg) AS piece FROM fin),
 wsum AS MATERIALIZED (
   SELECT f.word, CAST(count(1) AS BIGINT) AS n_sub,
     CAST(sum(coalesce(vi.id, 0)) AS BIGINT) AS idsum
   FROM flat f LEFT JOIN vid vi USING (piece) GROUP BY 1),
 wst AS (SELECT v.word, coalesce(w.n_sub, 1) AS n_sub,
           coalesce(w.idsum, 0) AS idsum
         FROM v LEFT JOIN wsum w USING (word)),
 wd AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS word
        FROM documents),
 dstat AS (SELECT doc_id, sum(n_sub) AS toks, sum(idsum) AS idsum
           FROM wd JOIN wst USING (word) GROUP BY doc_id),
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

  // ---- declared queries ----------------------------------------------------

  val queries: Seq[Q] = Seq(

    // WordPiece merge training: 12 likelihood-scored rounds over the top-200
    // cut — the merge list WITH the score's exact integers (pair count +
    // both symbol counts), value-exact against a DuckDB replay whose
    // per-round argmax cross-multiplies in HUGEINT. A divergence in any
    // round's symbol counts, pair counts, rational comparison, or a single
    // greedy application shifts some row and fails the hash.
    Q("q278_wordpiece_merges", mergesOracle) { (s, d) =>
      wordpieceMerges(Tables.documents(s, d)).orderBy("rnk")
    },

    // Serving round trip: greedy longest-match-first segmentation of EVERY
    // distinct corpus word under the freshly trained vocabulary, through the
    // codegen'd wordpiece_segment kernel. The oracle re-derives the full
    // training chain AND unrolls the greedy walk one argmax step per code
    // point, so the hash certifies train → serve end to end — including the
    // marker discipline and the whole-word UNK policy.
    Q("q279_wordpiece_segment", segmentOracle) { (s, d) =>
      wordpieceSegmentWords(Tables.documents(s, d)).orderBy("word")
    },

    // The full WordPiece production pipeline: train merges → greedy-
    // segment every doc to piece IDS against the corpus-frequency-ranked
    // top-50 vocab (UNK = 0; an untileable word packs as ONE [UNK]
    // token) → pack into 2048-token rows. The oracle replays the entire
    // trajectory — 12 likelihood rounds, the per-word greedy walk, piece
    // ranking, id lookup, the whole-word UNK count, and the q74 packing
    // cumsum — as exact integers.
    Q("q290_wordpiece_pack", packOracle) { (s, d) =>
      wordpieceIdPack(Tables.documents(s, d))
    },

    // Streaming WordPiece training maintenance: the trainer's entire
    // state is the word-frequency table — an additive monoid — so a
    // 4-batch drain through the count index (the q247 protocol with (w)
    // keys) must train the IDENTICAL merge trajectory, score integers
    // and all. The oracle is q278's verbatim.
    Q("q293_streaming_wordpiece", mergesOracle) { (s, d) =>
      val wh = graft.core.Scratch.dir("graft-q293")
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
      wordpieceMergesFromCounts(
        idx.served().select(col("w").as("__w"), col("cnt").as("__cnt")))
        .orderBy("rnk")
    },
  )
}

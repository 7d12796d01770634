package graft.scale

import graft.core.{Par, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kneser–Ney smoothed bigram language model — train on one corpus, score
  * another (Kneser & Ney 1995; the KenLM model CCNet's perplexity filter
  * uses, here at bigram order). This is the held-out refinement of
  * [[Curation.bigramSurprisal]]: MLE bigram surprisal can only score
  * transitions the training corpus contains, while real curation scores a
  * CRAWL against a trusted reference corpus — most transitions are unseen
  * and need principled backoff mass, which is exactly what the KN discount
  * and continuation probability provide.
  *
  * Model (absolute discount D = 3/4, the literature's standard single
  * discount):
  *   - seen bigram:      P(c|p) = (bc − 3/4) / pc
  *   - unseen, seen p:   P(c|p) = (3/4)·n1fw(p)/pc · n1bw(c)/B   (backoff
  *     mass × continuation probability — "how many contexts does c follow")
  *   - unseen p (cold):  P(c|p) = n1bw(c)/B, floored at 1/B for words the
  *     training corpus never saw as a successor (the OOV floor)
  * where bc = bigram count, pc = context count, n1fw(p) = distinct
  * followers of p, n1bw(c) = distinct predecessors of c, B = distinct
  * bigram types.
  *
  * Integer-exact by the house discipline: −log₂ of each probability is the
  * per-FACTOR floor-log2 surrogate (`length(bin(x))` bits, the
  * [[Curation.unigramSurprisal]] formulation) — the seen branch costs
  * `bits(4·pc) − bits(4·bc − 3)` (numerator and denominator scaled by 4 so
  * the 3/4 discount stays integral), the backoff branch
  * `bits(4·pc) + bits(B) − bits(3·n1fw) − bits(n1bw)`, the cold branch
  * `bits(B) − bits(n1bw)` — every factor bitted SEPARATELY so no product
  * can overflow a long at any corpus size (pc·B would at 100 TB). Both
  * engines replay the identical arithmetic; no transcendental ever runs.
  *
  * Scale shape (100 TB): training tokenizes once into a checkpointed
  * transition stream; the bigram table is a vocab²-bounded aggregate, and
  * ctx/bw/B are further aggregates OF that table (metadata-sized relative
  * to the corpus). Scoring is three keyed left joins of the score-side
  * transition stream against those relations plus a broadcast 1-row B —
  * deliberately unhinted (the [[Curation.bigramSurprisal]] r12 lesson: a
  * real corpus's vocab² exceeds any broadcast threshold; AQE picks the
  * join). Corpus text never rides a wide shuffle on either side.
  */
object KneserNey {

  private def bitsOf(c: Column): Column = length(bin(c)).cast("long")

  /** The within-document transition stream (`idCol`, `__p`, `__c`). */
  private[scale] def transitions(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Ws.segment: unicode-script fallback (identity on ASCII) — the LM's
    // word model matches the trainers' (Bpe.wordCounts)
    val toks = filter(split(graft.expressions.Ws.segment(col(textCol)),
      graft.expressions.Ws.Regex), w => w =!= "")
    val nTrans = greatest(size(toks) - 1, lit(0))
    docs.select(col(idCol),
      explode(zip_with(
        slice(toks, lit(1), nTrans), slice(toks, lit(2), nTrans),
        (a, b) => struct(a.as("p"), b.as("c")))).as("__t"))
      .select(col(idCol), col("__t.p").as("__p"), col("__t.c").as("__c"))
  }

  /** Train a KN bigram model on `train`, score every document of `score`:
    * one row per score doc with `n_trans`, the three branch counts
    * (`n_hit` seen / `n_backoff` unseen-bigram / `n_cold` unseen-context —
    * they partition `n_trans`, a spec law), and `kn_bits`, the summed
    * integer KN surprisal. Docs with < 2 words score (0, 0, 0, 0, 0).
    */
  def knBigramScore(train: DataFrame, score: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame =
    knScoreFromCounts(
      transitions(train, idCol, textCol)
        .groupBy(col("__p").as("w1"), col("__c").as("w2"))
        .agg(count(lit(1)).as("cnt")),
      score, idCol, textCol, policy)

  /** [[knBigramScore]] from an already-aggregated bigram (w1, w2, cnt)
    * relation — the serving form over a maintained count index
    * ([[Curation.bigramCounts]]' schema; bigram counts are an additive
    * monoid, so a streaming drain's served state scores bit-identically to
    * the batch train pass — the [[Curation.collocationsFromCounts]]
    * factoring, one model up).
    */
  def knScoreFromCounts(bigrams: DataFrame, score: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    // the bigram table feeds four consumers (ctx, bw, B, and the score join)
    // — checkpoint it once rather than re-deriving it per consumer. It is
    // vocab²-bounded, the largest relation a 100 TB LM train ever pins:
    // CheckpointPolicy.Reliable makes it survive executor loss.
    val big = policy.checkpoint(
      bigrams.select(col("w1").as("__p"), col("w2").as("__c"),
        col("cnt").cast("long").as("__bc")))
    val ctx = big.groupBy("__p")
      .agg(sum("__bc").cast("long").as("__pc"), count(lit(1)).cast("long").as("__n1fw"))
    val bw = big.groupBy("__c").agg(count(lit(1)).cast("long").as("__n1bw"))
    val btot = big.agg(count(lit(1)).cast("long").as("__B"))

    val n1bwFloored = greatest(coalesce(col("__n1bw"), lit(0L)), lit(1L))
    val hit = col("__bc").isNotNull
    val warm = col("__pc").isNotNull // context seen in training
    val cost =
      when(hit, bitsOf(col("__pc") * 4) - bitsOf(col("__bc") * 4 - 3))
        .when(warm,
          bitsOf(col("__pc") * 4) + bitsOf(col("__B"))
            - bitsOf(col("__n1fw") * 3) - bitsOf(n1bwFloored))
        .otherwise(bitsOf(col("__B")) - bitsOf(n1bwFloored))

    val scored = transitions(score, idCol, textCol)
      .join(big, Seq("__p", "__c"), "left")
      .join(ctx, Seq("__p"), "left")
      .join(bw, Seq("__c"), "left")
      .crossJoin(broadcast(btot))
      .select(col(idCol),
        when(hit, 1L).otherwise(0L).as("__hit"),
        when(!hit && warm, 1L).otherwise(0L).as("__back"),
        when(!warm, 1L).otherwise(0L).as("__cold"),
        cost.as("__cost"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trans"), sum("__hit").as("n_hit"),
        sum("__back").as("n_backoff"), sum("__cold").as("n_cold"),
        sum("__cost").as("kn_bits"))
    score.select(idCol).join(scored, Seq(idCol), "left")
      .select(col(idCol) +: Seq("n_trans", "n_hit", "n_backoff", "n_cold", "kn_bits")
        .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
  }

  /** The within-document TRIGRAM stream (`idCol`, `__p2`, `__p1`, `__c`). */
  private[scale] def transitions3(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Ws.segment: unicode-script fallback (identity on ASCII) — the LM's
    // word model matches the trainers' (Bpe.wordCounts)
    val toks = filter(split(graft.expressions.Ws.segment(col(textCol)),
      graft.expressions.Ws.Regex), w => w =!= "")
    val n3 = greatest(size(toks) - 2, lit(0))
    docs.select(col(idCol),
      explode(zip_with(
        zip_with(slice(toks, lit(1), n3), slice(toks, lit(2), n3),
          (a, b) => struct(a.as("p2"), b.as("p1"))),
        slice(toks, lit(3), n3),
        (ab, c) => struct(ab.getField("p2").as("p2"),
          ab.getField("p1").as("p1"), c.as("c")))).as("__t"))
      .select(col(idCol), col("__t.p2").as("__p2"),
        col("__t.p1").as("__p1"), col("__t.c").as("__c"))
  }

  /** Trigram Kneser–Ney with two-level backoff — KenLM's default order,
    * composed from the bigram rule:
    *   - seen trigram:        bits(4·c12) − bits(4·c3 − 3)
    *   - unseen, seen (w1,w2): backoff penalty bits(4·c12) − bits(3·n1fw2)
    *     PLUS the full [[knBigramScore]] rule on (w2,w3)
    *   - unseen context:       the bigram rule on (w2,w3) alone
    * where c3 = trigram count, c12 = context count, n1fw2 = distinct
    * continuations of (w1,w2). Same per-factor floor-log2 discipline —
    * no product ever crosses a bits() call. Per doc: `n_tri`, the
    * three-way trigram branch counts (they partition n_tri), and
    * `kn3_bits`. Docs with < 3 words score all-zero.
    *
    * Scale shape: one extra trigram-keyed aggregate over training (the
    * widest relation, vocab³-bounded but corpus-linear) + its (w1,w2)
    * context aggregate; scoring adds two keyed left joins on top of the
    * bigram rule's three.
    */
  def knTrigramScore(train: DataFrame, score: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame =
    knTrigramFromCounts(
      transitions3(train, idCol, textCol)
        .groupBy(col("__p2").as("w1"), col("__p1").as("w2"), col("__c").as("w3"))
        .agg(count(lit(1)).as("cnt")),
      transitions(train, idCol, textCol)
        .groupBy(col("__p").as("w1"), col("__c").as("w2"))
        .agg(count(lit(1)).as("cnt")),
      score, idCol, textCol, policy)

  /** Per-document adjacent trigram counts (w1, w2, w3, cnt) — the additive
    * partial a streaming count index maintains ([[Curation.bigramCounts]]'
    * shape one order up).
    */
  def trigramCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    transitions3(docs, "doc_id", textCol)
      .groupBy(col("__p2").as("w1"), col("__p1").as("w2"), col("__c").as("w3"))
      .agg(count(lit(1)).as("cnt"))

  /** [[knTrigramScore]] from already-aggregated trigram (w1, w2, w3, cnt)
    * and bigram (w1, w2, cnt) relations — the serving form over maintained
    * count indexes. Both counts are additive monoids (n-grams never cross
    * documents, so they never cross batches), so a streaming drain's
    * served states score bit-identically to the batch train pass.
    */
  def knTrigramFromCounts(trigrams: DataFrame, bigrams: DataFrame,
                          score: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val t3 = policy.checkpoint(
      trigrams.select(col("w1").as("__p2"), col("w2").as("__p1"),
        col("w3").as("__c"), col("cnt").cast("long").as("__tc")))
    val c2 = t3.groupBy("__p2", "__p1")
      .agg(sum("__tc").cast("long").as("__c12"),
        count(lit(1)).cast("long").as("__n1fw2"))
    // the bigram level's relations, exactly as knScoreFromCounts builds them
    val big = policy.checkpoint(
      bigrams.select(col("w1").as("__p"), col("w2").as("__c"),
        col("cnt").cast("long").as("__bc")))
    val ctx = big.groupBy("__p")
      .agg(sum("__bc").cast("long").as("__pc"), count(lit(1)).cast("long").as("__n1fw"))
    val bw = big.groupBy("__c").agg(count(lit(1)).cast("long").as("__n1bw"))
    val btot = big.agg(count(lit(1)).cast("long").as("__B"))

    val n1bwFloored = greatest(coalesce(col("__n1bw"), lit(0L)), lit(1L))
    val biHit = col("__bc").isNotNull
    val biWarm = col("__pc").isNotNull
    val biCost =
      when(biHit, bitsOf(col("__pc") * 4) - bitsOf(col("__bc") * 4 - 3))
        .when(biWarm,
          bitsOf(col("__pc") * 4) + bitsOf(col("__B"))
            - bitsOf(col("__n1fw") * 3) - bitsOf(n1bwFloored))
        .otherwise(bitsOf(col("__B")) - bitsOf(n1bwFloored))
    val triHit = col("__tc").isNotNull
    val triWarm = col("__c12").isNotNull
    val cost =
      when(triHit, bitsOf(col("__c12") * 4) - bitsOf(col("__tc") * 4 - 3))
        .when(triWarm,
          bitsOf(col("__c12") * 4) - bitsOf(col("__n1fw2") * 3) + biCost)
        .otherwise(biCost)

    val scored = transitions3(score, idCol, textCol)
      .join(t3, Seq("__p2", "__p1", "__c"), "left")
      .join(c2, Seq("__p2", "__p1"), "left")
      .withColumn("__p", col("__p1"))
      .join(big, Seq("__p", "__c"), "left")
      .join(ctx, Seq("__p"), "left")
      .join(bw, Seq("__c"), "left")
      .crossJoin(broadcast(btot))
      .select(col(idCol),
        when(triHit, 1L).otherwise(0L).as("__hit"),
        when(!triHit && triWarm, 1L).otherwise(0L).as("__back"),
        when(!triWarm, 1L).otherwise(0L).as("__cold"),
        cost.as("__cost"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tri"), sum("__hit").as("n_hit3"),
        sum("__back").as("n_back3"), sum("__cold").as("n_cold3"),
        sum("__cost").as("kn3_bits"))
    score.select(idCol).join(scored, Seq(idCol), "left")
      .select(col(idCol) +: Seq("n_tri", "n_hit3", "n_back3", "n_cold3", "kn3_bits")
        .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
  }

  // ---- oracle -------------------------------------------------------------

  /** Transition stream of `documents` rows matching `pred` — q128's
    * lag-window idiom (same multiset as the engine's zip_with form).
    */
  private def transSql(name: String, pred: String): String =
    s"""
 ${name}_w AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS c,
    generate_subscripts(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''), 1) AS pos
  FROM documents WHERE $pred),
 $name AS (
  SELECT doc_id, lag(c) OVER (PARTITION BY doc_id ORDER BY pos) AS p, c
  FROM ${name}_w QUALIFY p IS NOT NULL)"""

  private val heldoutOracle: String =
    s"""WITH ${transSql("tt", "doc_id % 2 = 0").trim},
 ${transSql("st", "doc_id % 2 = 1").trim},
 b AS MATERIALIZED (SELECT p, c, CAST(count(1) AS BIGINT) AS bc FROM tt GROUP BY 1, 2),
 x AS (SELECT p, CAST(sum(bc) AS BIGINT) AS pc, CAST(count(1) AS BIGINT) AS n1fw
       FROM b GROUP BY 1),
 bw AS (SELECT c, CAST(count(1) AS BIGINT) AS n1bw FROM b GROUP BY 1),
 bt AS (SELECT CAST(count(1) AS BIGINT) AS btot FROM b),
 costed AS (
  SELECT st.doc_id,
    CASE WHEN b.bc IS NOT NULL THEN 1 ELSE 0 END AS hit,
    CASE WHEN b.bc IS NULL AND x.pc IS NOT NULL THEN 1 ELSE 0 END AS back,
    CASE WHEN x.pc IS NULL THEN 1 ELSE 0 END AS cold,
    CASE WHEN b.bc IS NOT NULL
           THEN length(bin(4 * x.pc)) - length(bin(4 * b.bc - 3))
         WHEN x.pc IS NOT NULL
           THEN length(bin(4 * x.pc)) + length(bin(bt.btot))
                - length(bin(3 * x.n1fw))
                - length(bin(greatest(coalesce(bw.n1bw, 0), 1)))
         ELSE length(bin(bt.btot))
              - length(bin(greatest(coalesce(bw.n1bw, 0), 1))) END AS cost
  FROM st LEFT JOIN b USING (p, c) LEFT JOIN x USING (p) LEFT JOIN bw USING (c), bt),
 s AS (
  SELECT doc_id, CAST(count(1) AS BIGINT) AS n_trans,
    CAST(sum(hit) AS BIGINT) AS n_hit, CAST(sum(back) AS BIGINT) AS n_backoff,
    CAST(sum(cold) AS BIGINT) AS n_cold, CAST(sum(cost) AS BIGINT) AS kn_bits
  FROM costed GROUP BY 1)
SELECT d.doc_id, coalesce(s.n_trans, 0) AS n_trans, coalesce(s.n_hit, 0) AS n_hit,
  coalesce(s.n_backoff, 0) AS n_backoff, coalesce(s.n_cold, 0) AS n_cold,
  coalesce(s.kn_bits, 0) AS kn_bits
FROM documents d LEFT JOIN s USING (doc_id)
WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"""

  private val trigramOracle: String =
    s"""WITH ${transSql("tt", "doc_id % 2 = 0").trim},
 tw3 AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS c,
    generate_subscripts(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''), 1) AS pos
  FROM documents WHERE doc_id % 2 = 0),
 tt3 AS (
  SELECT doc_id, lag(c, 2) OVER win AS p2, lag(c) OVER win AS p1, c
  FROM tw3 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY p2 IS NOT NULL),
 sw3 AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS c,
    generate_subscripts(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''), 1) AS pos
  FROM documents WHERE doc_id % 2 = 1),
 st3 AS (
  SELECT doc_id, lag(c, 2) OVER win AS p2, lag(c) OVER win AS p1, c
  FROM sw3 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY p2 IS NOT NULL),
 tb AS MATERIALIZED (
  SELECT p2, p1, c, CAST(count(1) AS BIGINT) AS tc FROM tt3 GROUP BY 1, 2, 3),
 c2 AS (SELECT p2, p1, CAST(sum(tc) AS BIGINT) AS c12,
          CAST(count(1) AS BIGINT) AS n1fw2 FROM tb GROUP BY 1, 2),
 b AS MATERIALIZED (SELECT p, c, CAST(count(1) AS BIGINT) AS bc FROM tt GROUP BY 1, 2),
 x AS (SELECT p, CAST(sum(bc) AS BIGINT) AS pc, CAST(count(1) AS BIGINT) AS n1fw
       FROM b GROUP BY 1),
 bw AS (SELECT c, CAST(count(1) AS BIGINT) AS n1bw FROM b GROUP BY 1),
 bt AS (SELECT CAST(count(1) AS BIGINT) AS btot FROM b),
 costed AS (
  SELECT s.doc_id,
    CASE WHEN tb.tc IS NOT NULL THEN 1 ELSE 0 END AS hit,
    CASE WHEN tb.tc IS NULL AND c2.c12 IS NOT NULL THEN 1 ELSE 0 END AS back,
    CASE WHEN c2.c12 IS NULL THEN 1 ELSE 0 END AS cold,
    CASE WHEN tb.tc IS NOT NULL
           THEN length(bin(4 * c2.c12)) - length(bin(4 * tb.tc - 3))
         WHEN c2.c12 IS NOT NULL
           THEN length(bin(4 * c2.c12)) - length(bin(3 * c2.n1fw2))
                + (CASE WHEN b.bc IS NOT NULL
                     THEN length(bin(4 * x.pc)) - length(bin(4 * b.bc - 3))
                   WHEN x.pc IS NOT NULL
                     THEN length(bin(4 * x.pc)) + length(bin(bt.btot))
                          - length(bin(3 * x.n1fw))
                          - length(bin(greatest(coalesce(bw.n1bw, 0), 1)))
                   ELSE length(bin(bt.btot))
                        - length(bin(greatest(coalesce(bw.n1bw, 0), 1))) END)
         ELSE (CASE WHEN b.bc IS NOT NULL
                 THEN length(bin(4 * x.pc)) - length(bin(4 * b.bc - 3))
               WHEN x.pc IS NOT NULL
                 THEN length(bin(4 * x.pc)) + length(bin(bt.btot))
                      - length(bin(3 * x.n1fw))
                      - length(bin(greatest(coalesce(bw.n1bw, 0), 1)))
               ELSE length(bin(bt.btot))
                    - length(bin(greatest(coalesce(bw.n1bw, 0), 1))) END) END AS cost
  FROM st3 s
  LEFT JOIN tb ON tb.p2 = s.p2 AND tb.p1 = s.p1 AND tb.c = s.c
  LEFT JOIN c2 ON c2.p2 = s.p2 AND c2.p1 = s.p1
  LEFT JOIN b ON b.p = s.p1 AND b.c = s.c
  LEFT JOIN x ON x.p = s.p1
  LEFT JOIN bw ON bw.c = s.c, bt),
 agg AS (
  SELECT doc_id, CAST(count(1) AS BIGINT) AS n_tri,
    CAST(sum(hit) AS BIGINT) AS n_hit3, CAST(sum(back) AS BIGINT) AS n_back3,
    CAST(sum(cold) AS BIGINT) AS n_cold3, CAST(sum(cost) AS BIGINT) AS kn3_bits
  FROM costed GROUP BY 1)
SELECT d.doc_id, coalesce(a.n_tri, 0) AS n_tri, coalesce(a.n_hit3, 0) AS n_hit3,
  coalesce(a.n_back3, 0) AS n_back3, coalesce(a.n_cold3, 0) AS n_cold3,
  coalesce(a.kn3_bits, 0) AS kn3_bits
FROM documents d LEFT JOIN agg a USING (doc_id)
WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"""

  // ---- declared queries ----------------------------------------------------

  val queries: Seq[Q] = Seq(

    // Held-out KN scoring — the CCNet deployment shape: train the bigram
    // model on the even-doc_id half, score the odd half. The odd half's
    // transitions hit all three branches organically (seen / discounted
    // backoff / cold context), and the output pins the branch routing
    // (n_hit + n_backoff + n_cold = n_trans per doc) alongside the summed
    // integer surprisal, so a wrong count relation, a wrong join, or a
    // wrong branch predicate all shift some row and fail the hash.
    Q("q280_kn_heldout", heldoutOracle) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      knBigramScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },

    // Streaming KN training-corpus maintenance: the reference half drains
    // in 4 micro-batches through the additive bigram-count index (the q247
    // protocol with (w1, w2) keys — bigrams never cross documents, so they
    // never cross batches), and the odd half is scored OVER THE SERVED
    // STATE. Scoring derives ctx/bw/B from the same counts, so the drain
    // must reproduce q280's batch table exactly — the oracle is q280's
    // verbatim.
    Q("q281_streaming_kn", heldoutOracle) { (s, d) =>
      val wh = graft.core.Scratch.dir("graft-q281")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val train = docs.filter(col("doc_id") % 2 === 0)
      graft.streaming.Feeds.write(train,
        (pmod(col("doc_id"), lit(6)) / 2).cast("int"), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new graft.streaming.AnchorCountIndex(s2, s"$wh/bigrams",
        maxChainDepth = 2,
        build = Curation.bigramCounts(_), keyCols = Seq("w1", "w2"))
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      graft.streaming.Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch)
        .awaitTermination()
      knScoreFromCounts(idx.served(), docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },

    // Trigram KN with two-level backoff — KenLM's default order. The
    // oracle replays the trigram counts, the (w1,w2) context relation,
    // the backoff penalty, and the FULL nested bigram rule at both
    // fallthrough sites, so a wrong branch at either level shifts some
    // doc's bits and fails the hash.
    Q("q286_kn_trigram", trigramOracle) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      knTrigramScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },

    // Streaming TRIGRAM maintenance: bigram and trigram counts are both
    // additive monoids, maintained as two count indexes under ONE drain
    // of the training half (the q276 two-index protocol); scoring the
    // odd half over the SERVED states must reproduce q286's batch table
    // exactly — the oracle is q286's verbatim.
    Q("q291_streaming_kn_trigram", trigramOracle) { (s, d) =>
      val wh = graft.core.Scratch.dir("graft-q291")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val train = docs.filter(col("doc_id") % 2 === 0)
      graft.streaming.Feeds.write(train,
        pmod(col("doc_id"), lit(6)) / 2, 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val biIdx = new graft.streaming.AnchorCountIndex(s2, s"$wh/bi",
        maxChainDepth = 2,
        build = Curation.bigramCounts(_), keyCols = Seq("w1", "w2"))
      val triIdx = new graft.streaming.AnchorCountIndex(s2, s"$wh/tri",
        maxChainDepth = 2,
        build = trigramCounts(_), keyCols = Seq("w1", "w2", "w3"))
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val q = graft.streaming.Streaming.drain(stream, s"$wh/ckpt") { (b, id) =>
        // independent indexes (separate tables, own replay gates)
        Par.both(biIdx.processBatch(b, id), triIdx.processBatch(b, id))
        ()
      }
      q.awaitTermination()
      knTrigramFromCounts(triIdx.served(), biIdx.served(),
        docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },
  )
}

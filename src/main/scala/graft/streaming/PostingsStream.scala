package graft.streaming

import graft.scale.Retrieval
import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming inverted-index maintenance — the lexical complement of
  * [[AnnStream]]: a document crawl drained into a persistent postings table
  * ([[graft.scale.Retrieval.invertedIndex]] shape: term, doc_id, tf) that
  * BM25 / champion-list serving reads directly. `build` swaps the postings
  * shape — the default is the tf index; pass
  * [[graft.scale.Retrieval.positionalIndex]] for phrase-serving postings
  * (any shape keyed by `doc_id` with a `term` column shares the whole
  * protocol, deletes included).
  *
  * Per micro-batch: tokenize and count ONLY the batch (one token-keyed
  * shuffle over batch text — per-batch cost O(batch), never the corpus) and
  * append the batch's postings as an APPEND version
  * ([[graft.write.VersionedTable.stageAppend]] — old files inherited by
  * reference, O(batch) bytes written). A crawl's doc_ids are new, so batch
  * postings can never collide with stored (term, doc_id) rows and the
  * merged read is exactly the batch-built index — no keyed merge needed.
  * What append semantics can't absorb is a foreachBatch REDELIVERY (same
  * rows twice); each batch commits through [[graft.write.BatchCommit]].
  *
  * Batch files are sorted by term before the write so each parquet file
  * carries a tight term min/max envelope — a single-term serving scan
  * row-group-prunes instead of reading the whole index. Periodic
  * [[compact]] collapses the append chain (q111's protocol);
  * [[Retrieval.topPostings]] over `served()` yields champion lists
  * identical to a batch build (q126, PostingsStreamSpec).
  *
  * Takedown deletes follow the [[graft.scale.AnnIndex]] LSM protocol
  * (q205/q212): [[delete]] appends the batch's doc ids to a sidecar
  * tombstone table — O(batch), the postings are NOT touched or even
  * versioned — and [[served]] anti-joins them out, so a deleted document
  * stops appearing in BM25/champion/phrase answers immediately.
  * [[compact]] physically purges the dead rows and truncates the tombstone
  * set. One asymmetry vs the ANN index: growth here is APPEND (new crawl
  * ids), not keyed upsert, so re-admitting a tombstoned id by append would
  * resurrect its still-present old rows as duplicates. A tombstoned id is
  * therefore REJECTED at ingest while its tombstone lives (delete stays
  * delete); after a compaction has physically purged it, a re-crawl
  * re-admits it cleanly — erase, then optionally re-ingest.
  */
final class PostingsIndex(spark: SparkSession, root: String,
                          maxChainDepth: Int = 16,
                          build: DataFrame => DataFrame =
                            Retrieval.invertedIndex(_, "doc_id", "text"),
                          maintainSidecars: Boolean = true) {

  val postings = new VersionedTable(spark, s"$root/postings")
  private val ts =
    new graft.write.TombstoneSet(spark, s"$root/tombstones", "doc_id",
      maxChainDepth)
  val tombstones: VersionedTable = ts.table

  /** Per-doc length sidecar: one (doc_id, len) row per indexed doc, len =
    * Σtf (the whitespace tokenizer's exact token count). Maintained as
    * additive batch partials — a crawl's doc ids are new, so each doc's
    * single row lands with its batch ([[AnchorCountIndex]]'s monoid
    * argument, trivially: disjoint keys). This is what makes BM25 serving
    * O(query) instead of O(index): [[bm25Serve]] joins it on candidate ids
    * only, never re-aggregating the postings for lengths.
    */
  val lengths = new VersionedTable(spark, s"$root/lengths")

  /** 1-row-per-batch corpus-stats partials (n_docs, sum_len); serving sums
    * the ≤ maxChainDepth rows — O(1). The invariant maintained everywhere
    * is `Σ stats == totals of the PHYSICAL lengths table` (tombstoned docs
    * included); serve-time stats subtract the tombstoned docs' totals via
    * a delete-batch-sized join, so deletes leave the scoring statistics
    * immediately, before any compaction.
    */
  val stats = new VersionedTable(spark, s"$root/stats")

  /** The batch's (doc_id, len) partial, computed scan-locally from the
    * batch TEXT (token count under the whitespace tokenizer — exactly Σtf
    * over the doc's postings, since every token lands in one posting; the
    * same identity for the positional build's Σ|positions|). Zero-token
    * docs hold no postings and are absent, matching bm25FromIndex's
    * relation. Projection-only — no shuffle, no dependence on the built
    * postings, so the sidecar promotes never force a second tokenize or a
    * batch checkpoint. A custom `build` with a DIFFERENT tokenizer must
    * pass maintainSidecars = false.
    */
  private def lenPartial(live: DataFrame): DataFrame =
    live.select(col("doc_id"),
        size(Retrieval.toks(col("text"))).cast("long").as("len"))
      .filter(col("len") > 0)
      // doc_id-sorted so the sidecar's parquet row groups carry tight id
      // envelopes — the candidate join's only ×index-sized touch is this
      // narrow two-long columnar scan
      .sortWithinPartitions("doc_id")

  private def statsPartial(lp: DataFrame): DataFrame =
    lp.agg(count(lit(1)).cast("long").as("n_docs"),
      coalesce(sum("len"), lit(0L)).as("sum_len"))

  /** Index one micro-batch of (doc_id, text). Callable directly so specs
    * drive controlled batch boundaries.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val sidecars = if (maintainSidecars) Seq(lengths, stats) else Nil
    BatchCommit(batchId, postings +: sidecars: _*) { commit =>
      val incoming = batch.select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      // a tombstoned id stays deleted while its tombstone lives: admitting
      // it would append NEW rows next to its not-yet-purged old rows (see
      // class scaladoc — the append-growth/upsert-growth asymmetry). Lazy
      // checkpoint: the first stage write to touch it materializes the
      // scan + anti-join; the concurrent stages below can race that
      // materialization and rescan the batch (bounded at batch size, in
      // otherwise-idle tasks; the anti-join is deterministic, so a rescan
      // yields the same rows) — still at-most what the OLD form paid, which
      // recomputed the anti-join serially in all three stages (r21).
      val live = ts.minus(incoming).localCheckpoint(false)
      val lp = lenPartial(live).localCheckpoint(false)
      // any promote order converges: each table's rows derive from the
      // batch and the tombstones alone, never from another table
      val sidecarStages =
        if (maintainSidecars)
          Seq(lengths -> (() => lengths.stageAppendOrCreate(lp)),
            stats -> (() => stats.stageAppendOrCreate(statsPartial(lp))))
        else Nil
      commit(Seq(postings -> (() => postings.stageAppendOrCreate(
        build(live).sortWithinPartitions("term")))) ++ sidecarStages: _*)
      // chain-depth policy: bounded read cost for a continuous drain
      // (amortized rewrite — see VersionedTable.compactIfNeeded); routed
      // through the purge-aware compaction so pending tombstones clear too
      if (postings.chainDepth > maxChainDepth) compact()
    }
  }

  /** Delete a batch of doc ids: O(batch) tombstone append, no postings
    * rewrite. Unknown ids are legal no-ops; re-deletes are idempotent.
    */
  def delete(deletedIds: DataFrame, idCol: String = "doc_id"): Unit =
    ts.add(deletedIds, idCol)

  /** The postings a query may serve from: the stored table minus tombstoned
    * docs. The tombstone side is delete-batch-sized, so AQE broadcasts the
    * anti-join — no shuffle lands on the postings.
    */
  def served(): DataFrame = ts.minus(postings.read())

  /** The length sidecar a serving join may read: tombstoned docs excluded
    * (they can hold no served postings anyway — belt and braces).
    */
  def servedLengths(): DataFrame = ts.minus(lengths.read())

  /** Corpus totals (n docs, Σ len) for scoring: Σ over the ≤ chain-depth
    * stats partials minus the tombstoned docs' totals (a delete-batch-sized
    * join against the sidecar). O(1) + O(|tombstones|) — never a scan of
    * the postings or the full sidecar.
    */
  def corpusTotals(): (Long, Long) = {
    val b = stats.read()
      .agg(coalesce(sum("n_docs"), lit(0L)), coalesce(sum("sum_len"), lit(0L)))
      .head()
    val (n, s) = (b.getLong(0), b.getLong(1))
    ts.dead() match {
      case Some(d) =>
        val r = lengths.read().join(d, Seq("doc_id"))
          .agg(count(lit(1)).cast("long"), coalesce(sum("len"), lit(0L)))
          .head()
        (n - r.getLong(0), s - r.getLong(1))
      case None => (n, s)
    }
  }

  /** BM25 over the live index, serving-shaped
    * ([[graft.scale.Retrieval.bm25FromSidecar]]): the plan scans the query
    * terms' postings (term-pruned), joins lengths on candidate ids, and
    * takes corpus stats from [[corpusTotals]] — O(query terms) + O(1), flat
    * as the index grows. Emits candidate docs only, which is
    * `bm25FromIndex(served(), terms)` minus its score-0 no-term rows.
    */
  def bm25Serve(terms: Seq[String], scoreCol: String = "score"): DataFrame = {
    require(lengths.exists && stats.exists,
      s"bm25Serve needs the length/stats sidecars at $root — index built " +
        "by an older protocol? run a fresh build")
    val (n, s) = corpusTotals()
    Retrieval.bm25FromSidecar(served(), servedLengths(), n, s, terms,
      scoreCol = scoreCol)
  }

  /** Collapse the append chain into one self-contained version; if
    * tombstones are pending, the rewrite drops the dead rows and a second
    * promote truncates the set (a crash between the two leaves stale
    * tombstones over purged rows — the anti-join matches nothing, the next
    * compaction clears them: convergent, the [[graft.scale.AnnIndex]]
    * argument). Rows re-sort by term so the row-group envelopes survive.
    */
  def compact(): Unit = {
    if (maintainSidecars)
      ts.purgeInto(
        postings -> ((df: DataFrame) => df.sortWithinPartitions("term")),
        lengths -> identity[DataFrame] _)
    else
      ts.purgeInto(
        postings -> ((df: DataFrame) => df.sortWithinPartitions("term")))
    // Re-base the stats chain on the (now purged) physical sidecar — this
    // restores the `Σ stats == totals(lengths)` invariant after a purge and
    // collapses the per-batch partial chain to one row either way. The one
    // convergent-not-exact crash window in this class: between the purge
    // above and this promote, [[corpusTotals]] over-counts the purged docs
    // (tombstones already truncated, so nothing subtracts them); the retry
    // or the next compaction restores exactness. Every other crash point
    // serves exact stats.
    if (stats.exists) {
      val total = lengths.read()
        .agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum("len"), lit(0L)).as("sum_len"))
      stats.promote(stats.stage(total), stats.currentTag)
    }
  }
}

/** Streaming FIELD-TAGGED inverted-index maintenance — the BM25F twin of
  * [[PostingsIndex]] (r16 verdict item 5: `bm25f` scored from docs
  * directly; the index path had no field dimension). Postings rows carry
  * (term, doc_id, field, tf), the length sidecar is one WIDE row per doc
  * (doc_id, len_<field>...), and the stats sidecar keeps per-field length
  * sums plus a doc count —
  * so [[bm25fServe]] can apply ANY serve-time field weighting from
  * O(query-terms) postings + a candidate-joined sidecar + O(1) stats,
  * exactly the [[PostingsIndex.bm25Serve]] shape with a field dimension.
  *
  * Everything else is [[PostingsIndex]]'s protocol verbatim: one
  * [[graft.write.BatchCommit]] per micro-batch, term-sorted batch files for
  * row-group pruning, LSM tombstone deletes with reject-while-tombstoned
  * re-ingest, purge-on-compact, and the `Σ stats == totals(lengths)`
  * invariant (per field) with serve-time tombstone subtraction.
  */
final class FieldedPostingsIndex(spark: SparkSession, root: String,
                                 fields: Seq[String],
                                 maxChainDepth: Int = 16) {
  require(fields.nonEmpty, "FieldedPostingsIndex needs >= 1 fields")

  val postings = new VersionedTable(spark, s"$root/postings")
  private val ts =
    new graft.write.TombstoneSet(spark, s"$root/tombstones", "doc_id",
      maxChainDepth)
  val tombstones: VersionedTable = ts.table

  /** Per-doc length sidecar, WIDE: one (doc_id, len_<field>...) row per doc
    * with any nonempty field. The wide layout is what keeps the serve-time
    * weighted length `Σ_f w_f·len_f` a pure PROJECTION over one narrow
    * columnar scan — the per-(doc, field) tall form would need a keyed
    * re-aggregation shuffle at every serve.
    */
  val lengths = new VersionedTable(spark, s"$root/lengths")

  /** Per-batch stats partials: one (n_docs, sum_<field>...) row. */
  val stats = new VersionedTable(spark, s"$root/stats")

  private def lenCols: Seq[String] = fields.map(f => s"len_$f")

  private def lenPartial(live: DataFrame): DataFrame =
    live.select(col("doc_id") +:
        fields.map(f => size(Retrieval.toks(col(f))).cast("long").as(s"len_$f")): _*)
      .filter(lenCols.map(col(_) > 0).reduce(_ || _))
      .sortWithinPartitions("doc_id")

  private def statsPartial(lp: DataFrame): DataFrame =
    lp.agg(count(lit(1)).cast("long").as("n_docs"),
      lenCols.map(c => coalesce(sum(c), lit(0L)).as(s"sum_$c")): _*)

  def processBatch(batch: DataFrame, batchId: Long): Unit =
    BatchCommit(batchId, postings, lengths, stats) { commit =>
      // reject-while-tombstoned (the PostingsIndex append-growth
      // asymmetry); lazy checkpoints, materialized ONCE by the count below
      // BEFORE the concurrent stage writes launch — three racing stages
      // would otherwise each recompute the batch scan + anti-join +
      // tokenize (the lazy-checkpoint race this round measured in
      // NnDescent); one count job replaces the two eager checkpoint jobs
      // the old form paid (r21)
      val live = ts.minus(batch.filter(col("doc_id").isNotNull))
        .localCheckpoint(false)
      val lp = lenPartial(live).localCheckpoint(false)
      lp.count()
      // PostingsIndex.processBatch's promote order, for its reason
      commit(postings -> (() => postings.stageAppendOrCreate(
          Retrieval.fieldedInvertedIndex(live, fields).sortWithinPartitions("term"))),
        lengths -> (() => lengths.stageAppendOrCreate(lp)),
        stats -> (() => stats.stageAppendOrCreate(statsPartial(lp))))
      if (postings.chainDepth > maxChainDepth) compact()
    }

  def delete(deletedIds: DataFrame, idCol: String = "doc_id"): Unit =
    ts.add(deletedIds, idCol)

  def served(): DataFrame = ts.minus(postings.read())

  def servedLengths(): DataFrame = ts.minus(lengths.read())

  /** (n docs, Σ_f w_f·Σ len_f) under `weights` — O(1) over the stats
    * partials minus the tombstoned docs' contribution (delete-batch-sized
    * join on the sidecar).
    */
  def corpusTotals(weights: Map[String, Long]): (Long, Long) = {
    def totalsOf(df: DataFrame, nCol: org.apache.spark.sql.Column): (Long, Long) = {
      val r = df.agg(nCol.as("n"),
          fields.map(f =>
            coalesce(sum(s"len_$f") * weights.getOrElse(f, 0L), lit(0L)))
            .reduce(_ + _).as("wl"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val b = stats.read()
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n"),
        fields.map(f =>
          coalesce(sum(s"sum_len_$f") * weights.getOrElse(f, 0L), lit(0L)))
          .reduce(_ + _).as("wl"))
      .head()
    var n = b.getLong(0)
    var wl = b.getLong(1)
    ts.dead().foreach { d =>
      val (dn, dwl) = totalsOf(lengths.read().join(d, Seq("doc_id")),
        count(lit(1)).cast("long"))
      n -= dn
      wl -= dwl
    }
    (n, wl)
  }

  /** BM25F over the live index, serving-shaped: the query terms'
    * field-tagged postings collapse to the weighted tf'
    * (`Σ_f w_f·tf_f` BEFORE saturation — the CIKM 2004 combination
    * [[graft.scale.Retrieval.bm25f]] uses), candidate docs join the
    * weighted length sidecar, corpus stats are O(1) scalars, and the rest
    * IS [[graft.scale.Retrieval.bm25FromSidecar]]. One term-pruned
    * postings scan; flat as the index grows.
    */
  def bm25fServe(weights: Seq[(String, Long)], terms: Seq[String],
                 scoreCol: String = "score"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 1),
      s"bm25fServe needs >= 1 fields with positive integer weights, got $weights")
    require(lengths.exists && stats.exists,
      s"bm25fServe needs the length/stats sidecars at $root")
    val wmap = weights.toMap
    val wexpr = weights.tail.foldLeft(
      when(col("field") === weights.head._1, lit(weights.head._2))) {
      case (acc, (f, w)) => acc.when(col("field") === f, lit(w))
    }.otherwise(lit(0L))
    val (n, wl) = corpusTotals(wmap)
    // weighted tf': one row per (term, doc) — any-field df falls out
    val combined = served().filter(col("term").isin(terms: _*))
      .groupBy("term", "doc_id")
      .agg(sum(col("tf") * wexpr).cast("long").as("tf"))
      .filter(col("tf") > 0)
    // weighted per-doc length: a PROJECTION over the wide sidecar (the
    // candidate inner join inside bm25FromSidecar prunes it — no keyed
    // re-aggregation, no second postings scan)
    val wlens = servedLengths().select(col("doc_id"),
      fields.map(f =>
        coalesce(col(s"len_$f"), lit(0L)) * wmap.getOrElse(f, 0L))
        .reduce(_ + _).cast("long").as("len"))
    Retrieval.bm25FromSidecar(combined, wlens, n, wl, terms, scoreCol = scoreCol)
  }

  /** Collapse + purge, then re-base the per-field stats on the purged
    * sidecar ([[PostingsIndex.compact]]'s protocol and crash argument).
    */
  def compact(): Unit = {
    ts.purgeInto(
      postings -> ((df: DataFrame) => df.sortWithinPartitions("term")),
      lengths -> identity[DataFrame] _)
    if (stats.exists) {
      val total = lengths.read()
        .agg(count(lit(1)).cast("long").as("n_docs"),
          lenCols.map(c => coalesce(sum(c), lit(0L)).as(s"sum_$c")): _*)
      stats.promote(stats.stage(total), stats.currentTag)
    }
  }
}

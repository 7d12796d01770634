package graft.streaming

import graft.write.{VersionedTable, Writers}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming forms of the engine's incremental semantics. The reference has
  * no streaming (SURVEY §2.10 — cron + incremental batch); these are the
  * north-star extensions: the same W3 merge as a foreachBatch sink, watermark
  * + windowed aggregation, session windows, and custom keyed state.
  *
  * Scale notes: every operator here is keyed (user_id / event_type / merge
  * keys), so state partitions across executors; watermarks bound state size;
  * the foreachBatch sink reuses the exact batch merge, so batch and stream
  * stay semantically identical (the Kappa-style guarantee).
  */
object Streaming {

  /** The one streaming drain: run `f` on every micro-batch the stream holds
    * now, with `(batch, batchId)`, then stop (`Trigger.AvailableNow`),
    * checkpointing progress at `checkpoint`. Spark redelivers a batch whose
    * checkpoint commit did not land under the same id, so `f` must be
    * idempotent per id: a keyed merge, or a [[graft.write.BatchCommit]].
    * `mode` matters only to stateful plans: stream-stream joins emit only in
    * Append, keyed-state operators only in Update; a stateless plan runs the
    * same under either.
    */
  def drain(stream: DataFrame, checkpoint: String,
            mode: OutputMode = OutputMode.Update())
           (f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)
      .trigger(Trigger.AvailableNow())
      .start()

  /** W3 as a streaming sink: each micro-batch is merged into the versioned
    * table with latest-wins dedup — identical semantics to the batch
    * pipeline, so a stream restart or duplicate delivery is absorbed the
    * same way the reference's re-run was.
    */
  def incrementalDedupSink(stream: DataFrame, table: VersionedTable,
                           keys: Seq[String], orderCols: Seq[String],
                           checkpoint: String,
                           // stream-stream joins only run in Append mode;
                           // keyed-state operators only in Update — the merge
                           // semantics downstream are identical either way
                           outputMode: OutputMode = OutputMode.Update()): StreamingQuery =
    drain(stream, checkpoint, outputMode) { (batch, _) =>
      table.incrementalDedup(batch, keys, orderCols)
    }

  /** CDC-merge sink: folds a changelog stream into a snapshot table by
    * GLOBAL latest-wins-by-`seqCol`, retaining delete tombstones in the
    * stored relation. Tombstones are what make the fold order-robust: if a
    * D were applied as a physical delete per batch (the q175 batch shape),
    * an older U arriving in a LATER micro-batch would resurrect the row —
    * with the tombstone kept, max-seq-per-key is associative and
    * commutative over any partition of the changelog into batches, so any
    * batching/arrival order converges to the batch applyChangelog answer
    * (spec law). Readers filter `op != 'D'`; a compaction can drop
    * tombstones once no older changes can arrive (same retention contract
    * as any CDC log). Per batch: one keyed rank-1 reduction over
    * table ∪ batch — the table stays key-bounded, never changelog-bounded.
    */
  def cdcMergeSink(changes: DataFrame, table: VersionedTable,
                   keys: Seq[String], seqCol: String, opCol: String,
                   checkpoint: String): StreamingQuery =
    drain(changes, checkpoint) { (batch, _) =>
      val existing = if (table.exists) table.read() else batch.limit(0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
      val merged = existing.unionByName(batch)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      table.promote(table.stage(merged))
    }

  /** Theta-sketch maintenance sink: each micro-batch's per-group sketch
    * merges into the stored state by re-selecting the k smallest hashes —
    * the sketch merge law run continuously. State is O(groups·k) forever;
    * the raw stream never lands. This is the canonical reason sketches are
    * built mergeable: the serving estimate after any drain equals the
    * batch sketch of everything seen (q191 certifies against q174's
    * oracle).
    */
  def thetaMergeSink(rows: DataFrame, table: VersionedTable, groupCol: String,
                     keyCol: String, k: Int, checkpoint: String): StreamingQuery =
    drain(rows, checkpoint) { (batch, _) =>
      val batchSketch = graft.scale.Sketches.thetaSketch(batch, groupCol, col(keyCol), k)
      val merged =
        if (table.exists)
          graft.ops.TopK.topKPerKey(
            table.read().unionByName(batchSketch).distinct(),
            Seq("g"), Seq(col("h").asc), k)
        else batchSketch
      table.promote(table.stage(merged))
    }

  /** Quantile-sketch maintenance sink: each micro-batch's per-group
    * hash-bottom sample merges into the stored state by re-selecting the
    * k smallest hashes (the KMV merge law run continuously, same shape as
    * [[thetaMergeSink]]). State O(groups·k) forever, the raw stream never
    * lands, and the served estimates after any drain equal the batch
    * sketch of everything seen (q210 certifies against q209's oracle;
    * the distinct in the merge makes a foreachBatch replay a no-op).
    */
  def quantileMergeSink(rows: DataFrame, table: VersionedTable, groupCol: String,
                        keyCol: String, valCol: String, k: Int,
                        checkpoint: String): StreamingQuery =
    drain(rows, checkpoint) { (batch, _) =>
      val batchSketch = graft.scale.Sketches.quantileSketch(
        batch, groupCol, col(keyCol), col(valCol), k)
      val merged =
        if (table.exists)
          graft.ops.TopK.topKPerKey(
            table.read().unionByName(batchSketch).distinct(),
            Seq("g"), Seq(col("h").asc, col("v").asc), k)
        else batchSketch
      table.promote(table.stage(merged))
    }

  /** Watermarked tumbling-window counts per event type: late events beyond
    * the watermark are dropped, window state is evicted once the watermark
    * passes — bounded state at any scale.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Windowed counts as a distributed sink: Update-mode rows from
    * [[windowedCounts]] are merged latest-wins into the versioned table
    * keyed by (window_start, event_type) — n_events is monotone within a
    * key, so ordering by it keeps the freshest count. This is the declared
    * 100 TB form: executors write parquet directly; nothing is ever
    * materialized on the driver (a memory sink + Complete mode re-collects
    * the whole result every micro-batch), and unlike a file sink in Append
    * mode it does not lose the trailing windows a finite source's watermark
    * never passes.
    */
  def windowedCountsSink(counts: DataFrame, table: VersionedTable,
                         checkpoint: String): StreamingQuery =
    drain(counts, checkpoint) { (batch, _) =>
      table.incrementalDedup(batch, keys = Seq("window_start", "event_type"),
      orderCols = Seq("n_events"))
    }

  /** Session windows (gap-based), the streaming twin of the batch q16
    * sessionization: a session closes after `gap` of inactivity per user.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n_events"))

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class UserRunning(user_id: Long, n_events: Long, n_purchases: Long)

  /** Custom keyed state via mapGroupsWithState: a running per-user profile
    * (event count, purchase count) maintained incrementally — the
    * KeyValueGroupedDataset state API the built-in aggregations can't
    * express. Production deployments pass ProcessingTimeTimeout (+
    * state.setTimeoutDuration) to keep abandoned keys evictable; note that
    * with a timeout the stream schedules continuous timeout-check batches.
    */
  def runningUserProfile(events: Dataset[UserEvent],
                         timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](timeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0L))
          var n = prev.n_events
          var p = prev.n_purchases
          batch.foreach { e =>
            n += 1
            if (e.event_type == "purchase") p += 1
          }
          val next = UserRunning(uid, n, p)
          state.update(next)
          next
      }
  }

  final case class SessEvent(user_id: Long, us: Long)
  final case class OpenSess(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Gap sessionization as custom keyed state — the streaming twin of batch
    * q16 with its EXACT boundary rule (`diff > gap` merges an exactly-gap
    * interval, where the built-in `session_window` starts a new session; the
    * built-in also refuses Update output mode, which the latest-wins drain
    * needs on a finite source — Append would swallow every user's trailing
    * session). State is ONE open session per user — O(users), not O(events),
    * so it partitions by user and stays bounded on any crawl. Each batch
    * sorts its events per user (micro-batch-sized, not corpus-sized), closes
    * and emits sessions as gaps appear, and re-emits the still-open session,
    * whose row a later batch supersedes via the (user_id, start_us) /
    * n_events latest-wins merge. Cross-batch caveat, same as q50/q85: an
    * out-of-order event arriving in a LATER batch that extends a session
    * backwards changes its start key and would strand the earlier row —
    * exact replay under arbitrary reordering needs time-ordered file
    * listing, which the single-batch AvailableNow drain satisfies.
    */
  def gapSessionize(events: DataFrame, gapUs: Long = 1800000000L): Dataset[OpenSess] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us")).as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSess, OpenSess](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[SessEvent], state: GroupState[OpenSess]) =>
          val ts = batch.map(_.us).toArray
          java.util.Arrays.sort(ts)
          val out = scala.collection.mutable.ListBuffer.empty[OpenSess]
          var cur = state.getOption.orNull
          ts.foreach { us =>
            if (cur == null) cur = OpenSess(uid, us, us, 1L)
            else if (us - cur.end_us > gapUs) {
              out += cur
              cur = OpenSess(uid, us, us, 1L)
            } else cur = OpenSess(uid, math.min(cur.start_us, us),
              math.max(cur.end_us, us), cur.n_events + 1L)
          }
          if (cur != null) { state.update(cur); out += cur }
          out.iterator
      }
  }

  /** Stream-stream interval join: purchases attributed to every click by the
    * same user within `window` before them — the funnel-attribution shape,
    * and the one streaming join Spark executes with BOUNDED state: the
    * watermarks plus the event-time range condition let each side evict
    * buffered rows once the other side's watermark passes their join
    * horizon, so state is O(events inside the watermark window), never the
    * stream's history. Inner join, so matches emit as soon as both sides
    * arrive (no watermark wait to EMIT, only to evict). Both inputs may be
    * the same stream (self-join) — Spark scans the source once per side.
    */
  def clickToPurchase(events: DataFrame, window: String = "15 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $window"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  final case class DocHash(doc_id: Long, h: String)
  final case class DocKeep(content_hash: String, keep_id: Long, copies: Long)

  /** Streaming twin of [[graft.scale.Dedup.exact]]: exact dedup by content
    * hash over a document stream — the continuous-crawl ingestion form.
    * Keyed state carries the running (min doc_id, copy count) per content
    * hash; every batch a hash appears in re-emits the UPDATED row (Update
    * semantics), so a downstream latest-wins merge keyed by the hash
    * converges to the batch operator's exact global answer under ANY
    * micro-batch partitioning of the input — a lower id or extra copies
    * arriving in a later batch revise the row instead of being silently
    * absorbed into unemittable state. Copies is monotone, so it doubles as
    * the merge's freshness order.
    *
    * Scale shape: state is keyed by the content hash, so it partitions
    * across executors and holds one (hash, id, count) row per distinct
    * document ever seen — the minimum any exact streaming dedup must carry.
    */
  def streamingExactDedup(docs: Dataset[DocHash]): Dataset[DocKeep] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.h)
      .flatMapGroupsWithState[DocKeep, DocKeep](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (h: String, batch: Iterator[DocHash], state: GroupState[DocKeep]) =>
          var minId = Long.MaxValue
          var n = 0L
          batch.foreach { d => n += 1; if (d.doc_id < minId) minId = d.doc_id }
          val prev = state.getOption.getOrElse(DocKeep(h, Long.MaxValue, 0L))
          val next = DocKeep(h, math.min(prev.keep_id, minId), prev.copies + n)
          state.update(next)
          Iterator.single(next)
      }
  }

  final case class TkEvent(user_id: Long, event_id: Long, value: Double)
  final case class TkRow(value: Double, event_id: Long)
  final case class TkState(n_seen: Long, rows: List[TkRow])
  final case class TkTop(user_id: Long, rnk: Int, event_id: Long, value: Double, n_seen: Long)

  /** Streaming per-key top-k — the continuous twin of the batch TopKPerKey
    * operator (graft.plans): each user's state is their current EXACT top-k
    * by (value desc, event_id asc), O(users × k) however long the stream
    * runs. Each batch merges its candidates into the state and re-emits the
    * user's full current top-k (Update mode); exact under any
    * micro-batching because topk(A ∪ B) = topk(topk(A) ∪ B). `n_seen`
    * counts this user's events ever seen — monotone, so it is the
    * latest-wins freshness order for the (user_id, rnk)-keyed drain (a
    * user's rank-r row only ever improves; users absent from a batch keep
    * their prior, still-correct rows).
    */
  def streamingTopKPerUser(events: DataFrame, k: Int = 3): Dataset[TkTop] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"))
      .as[TkEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TkState, TkTop](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TkEvent], state: GroupState[TkState]) =>
          val prev = state.getOption.getOrElse(TkState(0L, Nil))
          val incoming = batch.map(e => TkRow(e.value, e.event_id)).toList
          val merged = (prev.rows ++ incoming)
            .sortBy(r => (-r.value, r.event_id))
            .take(k)
          val next = TkState(prev.n_seen + incoming.length, merged)
          state.update(next)
          merged.iterator.zipWithIndex.map { case (r, i) =>
            TkTop(uid, i + 1, r.event_id, r.value, next.n_seen)
          }
      }
  }

  /** [[streamingExactDedup]] drained into a versioned table: Update-mode
    * rows merge latest-wins keyed by content_hash ordered by the monotone
    * copy count, so revisions from later batches supersede earlier rows and
    * a replayed micro-batch is absorbed idempotently.
    */
  def exactDedupSink(keeps: Dataset[DocKeep], table: VersionedTable,
                     checkpoint: String): StreamingQuery =
    drain(keeps.toDF(), checkpoint) { (batch, _) =>
      table.incrementalDedup(batch, keys = Seq("content_hash"),
      orderCols = Seq("copies"))
    }

  /** Read the documents table shape as a file stream (parquet) — the
    * readStream entry point for streaming curation.
    */
  def docsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
  }

  /** Read the embeddings table shape as a file stream (parquet) — the
    * readStream entry point for streaming vector ingestion.
    */
  def embeddingsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
  }

  /** Read the events table shape as a file stream (parquet), the
    * readStream entry point for the driver tables. Same ts-encoding handling
    * as graft.core.Tables.load (nanos-as-long vs native micros — see
    * Tables.normalizeTs).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Tables.ensureNanosConf(spark)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // the driver table is a single file; stream its parent dir with a glob
    // (FileStreamSource requires a directory basePath)
    graft.core.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }
}

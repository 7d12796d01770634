package graft.streaming

import graft.core.{Par, Q, Tables}
import graft.write.VersionedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

object StreamingQueries {

  /** Scratch warehouse/checkpoint dir for one streaming query — see
    * [[graft.core.Scratch]] (removal at JVM exit; a dir that outlives the
    * process was the round-9 advisory leak).
    */
  private def scratchDir(prefix: String): String = graft.core.Scratch.dir(prefix)

  /** The video families' shared seed fixture — every document's 4 base
    * frame hashes (asset_id, f, dhash) — materialized once per JVM per sf
    * dir ([[graft.core.FixtureCache]]): q223/q267/q302 all seed from it.
    */
  private def videoSeedHashesDir(s: org.apache.spark.sql.SparkSession,
                                 d: String): String = {
    val root = graft.core.FixtureCache.dir(s"video-seed-hashes@$d") { p =>
      import s.implicits._
      import graft.scale.{Multimodal => M}
      Tables.documents(s, d).select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .mapPartitions(_.flatMap { id =>
          (0 until 4).iterator.map(f =>
            (id, f, M.dHash56(M.synthFramePixels(id, f, pert = false), 64, 64)))
        })
        .toDF("asset_id", "f", "dhash")
        .write.parquet(s"$p/seeds")
    }
    s"$root/seeds"
  }

  /** A cached arrival-feed fixture: `build` synthesizes the encoded
    * payload relation once per JVM per (query, sf dir) into parquet
    * ([[graft.core.FixtureCache]] scaladoc — the container walk / codec
    * decode / banded vote / LSM lifecycle still run on every execution,
    * over identical bytes); returns the readStream over it.
    */
  private def cachedArrivalStream(s: org.apache.spark.sql.SparkSession,
                                  s2: org.apache.spark.sql.SparkSession,
                                  key: String)
                                 (build: String => Unit): org.apache.spark.sql.DataFrame = {
    val root = graft.core.FixtureCache.dir(key)(p => build(s"$p/feed"))
    s2.readStream.schema(s2.read.parquet(s"$root/feed").schema)
      .parquet(s"$root/feed")
  }

  val queries: Seq[Q] = Seq(

    // The full streaming W3 path, end-to-end inside the correctness gate:
    // events flows through readStream (AvailableNow) -> foreachBatch
    // latest-wins merge -> versioned promote; the promoted table must equal
    // the batch answer (event_id is unique, so the merged table is the
    // events table itself). This certifies batch/stream semantic parity.
    Q("q49_streaming_w3",
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q49")
      val table = new VersionedTable(s, s"$wh/events_merged")
      val stream = Streaming.eventsStream(s, d)
        .select("event_id", "user_id", "event_type", "ts", "value")
      val q = Streaming.incrementalDedupSink(stream, table,
        keys = Seq("event_id"), orderCols = Seq("ts"),
        checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      table.read()
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },

    // Streaming windowed aggregation (watermark + tumbling window) drained
    // with AvailableNow — must match the equivalent batch window query.
    // Perf note (r10 adjudication of the r7-r9 "regression"): the 2.5→3.8s
    // drift was entirely in COLD runs — first-run plan/codegen plus
    // checkpoint-dir setup, which on a shared VM spreads >2x run-to-run.
    // Warm (steady-state) medians are stable at ~1.3-1.4s at sf0.1
    // (5-rep sample: 2.48 cold-ish, then 1.39/1.32/1.35/1.29), and the
    // bench now reports warm medians as primary, so the number the
    // round-over-round compare sees is the micro-batch execution cost,
    // not JVM warmup noise.
    // Declared with the distributed sink (foreachBatch latest-wins merge into
    // a parquet-backed table): executors write directly, nothing lands on the
    // driver. The memory-sink/Complete form lives only in StreamingSpec.
    Q("q50_streaming_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(1) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q50")
      val table = new VersionedTable(s, s"$wh/window_counts")
      // State-partition sizing: the stateful agg keys on (window, event_type)
      // — dozens of keys, not millions — so 32 state-store partitions buy
      // nothing but per-partition store open/commit overhead. Size the
      // stream's shuffle to the key cardinality (the count is pinned into
      // the checkpoint at first start, so it must be set before .start()).
      // At 100 TB this is the same dial, set to keys/target-state-per-task.
      // The stream runs on an ISOLATED child session (shared SparkContext,
      // own SQLConf) so the sizing is invisible to concurrently executing
      // queries on the caller's session — the round-9 advisory against
      // mutate-and-restore on shared session state.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      // Watermark caveat: the driver table is a single parquet file, so
      // AvailableNow drains it as one micro-batch and eviction can never
      // drop a window before it is emitted. A multi-file source whose files
      // are not in event-time order could lose pre-watermark rows from later
      // batches in Update mode — replaying a finite backfill through this
      // query shape needs watermark=null (no eviction) or time-ordered file
      // listing; the latest-wins sink itself absorbs re-emission either way.
      val counts = Streaming.windowedCounts(
        Streaming.eventsStream(s2, d), windowLen = "1 hour", watermark = "1 hour")
      val q = Streaming.windowedCountsSink(counts, table, s"$wh/ckpt")
      q.awaitTermination()
      table.read()
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    },

    // Streaming exact dedup by content hash — the continuous-crawl
    // ingestion form of q25: documents flow through readStream, keyed
    // state carries the running (min-id, copies) per md5(text), and every
    // batch re-emits the revised row into a latest-wins merge — so the
    // drained table equals the batch dedup answer under ANY micro-batch
    // split of the input, not just a single-batch drain (same Kappa
    // parity framing as q49; cross-batch revision is spec'd in
    // StreamingSpec where the batch boundary is controlled).
    Q("q85_streaming_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(1) AS copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val wh = scratchDir("graft-q85")
      val table = new VersionedTable(s, s"$wh/doc_keeps")
      // state keys = distinct documents: size the state-store shuffle like
      // q50 sizes its window keys — on an isolated child session, same as
      // q50, so the caller's session conf is never touched
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val ds = Streaming.docsStream(s2, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .as[Streaming.DocHash]
      val q = Streaming.exactDedupSink(
        Streaming.streamingExactDedup(ds), table, s"$wh/ckpt")
      q.awaitTermination()
      table.read().orderBy("keep_id")
    },

    // Streaming curation: the q71 PII scrub applied to documents flowing
    // through readStream — a stateless transform composes onto a stream
    // unchanged (same Column expressions, no stream-specific rewrite),
    // drained through the latest-wins sink. The oracle IS q71's: the
    // Kappa-parity claim is that streaming ingestion of the same corpus
    // yields the batch answer byte for byte, extending the q49/q85 parity
    // story from write semantics to the curation surface.
    Q("q100_streaming_scrub",
      graft.scale.Curation.queries.find(_.name == "q71_pii_scrub").get.oracle.get) { (s, d) =>
      import org.apache.spark.sql.functions._
      val wh = scratchDir("graft-q100")
      val table = new VersionedTable(s, s"$wh/scrubbed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val seeded = Streaming.docsStream(s2, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      val scrubbed = graft.scale.Curation.scrubPii(seeded)
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"), col("text"))
      val q = Streaming.incrementalDedupSink(scrubbed, table,
        keys = Seq("doc_id"), orderCols = Seq("doc_id"), checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      table.read()
        .select("doc_id", "n_emails", "n_phones", "text")
        .orderBy("doc_id")
    },

    // Streaming near-dup dedup: a crawl's micro-batches are deduplicated
    // against the accumulated accepted corpus, not just themselves. The
    // index is SEEDED from the curated corpus in bulk (a crawl never
    // re-litigates its curated history — and the synthetic corpus contains
    // genuine chance near-dup pairs the oracle could not re-cluster in
    // SQL), then the q89 re-crawl construction streams in as a later crawl:
    // exact re-crawls and first-word-edited re-crawls. Each must drop
    // exactly where q89's batch operator drops it — MinHash band collision
    // against the PERSISTED signature index, verified by exact shingle
    // Jaccard >= 0.8 — so the oracle is the q89 oracle restricted to those
    // classes, unioned with the seeded corpus. Cross-batch laws (controlled
    // boundaries, within-batch clustering, replay idempotence) live in
    // StreamingNearDupSpec.
    Q("q101_streaming_neardup",
      """WITH old AS (SELECT doc_id, trim(text) AS text FROM documents
        |            WHERE doc_id % 20 < 10),
        | nw AS (
        |  SELECT doc_id + 300000 AS doc_id, text FROM old WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text[instr(text, ' ') + 1:]
        |  FROM old WHERE doc_id % 10 = 5),
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
        |SELECT doc_id, text FROM old
        |UNION ALL
        |SELECT doc_id, text FROM nw
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q101")
      // unlike q50/q85 (dozens of window keys), this query's stages carry
      // CPU-heavy shingle/verify work — an 8-way shuffle cap measured ~25%
      // SLOWER end-to-end than the session default by starving those stages
      // of cores, so the stream keeps the caller's sizing
      val s2 = s.newSession()
      val index = new NearDupIndex(s, s"$wh/ndi", threshold = 0.8)
      // 1/2 corpus sample keeping every mod-10 residue (doc_id % 20 < 10,
      // i.e. even doc_id div 10 — the recrawl classes are % 10 = 0 and 5);
      // the full-corpus seed build made this a ~36s bench entry (r17)
      val curated = graft.core.Tables.documents(s, d)
        .filter(col("doc_id") % 20 < 10)
        .select(col("doc_id"), trim(col("text")).as("text"))
      index.seed(curated)
      // a later crawl: exact re-crawls and trivially-edited re-crawls
      def stream() = Streaming.docsStream(s2, d)
        .filter(col("doc_id") % 20 < 10)
        .select(col("doc_id"), trim(col("text")).as("text"))
      val exactRecrawl = stream().filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 300000)
      val editedRecrawl = stream().filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      val crawl2 = exactRecrawl.unionByName(editedRecrawl)
      Streaming.drain(crawl2, s"$wh/ckpt2")(index.processBatch)
        .awaitTermination()
      index.survivors.read().orderBy("doc_id")
    },

    // Streaming ANN ingestion: q93's lifecycle-invariance claim reached
    // through a STREAM — the base index is built batch-side, then the twin
    // vectors arrive as a crawl micro-batch drained through annAppendSink
    // (per-cell patch append, replay-idempotent by upsert semantics), and
    // the probe must answer exactly as if the twins had been indexed from
    // the start. Same quantized brute-force oracle as q93: the serving
    // answer is ingestion-path-invariant (batch build, batch append, or
    // streamed append all hash to the same rows).
    Q("q106_streaming_ann",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      import graft.scale.AnnIndex
      val emb = graft.core.Tables.embeddings(s, d).select("vec_id", "embedding")
      val probes = emb.filter(col("vec_id") < 5)
      val wh = scratchDir("graft-q106")
      val root = s"$wh/ivf"
      AnnIndex.buildIvfIndex(emb, root)
      val s2 = s.newSession()
      val twins = Streaming.embeddingsStream(s2, d)
        .filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
        .select("vec_id", "embedding")
      AnnStream.annAppendSink(twins, root, s"$wh/ckpt").awaitTermination()
      AnnIndex.probeIvf(s, root, probes, k = 1, nProbe = 3)
        .filter(col("rnk") === 1)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    // Streaming IVF+PQ ingestion: q139's append lifecycle reached through a
    // STREAM — the composed index is built batch-side, the twin batch
    // arrives as a crawl micro-batch drained through pqAppendSink (fixed
    // models, per-cell patch append, replay-idempotent by upsert
    // semantics), and the probe must hash to exactly q139's answer: the
    // serving answer is ingestion-path-invariant for the PQ index too.
    Q("q140_streaming_ivfpq",
      graft.scale.Pq.queries.find(_.name == "q139_ivfpq_append").get.oracle.get) { (s, d) =>
      import graft.scale.Pq
      import org.apache.spark.sql.expressions.Window
      val emb = graft.core.Tables.embeddings(s, d).select("vec_id", "embedding")
      val wh = scratchDir("graft-q140")
      val root = s"$wh/ivfpq"
      Pq.buildIvfPqIndex(emb, root)
      val s2 = s.newSession()
      val twins = Streaming.embeddingsStream(s2, d)
        .filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
        .select("vec_id", "embedding")
      AnnStream.pqAppendSink(twins, root, s"$wh/ckpt").awaitTermination()
      Pq.probeIvfPq(s, root, emb.filter(col("vec_id") < 5), k = Pq.TopN, nProbe = Pq.NProbe)
        .select(col("qid").cast("long").as("qid"),
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").asc, col("nid").asc)).cast("long").as("rnk"),
          col("nid").cast("long").as("vec_id"),
          col("score").cast("long").as("score"))
        .orderBy("qid", "rnk")
    },

    // Streaming gap sessionization drained through the latest-wins sink —
    // the q16 batch answer reached through custom keyed state
    // (flatMapGroupsWithState), which reproduces batch q16's EXACT
    // `diff > gap` boundary rule (the built-in session_window splits an
    // exactly-gap interval AND refuses the Update output mode this drain
    // needs — in Append mode a finite source's watermark never passes the
    // trailing sessions, losing every user's last session). The sink keys
    // on (user_id, session_start) ordered by n_events, so a session
    // re-emitted by a later batch with more events supersedes its open-form
    // row. Output formats timestamps exactly as q16 does, so the oracle is
    // q16's chain re-keyed by session start instead of ordinal session id.
    Q("q107_streaming_sessions",
      """WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us FROM events),
        | lagged AS (SELECT user_id, ts, us,
        |   lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
        |   event_id FROM e),
        | flagged AS (SELECT user_id, ts, event_id,
        |   CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        |   FROM lagged),
        | sess AS (SELECT user_id, ts,
        |   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |   FROM flagged)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        | count(1) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q107")
      val table = new VersionedTable(s, s"$wh/sessions")
      val s2 = s.newSession()
      // session keys = users, not events — size the state shuffle like q50
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val sessions = Streaming.gapSessionize(Streaming.eventsStream(s2, d))
      val q = Streaming.incrementalDedupSink(sessions.toDF(),
        table, keys = Seq("user_id", "start_us"),
        orderCols = Seq("n_events"), checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      table.read()
        .select(col("user_id"),
          date_format(timestamp_micros(col("start_us")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(timestamp_micros(col("end_us")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Stream-stream interval self-join: every (click, purchase-within-15min)
    // pair by the same user, the funnel-attribution query as a streaming
    // join with bounded state (watermark + time-range condition evict both
    // sides' buffers). The batch oracle is the same interval join in SQL;
    // the drained pairs are immutable facts, so the keyed sink makes a
    // replayed batch a no-op rather than a duplicate pair.
    Q("q110_stream_join",
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        | strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        | strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.user_id % 2 = 0 AND p.user_id % 2 = 0
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q110")
      val table = new VersionedTable(s, s"$wh/pairs")
      val s2 = s.newSession()
      // join keys = users; interval-join state is watermark-bounded, small
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      // 1/2 user sample (oracle carries the same predicate): the stream-
      // stream interval-join law doesn't need the full event corpus, and
      // the full fixture helped push the r17 driver bench past its wall
      // clock (VERDICT r17 "What's wrong #1")
      val pairs = Streaming.clickToPurchase(
        Streaming.eventsStream(s2, d).filter(col("user_id") % 2 === 0))
      val q = Streaming.incrementalDedupSink(pairs,
        table, keys = Seq("click_id", "purchase_id"),
        orderCols = Seq("user_id"), checkpoint = s"$wh/ckpt",
        outputMode = OutputMode.Append())
      q.awaitTermination()
      table.read()
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"))
        .orderBy("click_id", "purchase_id")
    },

    // Streaming per-key top-k: the continuous twin of the TopKPerKey
    // operator (q114). Keyed state holds each user's exact running top-3 by
    // (value desc, event_id asc) — O(users × k) — and re-emits it per batch
    // (Update); the (user_id, rnk)-keyed latest-wins drain ordered by the
    // monotone n_seen converges to the batch rank answer under any
    // micro-batching. StreamingSpec pins the cross-batch law.
    Q("q115_streaming_topk",
      """SELECT user_id, rnk, event_id, value
        |FROM (SELECT user_id, event_id, value,
        |      row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rnk FROM events)
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q115")
      val table = new VersionedTable(s, s"$wh/topk")
      val s2 = s.newSession()
      // state keys = users — size the state shuffle like q50/q107
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val tops = Streaming.streamingTopKPerUser(Streaming.eventsStream(s2, d), k = 3)
      val q = Streaming.incrementalDedupSink(tops.toDF(), table,
        keys = Seq("user_id", "rnk"), orderCols = Seq("n_seen"),
        checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      table.read()
        .select(col("user_id"), col("rnk"), col("event_id"), col("value"))
        .orderBy("user_id", "rnk")
    },

    // Streaming inverted-index maintenance: the q120 champion lists reached
    // through a CRAWL — documents arrive as micro-batches, each appended to
    // the persistent postings table as an O(batch) append version, and
    // champion-list serving over the drained index must equal the batch
    // build exactly (ingestion-path invariance, the q106 claim for the
    // lexical side). Same oracle as q120; multi-batch growth, replay
    // idempotence and compaction parity live in PostingsStreamSpec.
    Q("q126_streaming_postings",
      """WITH p AS (
        |  SELECT g AS term, doc_id, CAST(count(1) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |               unnest(list_filter(string_split_regex(text, '\s+'),
        |                                  x -> x <> '')) AS g
        |        FROM documents)
        |  GROUP BY 1, 2),
        | r AS (
        |  SELECT term, doc_id, tf,
        |         CAST(row_number() OVER (PARTITION BY term
        |              ORDER BY tf DESC, doc_id) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT term, rnk, doc_id, tf FROM r WHERE rnk <= 3
        |ORDER BY term, rnk""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q126")
      // champion-list serving needs no BM25 length/stats sidecars — skip
      // their per-batch promotes (the q212 adjudication's constant)
      val index = new PostingsIndex(s, s"$wh/lex", maintainSidecars = false)
      val s2 = s.newSession()
      val docs = Streaming.docsStream(s2, d).select("doc_id", "text")
      Streaming.drain(docs, s"$wh/ckpt")(index.processBatch).awaitTermination()
      graft.scale.Retrieval.topPostings(index.postings.read(), k = 3)
        .select(col("term"), col("rnk"), col("doc_id"), col("tf"))
        .orderBy("term", "rnk")
    },

    // Serving-shaped BM25F (r16 verdict item 5): q285 scored fields from
    // the docs directly; here the SAME ranking is served from a
    // FIELD-TAGGED postings index maintained by a 4-batch drain — weighted
    // tf' from O(query-terms) field-tagged postings, weighted length from
    // the candidate-joined per-field sidecar, corpus stats O(1), weights
    // applied at SERVE time. The oracle is q285's arithmetic restricted to
    // candidate docs (a doc holding neither term can never score
    // positive); any drift in the fielded build, the sidecar sums, or the
    // weighted combination moves a milli-unit score and hash-fails.
    Q("q299_bm25f_serve",
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS bs,
        |    list_filter(string_split_regex(
        |      CASE WHEN doc_id % 11 = 0 THEN 'zebra guide' ELSE 'plain guide' END,
        |      '\s+'), x -> x <> '') AS ts2
        |  FROM documents),
        | w AS (SELECT doc_id, bs, ts2,
        |         CAST(len(bs) + 3 * len(ts2) AS BIGINT) AS wlen FROM d),
        | st AS (SELECT count(1) AS n, CAST(sum(wlen) AS BIGINT) AS s FROM w),
        | av AS (SELECT greatest(1, s // n) AS avg, n FROM st),
        | df AS (
        |  SELECT
        |    (SELECT count(1) FROM d
        |     WHERE list_contains(bs, 'zebra') OR list_contains(ts2, 'zebra')) AS df_z,
        |    (SELECT count(1) FROM d
        |     WHERE list_contains(bs, 'merge') OR list_contains(ts2, 'merge')) AS df_m),
        | idf AS (
        |  SELECT greatest(1, length(bin(n + 1)) - length(bin(df_z + 1))) AS i_z,
        |         greatest(1, length(bin(n + 1)) - length(bin(df_m + 1))) AS i_m
        |  FROM df CROSS JOIN av),
        | tf AS (
        |  SELECT doc_id, wlen,
        |    CAST(len(list_filter(bs, x -> x = 'zebra'))
        |         + 3 * len(list_filter(ts2, x -> x = 'zebra')) AS BIGINT) AS tf_zebra,
        |    CAST(len(list_filter(bs, x -> x = 'merge'))
        |         + 3 * len(list_filter(ts2, x -> x = 'merge')) AS BIGINT) AS tf_merge
        |  FROM w),
        | sc AS (
        |  SELECT doc_id, tf_zebra, tf_merge,
        |    (CASE WHEN tf_zebra > 0 THEN
        |       (1000 * i_z * 44 * avg * tf_zebra)
        |         // (20 * avg * tf_zebra + 6 * avg + 18 * wlen) ELSE 0 END
        |   + CASE WHEN tf_merge > 0 THEN
        |       (1000 * i_m * 44 * avg * tf_merge)
        |         // (20 * avg * tf_merge + 6 * avg + 18 * wlen) ELSE 0 END) AS score
        |  FROM tf CROSS JOIN idf CROSS JOIN av)
        |SELECT doc_id, tf_zebra, tf_merge, score FROM sc
        |WHERE tf_zebra > 0 OR tf_merge > 0
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q299")
      val index = new FieldedPostingsIndex(s, s"$wh/flex",
        fields = Seq("title", "text"))
      val s2 = s.newSession()
      val docs = Streaming.docsStream(s2, d).select(col("doc_id"), col("text"),
        when(col("doc_id") % 11 === 0, "zebra guide")
          .otherwise("plain guide").as("title"))
      Streaming.drain(docs, s"$wh/ckpt")(index.processBatch).awaitTermination()
      index.bm25fServe(Seq("title" -> 3L, "text" -> 1L), Seq("zebra", "merge"))
        .select("doc_id", "tf_zebra", "tf_merge", "score")
        .orderBy(col("score").desc, col("doc_id")).limit(25)
    },

    // Streaming CDC: the q175 changelog split into 4 files drained one per
    // micro-batch through cdcMergeSink — global latest-wins-by-seq with
    // tombstones retained, so ANY batching of the feed converges to the
    // batch applyChangelog answer. The oracle IS q175's: the hash equality
    // is the order-robustness law end to end.
    Q("q181_streaming_cdc",
      graft.ops.Temporal.queries.find(_.name == "q175_cdc_apply").get.oracle.get) { (s, d) =>
      val wh = scratchDir("graft-q181")
      val table = new VersionedTable(s, s"$wh/customers")
      // seed: snapshot rows as below-any-changelog-seq upserts
      val snapshot = Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("seq", lit(Long.MinValue)).withColumn("op", lit("U"))
      table.promote(table.stage(snapshot))
      val changes = Tables.orders(s, d).select(
        col("o_custkey").as("c_custkey"),
        col("o_orderpriority").as("c_mktsegment"),
        round(col("o_totalprice"), 2).as("c_acctbal"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 13 === 0, "D").otherwise("U").as("op"))
      Feeds.write(changes, pmod(col("seq"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val q = Streaming.cdcMergeSink(stream, table,
        Seq("c_custkey"), "seq", "op", s"$wh/ckpt")
      q.awaitTermination()
      table.read().filter(col("op") =!= "D").drop("seq", "op")
        .orderBy("c_custkey")
    },

    // Streaming rolling MAU: the events stream drains its deduped
    // (user, day) pairs into a versioned table via the W3 merge (O(batch)
    // per micro-batch, state bounded by distinct user-days, never raw
    // events), and the q178 bounded window-end expansion serves from the
    // table. The oracle IS q178's: streaming ingestion of the same corpus
    // must serve the identical rolling-distinct curve.
    Q("q187_streaming_mau",
      graft.ops.Behavioral.queries.find(_.name == "q178_rolling_mau").get.oracle.get) { (s, d) =>
      val wh = scratchDir("graft-q187")
      val table = new VersionedTable(s, s"$wh/userdays")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = Streaming.eventsStream(s2, d)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      val q = Streaming.incrementalDedupSink(stream, table,
        keys = Seq("user_id", "day"), orderCols = Seq("user_id", "day"),
        checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      val ud = table.read()
      val days = ud.select(col("day").as("wday")).distinct()
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .join(days, "wday")
        .groupBy("wday").agg(countDistinct("user_id").as("mau7"))
        .orderBy("wday")
    },

    // Streaming theta-sketch maintenance: per-event-type audience sketches
    // merged continuously (k-smallest re-selection per micro-batch, state
    // O(groups x k) forever), then the pairwise set-algebra estimates
    // served from the drained state. The oracle IS q174's - the streaming
    // merge must land byte-identical sketch state, which the estimate
    // columns then certify end to end.
    Q("q191_streaming_theta",
      graft.scale.Sketches.queries.find(_.name == "q174_theta_sets").get.oracle.get) { (s, d) =>
      val wh = scratchDir("graft-q191")
      val table = new VersionedTable(s, s"$wh/theta")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = Streaming.eventsStream(s2, d)
        .select(col("event_type"), col("user_id"))
      val q = Streaming.thetaMergeSink(stream, table,
        groupCol = "event_type", keyCol = "user_id", k = 64, checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      val events = Tables.events(s, d)
      val ua = events.select(col("event_type").as("g1"), col("user_id")).distinct()
      val ub = events.select(col("event_type").as("g2"), col("user_id")).distinct()
      val exact = ua.join(ub, "user_id").filter(col("g1") < col("g2"))
        .groupBy("g1", "g2").agg(count(lit(1)).as("exact_inter"))
      graft.scale.Sketches.thetaPairEstimates(table.read())
        .join(exact, Seq("g1", "g2"))
        .orderBy("g1", "g2")
    },

    // Streaming crawl front end: raw HTML pages (the q202 fixture wrapper)
    // arrive as a document stream; each micro-batch runs the jusText-lite
    // extraction IN the batch (scan-local string kernels — the text never
    // lands raw) and merges by doc_id into the extracted table. The
    // drained table must equal the batch extraction of the whole corpus:
    // the oracle is the shared extraction replay, so streaming vs batch
    // parity is value-exact per document.
    Q("q211_streaming_extract",
      s"""WITH ${graft.scale.Curation.htmlExtractionCtes}
         |SELECT doc_id, text FROM ext ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q211")
      val table = new VersionedTable(s, s"$wh/extracted")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = Streaming.docsStream(s2, d)
        .select(col("doc_id"),
          graft.scale.Curation.htmlFixture(col("doc_id"), col("text")).as("text"))
      val q = Streaming.drain(stream, s"$wh/ckpt") { (batch, _) =>
        table.incrementalDedup(graft.scale.Curation.extractText(batch),
          keys = Seq("doc_id"), orderCols = Seq("doc_id"))
      }
      q.awaitTermination()
      table.read().select("doc_id", "text").orderBy("doc_id")
    },

    // Streaming quantile-sketch maintenance: per-event-type hash-bottom
    // samples merged continuously (KMV re-selection per micro-batch, state
    // O(groups x k) forever), then p50/p90/p99 served from the drained
    // state beside the exact percentiles. The oracle IS q209's — the
    // streaming merge must land the identical sample, which the estimate
    // columns then certify end to end.
    Q("q210_streaming_quantile",
      graft.scale.Sketches.queries.find(_.name == "q209_quantile_sketch").get.oracle.get) { (s, d) =>
      val wh = scratchDir("graft-q210")
      val table = new VersionedTable(s, s"$wh/qsk")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = Streaming.eventsStream(s2, d)
        .select(col("event_type"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val q = Streaming.quantileMergeSink(stream, table,
        groupCol = "event_type", keyCol = "event_id", valCol = "cents",
        k = 128, checkpoint = s"$wh/ckpt")
      q.awaitTermination()
      val est = graft.scale.Sketches.quantileEstimates(table.read(),
        Seq(("p50_est", 50, 100), ("p90_est", 90, 100), ("p99_est", 99, 100)))
      val exact = graft.scale.Sampling.exactPercentilesByKey(
        Tables.events(s, d).select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents")),
        "event_type", "cents",
        Seq(("p50_exact", 50, 100), ("p90_exact", 90, 100), ("p99_exact", 99, 100)))
      est.join(exact.withColumnRenamed("event_type", "g"), "g")
        .select(col("g").as("event_type"), col("n_sample"), col("n_rows"),
          col("p50_est"), col("p90_est"), col("p99_est"),
          col("p50_exact"), col("p90_exact"), col("p99_exact"))
        .orderBy("event_type")
    },

    // Streaming graph analytics: co-supplier edges arrive in 4 micro-
    // batches; each batch maintains the triangle count by the q196
    // multiplicity decomposition against the edges-so-far and APPENDS the
    // batch into the edge table (stageAppend — O(batch) sink bytes, old
    // files inherited by reference; compaction bounds the read chain) -
    // O(batch x degree) per batch, the full graph never recounts or
    // rewrites. The oracle is the same full recount as q165/q196: any
    // batch split must land the exact total.
    Q("q198_streaming_triangles",
      """WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
        | pairs AS (
        |  SELECT a.sk AS u, b.sk AS v
        |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
        |  GROUP BY 1, 2 HAVING count(*) >= 6)
        |SELECT count(*) AS n_triangles
        |FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u
        |              JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin) { (s, d) =>
      import graft.scale.Graph
      val wh = scratchDir("graft-q198")
      val edges = new VersionedTable(s, s"$wh/edges")
      val stats = new VersionedTable(s, s"$wh/stats")
      // minShared = 6: a sparser association graph than q165/q196's — the
      // per-batch delta cost tracks batch x degree, and the streaming
      // lifecycle doesn't need the denser fixture to prove the law
      val pairs = Graph.coSupplierPairs(s, d, minShared = 6L).localCheckpoint()
      Feeds.write(pairs, pmod(col("u") * 31 + col("v"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val sink = new TriangleStream(edges, stats)
      Streaming.drain(stream, s"$wh/ckpt")(sink.processBatch).awaitTermination()
      stats.read()
    },

    // Takedown deletes reach the TEXT-index families (the r14 verdict's #2):
    // the q205/q208 LSM tombstone protocol generalized to the persistent
    // postings indexes. Documents with doc_id % 7 = 2 are erased after a
    // 4-batch drain; all three lexical serving surfaces — BM25 top-10
    // (served from the index alone via bm25FromIndex), champion lists for
    // the q119 terms, and positional phrase search 'table part' — must
    // answer exactly as an index built without the deleted docs, BEFORE
    // compaction (anti-join serve over tombstones) and AFTER (physical
    // purge). The positional family runs as a second PostingsIndex with the
    // positionalIndex builder — one protocol, two postings shapes.
    // Footprint/rejection/idempotence laws live in PostingsStreamSpec.
    Q("q212_postings_delete",
      """WITH live AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id % 7 <> 2 AND doc_id % 2 = 0),
        | p AS (
        |  SELECT g AS term, doc_id, CAST(count(1) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |               unnest(list_filter(string_split_regex(text, '\s+'),
        |                                  x -> x <> '')) AS g
        |        FROM live)
        |  GROUP BY 1, 2),
        | lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM p GROUP BY 1),
        | st AS (SELECT count(1) AS n, CAST(sum(len) AS BIGINT) AS s FROM lens),
        | av AS (SELECT greatest(1, s // n) AS avg, n FROM st),
        | df AS (SELECT
        |   (SELECT count(1) FROM p WHERE term = 'spark') AS df_spark,
        |   (SELECT count(1) FROM p WHERE term = 'merge') AS df_merge,
        |   (SELECT count(1) FROM p WHERE term = 'dup') AS df_dup),
        | idf AS (SELECT
        |   greatest(1, length(bin(n + 1)) - length(bin(df_spark + 1))) AS i_spark,
        |   greatest(1, length(bin(n + 1)) - length(bin(df_merge + 1))) AS i_merge,
        |   greatest(1, length(bin(n + 1)) - length(bin(df_dup + 1))) AS i_dup
        |  FROM df CROSS JOIN av),
        | qtf AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(sum(CASE WHEN term = 'spark' THEN tf END), 0) AS BIGINT) AS tf_spark,
        |    CAST(COALESCE(sum(CASE WHEN term = 'merge' THEN tf END), 0) AS BIGINT) AS tf_merge,
        |    CAST(COALESCE(sum(CASE WHEN term = 'dup' THEN tf END), 0) AS BIGINT) AS tf_dup
        |  FROM p GROUP BY 1),
        | sc AS (
        |  SELECT l.doc_id, l.len, t.tf_spark, t.tf_merge, t.tf_dup,
        |    (CASE WHEN tf_spark > 0 THEN
        |       (1000 * i_spark * 44 * avg * tf_spark)
        |         // (20 * avg * tf_spark + 6 * avg + 18 * len) ELSE 0 END
        |   + CASE WHEN tf_merge > 0 THEN
        |       (1000 * i_merge * 44 * avg * tf_merge)
        |         // (20 * avg * tf_merge + 6 * avg + 18 * len) ELSE 0 END
        |   + CASE WHEN tf_dup > 0 THEN
        |       (1000 * i_dup * 44 * avg * tf_dup)
        |         // (20 * avg * tf_dup + 6 * avg + 18 * len) ELSE 0 END) AS score
        |  FROM lens l JOIN qtf t USING (doc_id) CROSS JOIN idf CROSS JOIN av),
        | bm AS (
        |  SELECT 'bm25' AS surface, '' AS term,
        |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
        |         doc_id, score AS v
        |  FROM sc WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10),
        | champ AS (
        |  SELECT 'champ' AS surface, term, rnk, doc_id, tf AS v FROM (
        |    SELECT term, doc_id, tf,
        |           CAST(row_number() OVER (PARTITION BY term
        |                ORDER BY tf DESC, doc_id) AS BIGINT) AS rnk
        |    FROM p WHERE term IN ('spark', 'merge', 'dup'))
        |  WHERE rnk <= 3),
        | w AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term,
        |    generate_subscripts(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> x <> ''), 1) AS pos
        |  FROM live),
        | ph0 AS (
        |  SELECT a.doc_id, CAST(count(1) AS BIGINT) AS nm
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  WHERE a.term = 'table' AND b.term = 'part'
        |  GROUP BY 1),
        | ph AS (
        |  SELECT 'phrase' AS surface, '' AS term,
        |         CAST(row_number() OVER (ORDER BY nm DESC, doc_id) AS BIGINT) AS rnk,
        |         doc_id, nm AS v
        |  FROM ph0 ORDER BY nm DESC, doc_id LIMIT 10),
        | allr AS (SELECT * FROM bm UNION ALL SELECT * FROM champ
        |          UNION ALL SELECT * FROM ph)
        |SELECT phase, surface, term, rnk, doc_id, v
        |FROM allr CROSS JOIN (SELECT unnest(['served', 'compacted']) AS phase)
        |ORDER BY phase, surface, term, rnk""".stripMargin) { (s, d) =>
      import graft.scale.Retrieval
      val wh = scratchDir("graft-q212")
      val terms = Seq("spark", "merge", "dup")
      // 1/2 corpus sample (oracle carries the same predicate) — two full
      // postings builds made this the 5th-heaviest bench entry (r17).
      // r18 task 1: the two seeded index builds are the INPUT substrate,
      // cached once per JVM and cloned per execution; the deletes, all
      // three serving surfaces in both phases, and the compactions are
      // the certified lifecycle and re-run on the clone.
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 2 === 0)
      def mkIndexes(base: String) = (
        new PostingsIndex(s, s"$base/lex"),
        // phrase serving never reads doc-length statistics — skip the
        // per-batch sidecar promotes on the positional twin
        new PostingsIndex(s, s"$base/pos",
          build = df => Retrieval.positionalIndex(df), maintainSidecars = false))
      graft.core.FixtureCache.copied(s"postings-q212@$d", wh) { p =>
        val (l, po) = mkIndexes(p)
        for (i <- 0 until 3) {
          val b = docs.filter(pmod(col("doc_id"), lit(3)) === i)
          l.processBatch(b, i); po.processBatch(b, i)
        }
      }
      val (lex, pos) = mkIndexes(wh)
      val dead = docs.select("doc_id").filter(col("doc_id") % 7 === 2)
      lex.delete(dead); pos.delete(dead)
      def serve(phase: String) = {
        // serving-shaped BM25: candidate postings + length sidecar + O(1)
        // stats — the oracle certifies it equals the full-index replay
        val bm = graft.ops.TopK.rankedCut(
            lex.bm25Serve(terms).filter(col("score") > 0),
            10, "rnk", col("score").desc, col("doc_id"))
          .select(lit("bm25").as("surface"), lit("").as("term"),
            col("rnk"), col("doc_id"), col("score").as("v"))
        val champ = Retrieval.topPostings(
            lex.served().filter(col("term").isin(terms: _*)), k = 3)
          .select(lit("champ").as("surface"), col("term"),
            col("rnk"), col("doc_id"), col("tf").as("v"))
        val phr = graft.ops.TopK.rankedCut(
            Retrieval.phraseMatches(pos.served(), Seq("table", "part")),
            10, "rnk", col("n_matches").desc, col("doc_id"))
          .select(lit("phrase").as("surface"), lit("").as("term"),
            col("rnk"), col("doc_id"), col("n_matches").as("v"))
        bm.unionByName(champ).unionByName(phr).withColumn("phase", lit(phase))
      }
      val served = serve("served").localCheckpoint()
      lex.compact(); pos.compact()
      served.unionByName(serve("compacted"))
        .select("phase", "surface", "term", "rnk", "doc_id", "v")
        .orderBy("phase", "surface", "term", "rnk")
    },

    // Takedown deletes reach the near-dup signature index: erase the
    // doc_id % 10 = 0 class from a seeded NearDupIndex, then crawl exact
    // re-crawls of the ERASED docs (+300000) plus first-word-edited
    // re-crawls of the live % 10 = 5 class. The erased docs must (a) leave
    // the served corpus and (b) stop suppressing — every re-crawl of an
    // erased doc is ADMITTED unless it chance-matches a still-live doc
    // (the oracle cross-checks against the live corpus, q101-style), while
    // the edited re-crawls of live docs drop as before. Both phases of the
    // LSM lifecycle serve identically (anti-join, then physical purge).
    Q("q213_neardup_delete",
      """WITH old AS (SELECT doc_id, trim(text) AS text FROM documents),
        | liveold AS (SELECT doc_id, text FROM old WHERE doc_id % 10 <> 0),
        | nw AS (
        |  SELECT doc_id + 300000 AS doc_id, text FROM old WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text[instr(text, ' ') + 1:]
        |  FROM old WHERE doc_id % 10 = 5),
        | shn AS (SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(t) - 3, 0) + 2),
        |           i -> array_to_string(t[i:i+2], ' '))) AS sh
        |         FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM nw)),
        | sho AS (SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(t) - 3, 0) + 2),
        |           i -> array_to_string(t[i:i+2], ' '))) AS sh
        |         FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM liveold)),
        | dropped AS (
        |  SELECT DISTINCT n.doc_id
        |  FROM shn n, sho o
        |  WHERE CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE) /
        |        (len(n.sh) + len(o.sh) - len(list_intersect(n.sh, o.sh))) >= 0.8),
        | outp AS (
        |  SELECT doc_id, text FROM liveold
        |  UNION ALL
        |  SELECT doc_id, text FROM nw
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
        |SELECT phase, doc_id, text
        |FROM outp CROSS JOIN (SELECT unnest(['served', 'compacted']) AS phase)
        |ORDER BY phase, doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q213")
      val old = Tables.documents(s, d)
        .select(col("doc_id"), trim(col("text")).as("text"))
      // cached INPUT seed (the full-corpus signature build), cloned per
      // execution; the erase + re-crawl + both serve phases are certified
      graft.core.FixtureCache.copied(s"ndi-q213@$d", s"$wh/ndi") { p =>
        new NearDupIndex(s, p, threshold = 0.8).seed(old)
      }
      val index = new NearDupIndex(s, s"$wh/ndi", threshold = 0.8)
      index.delete(old.select("doc_id").filter(col("doc_id") % 10 === 0))
      val exactRecrawl = old.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 300000)
      val editedRecrawl = old.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      index.processBatch(exactRecrawl.unionByName(editedRecrawl), 0L)
      val served = index.servedSurvivors()
        .withColumn("phase", lit("served")).localCheckpoint()
      index.compactPurge()
      served.unionByName(
          index.servedSurvivors().withColumn("phase", lit("compacted")))
        .select("phase", "doc_id", "text")
        .orderBy("phase", "doc_id")
    },

    // Streaming IMAGE near-dup: the q216 perceptual-hash pipeline as a
    // continuous ingest. The index is seeded with every document's base
    // image hash; a later crawl then streams in real ENCODED payloads —
    // half-size GIF re-crawls (doc_id % 10 = 0), byte-different lossless
    // JPEG re-crawls (% 10 = 5), intensity-perturbed PNGs (% 10 = 7), and
    // genuinely NEW images (% 10 = 3, a fresh md5 stream) — which the sink
    // decodes through the real codecs, dHashes, within-batch clusters, and
    // bands against the persisted index. Every re-crawl twin must drop
    // (resolution and container vanish at the 8×8 pool; the perturbed twin
    // lands within Hamming 6), every new image must be admitted. The
    // oracle regenerates all hashes from the md5 arithmetic and replays
    // the exact accept rule — within-arrival components to min-id, then
    // brute-force Hamming against the seeded hashes (the banding is
    // exhaustive by pigeonhole at 8 bands / Hamming 6) — so the served
    // hash relation is certified value-for-value.
    Q("q219_streaming_phash",
      """WITH ids AS (SELECT doc_id FROM documents),
        | gv AS (
        |  SELECT aid, k,
        |    CASE WHEN pert AND k % 5 = 0 THEN (val + 2) % 256 ELSE val END AS val
        |  FROM (
        |    SELECT aid, k, pert,
        |      ('0x' || substr(md5(CAST(src AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 2))::BIGINT AS val
        |    FROM (
        |      SELECT doc_id AS aid, doc_id AS src, FALSE AS pert FROM ids
        |      UNION ALL
        |      SELECT doc_id + 500000, doc_id, FALSE FROM ids WHERE doc_id % 10 = 0
        |      UNION ALL
        |      SELECT doc_id + 600000, doc_id, FALSE FROM ids WHERE doc_id % 10 = 5
        |      UNION ALL
        |      SELECT doc_id + 700000, doc_id, TRUE FROM ids WHERE doc_id % 10 = 7
        |      UNION ALL
        |      SELECT doc_id + 800000, doc_id + 900000, FALSE FROM ids WHERE doc_id % 10 = 3)
        |    CROSS JOIN range(0, 64) t(k))),
        | hsh AS (
        |  SELECT aid,
        |    CAST(COALESCE(SUM(CASE WHEN nxt > val
        |      THEN CAST(1 AS BIGINT) << CAST((k // 8) * 7 + (k % 8) AS INTEGER)
        |      ELSE 0 END), 0) AS BIGINT) AS h
        |  FROM (SELECT aid, k, val, lead(val) OVER (PARTITION BY aid ORDER BY k) AS nxt
        |        FROM gv)
        |  WHERE k % 8 < 7 GROUP BY aid),
        | seeded AS (SELECT aid, h FROM hsh WHERE aid < 500000),
        | arr AS (SELECT aid, h FROM hsh WHERE aid >= 500000),
        | ap AS (SELECT a.aid AS ia, b.aid AS ib FROM arr a JOIN arr b ON a.aid < b.aid
        |        WHERE bit_count(xor(a.h, b.h)) <= 6),
        | asym AS (SELECT ia AS a, ib AS b FROM ap UNION ALL SELECT ib, ia FROM ap
        |          UNION ALL SELECT ia, ia FROM ap UNION ALL SELECT ib, ib FROM ap),
        | areach AS (
        |  WITH RECURSIVE r(s, t) AS (
        |    SELECT a, b FROM asym
        |    UNION
        |    SELECT r.s, e.b FROM r JOIN asym e ON e.a = r.t)
        |  SELECT s, t FROM r),
        | albl AS (SELECT s AS aid, MIN(t) AS cluster FROM areach GROUP BY s),
        | reps AS (SELECT a.aid, a.h FROM arr a LEFT JOIN albl l USING (aid)
        |          WHERE l.cluster IS NULL OR l.cluster = a.aid),
        | dropped AS (SELECT DISTINCT r.aid FROM reps r JOIN seeded s
        |             ON bit_count(xor(r.h, s.h)) <= 6)
        |SELECT aid AS asset_id, h AS dhash FROM seeded
        |UNION ALL
        |SELECT aid, h FROM reps WHERE aid NOT IN (SELECT aid FROM dropped)
        |ORDER BY asset_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q219")
      val s2 = s.newSession()
      val index = new PhashIndex(s, s"$wh/phi")
      import graft.scale.{Multimodal => M}
      locally {
        import s.implicits._
        val seedHashes = Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.map(id =>
            (id, M.dHash56(M.synthPixels(id, pert = false), 64, 64))))
          .toDF("asset_id", "dhash")
        index.seed(seedHashes)
      }
      val arrivals = {
        import s2.implicits._
        Streaming.docsStream(s2, d).select(col("doc_id"))
          .repartition(s2.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.flatMap { id =>
            val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], String)]()
            if (id % 10 == 0) {
              val (rw, rh, half) = M.halfSize(M.synthPixels(id, pert = false), 64, 64)
              out += ((id + 500000, M.gifEncodeGray(half, rw, rh), "gif"))
            }
            if (id % 10 == 5)
              out += ((id + 600000,
                M.jpegEncodeGray(M.synthPixels(id, pert = false), 64, 64,
                  M.JpegFlatQuant8), "jpeg"))
            if (id % 10 == 7)
              out += ((id + 700000,
                M.pngEncodeGray(M.synthPixels(id, pert = true), 64, 64), "png"))
            if (id % 10 == 3)
              out += ((id + 800000,
                M.pngEncodeGray(M.synthPixels(id + 900000, pert = false), 64, 64), "png"))
            out.iterator
          })
          .toDF("asset_id", "payload", "fmt")
      }
      Streaming.drain(arrivals, s"$wh/ckpt")(index.processBatch).awaitTermination()
      index.accepted()
        .select(col("asset_id").cast("long").as("asset_id"),
          col("dhash").cast("long").as("dhash"))
        .orderBy("asset_id")
    },

    // Takedown deletes reach the perceptual-hash image index — the last
    // index family without the LSM protocol. Erase the doc_id % 10 = 0
    // class from a seeded PhashIndex, then crawl exact re-crawls of the
    // ERASED images (+500000, real PNG payloads) plus perturbed re-crawls
    // of the live % 10 = 7 class (+700000). The erased images must (a)
    // leave the served hash relation and (b) stop suppressing — every
    // re-crawl of an erased image is ADMITTED unless it chance-lands
    // within Hamming 6 of a still-live hash (the oracle cross-checks
    // against the live set), while the perturbed twins of live images
    // drop as before. Both phases of the lifecycle serve identically
    // (anti-join, then physical purge + tombstone truncation).
    Q("q222_phash_delete",
      """WITH ids AS (SELECT doc_id FROM documents),
        | gv AS (
        |  SELECT aid, k,
        |    CASE WHEN pert AND k % 5 = 0 THEN (val + 2) % 256 ELSE val END AS val
        |  FROM (
        |    SELECT aid, k, pert,
        |      ('0x' || substr(md5(CAST(src AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 2))::BIGINT AS val
        |    FROM (
        |      SELECT doc_id AS aid, doc_id AS src, FALSE AS pert FROM ids
        |      UNION ALL SELECT doc_id + 500000, doc_id, FALSE FROM ids WHERE doc_id % 10 = 0
        |      UNION ALL SELECT doc_id + 700000, doc_id, TRUE FROM ids WHERE doc_id % 10 = 7)
        |    CROSS JOIN range(0, 64) t(k))),
        | hsh AS (
        |  SELECT aid,
        |    CAST(COALESCE(SUM(CASE WHEN nxt > val
        |      THEN CAST(1 AS BIGINT) << CAST((k // 8) * 7 + (k % 8) AS INTEGER)
        |      ELSE 0 END), 0) AS BIGINT) AS h
        |  FROM (SELECT aid, k, val, lead(val) OVER (PARTITION BY aid ORDER BY k) AS nxt
        |        FROM gv)
        |  WHERE k % 8 < 7 GROUP BY aid),
        | live AS (SELECT aid, h FROM hsh WHERE aid < 500000 AND aid % 10 <> 0),
        | arr AS (SELECT aid, h FROM hsh WHERE aid >= 500000),
        | ap AS (SELECT a.aid AS ia, b.aid AS ib FROM arr a JOIN arr b ON a.aid < b.aid
        |        WHERE bit_count(xor(a.h, b.h)) <= 6),
        | asym AS (SELECT ia AS a, ib AS b FROM ap UNION ALL SELECT ib, ia FROM ap
        |          UNION ALL SELECT ia, ia FROM ap UNION ALL SELECT ib, ib FROM ap),
        | areach AS (
        |  WITH RECURSIVE r(s, t) AS (
        |    SELECT a, b FROM asym
        |    UNION
        |    SELECT r.s, e.b FROM r JOIN asym e ON e.a = r.t)
        |  SELECT s, t FROM r),
        | albl AS (SELECT s AS aid, MIN(t) AS cluster FROM areach GROUP BY s),
        | reps AS (SELECT a.aid, a.h FROM arr a LEFT JOIN albl l USING (aid)
        |          WHERE l.cluster IS NULL OR l.cluster = a.aid),
        | dropped AS (SELECT DISTINCT r.aid FROM reps r JOIN live s
        |             ON bit_count(xor(r.h, s.h)) <= 6)
        |SELECT phase, asset_id, dhash FROM (
        |  SELECT aid AS asset_id, h AS dhash FROM live
        |  UNION ALL
        |  SELECT aid, h FROM reps WHERE aid NOT IN (SELECT aid FROM dropped))
        |CROSS JOIN (SELECT unnest(['served', 'compacted']) AS phase)
        |ORDER BY phase, asset_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q222")
      val index = new PhashIndex(s, s"$wh/phi")
      import graft.scale.{Multimodal => M}
      locally {
        import s.implicits._
        val seedHashes = Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.map(id =>
            (id, M.dHash56(M.synthPixels(id, pert = false), 64, 64))))
          .toDF("asset_id", "dhash")
        index.seed(seedHashes)
      }
      index.delete(Tables.documents(s, d).select(col("doc_id").as("asset_id"))
        .filter(col("asset_id") % 10 === 0))
      val batch = {
        import s.implicits._
        Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.flatMap { id =>
            val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], String)]()
            if (id % 10 == 0)
              out += ((id + 500000,
                M.pngEncodeGray(M.synthPixels(id, pert = false), 64, 64), "png"))
            if (id % 10 == 7)
              out += ((id + 700000,
                M.pngEncodeGray(M.synthPixels(id, pert = true), 64, 64), "png"))
            out.iterator
          })
          .toDF("asset_id", "payload", "fmt")
      }
      index.processBatch(batch, 0L)
      val served = index.served()
        .withColumn("phase", lit("served")).localCheckpoint()
      index.compactPurge()
      served.unionByName(index.served().withColumn("phase", lit("compacted")))
        .select(col("phase"), col("asset_id").cast("long").as("asset_id"),
          col("dhash").cast("long").as("dhash"))
        .orderBy("phase", "asset_id")
    },

    // Streaming VIDEO near-dup with takedown deletes — the q221 frame-vote
    // pipeline as a continuous ingest through a VideoPhashIndex, LSM
    // lifecycle included. The index is seeded with every document's
    // 4-frame base hashes; the doc_id % 10 = 0 class is then ERASED, and a
    // crawl streams in real animated-GIF payloads: half-resolution full
    // re-crawls of the erased videos (+500000 — must be ADMITTED, their
    // suppressor is gone), frame-dropped re-crawls keeping keyframes 0 and
    // 2 of live % 10 = 5 videos (+600000 — two surviving keyframes still
    // carry the >= 2-frame vote, so they DROP: the rule single-hash
    // schemes cannot express), perturbed re-crawls of live % 10 = 7
    // (+700000 — drop), and genuinely NEW videos (+800000 — admitted).
    // Both lifecycle phases serve identically; the oracle regenerates
    // every frame hash from the md5 arithmetic and replays decode → vote →
    // components → cross-batch vote against the live frame set.
    Q("q223_streaming_video",
      """WITH ids AS (SELECT doc_id FROM documents),
        | vids AS (
        |  SELECT doc_id AS aid, doc_id AS src, 'base' AS kind FROM ids
        |  UNION ALL SELECT doc_id + 500000, doc_id, 'half' FROM ids WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 600000, doc_id, 'drop' FROM ids WHERE doc_id % 10 = 5
        |  UNION ALL SELECT doc_id + 700000, doc_id, 'pert' FROM ids WHERE doc_id % 10 = 7
        |  UNION ALL SELECT doc_id + 800000, doc_id + 900000, 'new' FROM ids WHERE doc_id % 10 = 3),
        | vframes AS (
        |  SELECT aid, src, kind, f,
        |    CASE WHEN kind = 'drop' THEN 2 * f ELSE f END AS sf
        |  FROM vids CROSS JOIN range(0, 4) t(f)
        |  WHERE kind <> 'drop' OR f < 2),
        | gv AS (
        |  SELECT aid, f, k,
        |    CASE WHEN kind = 'pert' AND k % 5 = 0 THEN (val + 2) % 256 ELSE val END AS val
        |  FROM (
        |    SELECT aid, kind, f, k,
        |      ('0x' || substr(md5(CAST(src AS VARCHAR) || '_f' || CAST(sf AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 2))::BIGINT AS val
        |    FROM vframes CROSS JOIN range(0, 64) r(k))),
        | hsh AS (
        |  SELECT aid, f,
        |    CAST(COALESCE(SUM(CASE WHEN nxt > val
        |      THEN CAST(1 AS BIGINT) << CAST((k // 8) * 7 + (k % 8) AS INTEGER)
        |      ELSE 0 END), 0) AS BIGINT) AS h
        |  FROM (SELECT aid, f, k, val, lead(val) OVER (PARTITION BY aid, f ORDER BY k) AS nxt
        |        FROM gv)
        |  WHERE k % 8 < 7 GROUP BY aid, f),
        | liveh AS (SELECT aid, f, h FROM hsh WHERE aid < 500000 AND aid % 10 <> 0),
        | arrh AS (SELECT aid, f, h FROM hsh WHERE aid >= 500000),
        | ap AS (
        |  SELECT a.aid AS ia, b.aid AS ib
        |  FROM arrh a JOIN arrh b ON a.aid < b.aid
        |  WHERE bit_count(xor(a.h, b.h)) <= 6
        |  GROUP BY ia, ib HAVING COUNT(*) >= 2),
        | asym AS (SELECT ia AS a, ib AS b FROM ap UNION ALL SELECT ib, ia FROM ap
        |          UNION ALL SELECT ia, ia FROM ap UNION ALL SELECT ib, ib FROM ap),
        | areach AS (
        |  WITH RECURSIVE r(s, t) AS (
        |    SELECT a, b FROM asym
        |    UNION
        |    SELECT r.s, e.b FROM r JOIN asym e ON e.a = r.t)
        |  SELECT s, t FROM r),
        | albl AS (SELECT s AS aid, MIN(t) AS cluster FROM areach GROUP BY s),
        | repids AS (SELECT DISTINCT a.aid FROM arrh a LEFT JOIN albl l USING (aid)
        |            WHERE l.cluster IS NULL OR l.cluster = a.aid),
        | dropped AS (
        |  SELECT DISTINCT x.ia FROM (
        |    SELECT r.aid AS ia, s.aid AS ib, COUNT(*) AS nm
        |    FROM arrh r JOIN liveh s ON bit_count(xor(r.h, s.h)) <= 6
        |    WHERE r.aid IN (SELECT aid FROM repids)
        |    GROUP BY r.aid, s.aid) x
        |  WHERE x.nm >= 2)
        |SELECT phase, asset_id, f, dhash FROM (
        |  SELECT aid AS asset_id, f, h AS dhash FROM liveh
        |  UNION ALL
        |  SELECT aid, f, h FROM arrh
        |  WHERE aid IN (SELECT aid FROM repids) AND aid NOT IN (SELECT ia FROM dropped))
        |CROSS JOIN (SELECT unnest(['served', 'compacted']) AS phase)
        |ORDER BY phase, asset_id, f""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q223")
      val s2 = s.newSession()
      val index = new VideoPhashIndex(s, s"$wh/vphi")
      import graft.scale.{Multimodal => M}
      index.seed(s.read.parquet(videoSeedHashesDir(s, d)))
      index.delete(Tables.documents(s, d).select(col("doc_id").as("asset_id"))
        .filter(col("asset_id") % 10 === 0))
      val arrivals = cachedArrivalStream(s, s2, s"q223-arrivals@$d") { fp =>
        import s.implicits._
        Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.flatMap { id =>
            def frames(src: Long, pert: Boolean) =
              Array.tabulate(4)(f => M.synthFramePixels(src, f, pert))
            val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
            if (id % 10 == 0)
              out += ((id + 500000, M.gifEncodeGrayAnimated(
                frames(id, pert = false).map(fr => M.halfSize(fr, 64, 64)._3).toSeq,
                32, 32)))
            if (id % 10 == 5) {
              val fs = frames(id, pert = false)
              out += ((id + 600000, M.gifEncodeGrayAnimated(Seq(fs(0), fs(2)), 64, 64)))
            }
            if (id % 10 == 7)
              out += ((id + 700000, M.gifEncodeGrayAnimated(
                frames(id, pert = true).toSeq, 64, 64)))
            if (id % 10 == 3)
              out += ((id + 800000, M.gifEncodeGrayAnimated(
                frames(id + 900000, pert = false).toSeq, 64, 64)))
            out.iterator
          })
          .toDF("asset_id", "payload")
          .write.parquet(fp)
      }
      Streaming.drain(arrivals, s"$wh/ckpt")(index.processBatch)
        .awaitTermination()
      val served = index.served()
        .withColumn("phase", lit("served")).localCheckpoint()
      index.compactPurge()
      served.unionByName(index.served().withColumn("phase", lit("compacted")))
        .select(col("phase"), col("asset_id").cast("long").as("asset_id"),
          col("f").cast("int").as("f"), col("dhash").cast("long").as("dhash"))
        .orderBy("phase", "asset_id", "f")
    },

    // MIXED-CONTAINER streaming video near-dup: the q223 sink fed GIF and
    // MP4 payloads IN THE SAME DRAIN, dispatched by container magic
    // ([[graft.scale.Multimodal.videoDecodeGrayFrames]]) — the crawl
    // reality where a re-upload re-containers the content. Seeded with
    // every doc's base frame hashes; arrivals: full MJPEG-MP4 re-encodes
    // of live videos (+500000 — 4 exact frame votes, DROP: the
    // cross-container suppression this query exists to certify),
    // frame-dropped MP4 re-encodes keeping keyframes 0/2 (+600000 — 2
    // votes, DROP), perturbed GIFs (+700000 — within the Hamming budget,
    // DROP), and genuinely new MP4s (+800000 — ADMIT through the real
    // sample-table walk). The oracle regenerates every frame hash from
    // the md5 arithmetic (JPEG is lossless on the block-constant frames,
    // GIF always): admission is exactly "fewer than 2 frame matches
    // against the live set".
    Q("q267_streaming_video_mp4",
      """WITH ids AS (SELECT doc_id FROM documents),
        | vids AS (
        |  SELECT doc_id + 500000 AS aid, doc_id AS src, 'recon' AS kind FROM ids WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 600000, doc_id, 'drop' FROM ids WHERE doc_id % 10 = 5
        |  UNION ALL SELECT doc_id + 700000, doc_id, 'pert' FROM ids WHERE doc_id % 10 = 7
        |  UNION ALL SELECT doc_id + 800000, doc_id + 900000, 'new' FROM ids WHERE doc_id % 10 = 3),
        | vframes AS (
        |  SELECT aid, src, kind, f,
        |    CASE WHEN kind = 'drop' THEN 2 * f ELSE f END AS sf
        |  FROM vids CROSS JOIN range(0, 4) t(f)
        |  WHERE kind <> 'drop' OR f < 2),
        | gv AS (
        |  SELECT aid, f, k,
        |    CASE WHEN kind = 'pert' AND k % 5 = 0 THEN (val + 2) % 256 ELSE val END AS val
        |  FROM (
        |    SELECT aid, kind, f, k,
        |      ('0x' || substr(md5(CAST(src AS VARCHAR) || '_f' || CAST(sf AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 2))::BIGINT AS val
        |    FROM vframes CROSS JOIN range(0, 64) r(k))),
        | bgv AS (
        |  SELECT doc_id AS aid, f, k,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_f' || CAST(f AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 2))::BIGINT AS val
        |  FROM ids CROSS JOIN range(0, 4) t(f) CROSS JOIN range(0, 64) r(k)),
        | hsh AS (
        |  SELECT aid, f,
        |    CAST(COALESCE(SUM(CASE WHEN nxt > val
        |      THEN CAST(1 AS BIGINT) << CAST((k // 8) * 7 + (k % 8) AS INTEGER)
        |      ELSE 0 END), 0) AS BIGINT) AS h
        |  FROM (SELECT aid, f, k, val, lead(val) OVER (PARTITION BY aid, f ORDER BY k) AS nxt
        |        FROM (SELECT * FROM gv UNION ALL SELECT * FROM bgv))
        |  WHERE k % 8 < 7 GROUP BY aid, f),
        | liveh AS (SELECT aid, f, h FROM hsh WHERE aid < 500000),
        | arrh AS (SELECT aid, f, h FROM hsh WHERE aid >= 500000),
        | dropped AS (
        |  SELECT DISTINCT x.ia FROM (
        |    SELECT r.aid AS ia, s.aid AS ib, COUNT(*) AS nm
        |    FROM arrh r JOIN liveh s ON bit_count(xor(r.h, s.h)) <= 6
        |    GROUP BY r.aid, s.aid) x
        |  WHERE x.nm >= 2)
        |SELECT phase, asset_id, f, dhash FROM (
        |  SELECT aid AS asset_id, f, h AS dhash FROM liveh
        |  UNION ALL
        |  SELECT aid, f, h FROM arrh WHERE aid NOT IN (SELECT ia FROM dropped))
        |CROSS JOIN (SELECT unnest(['served', 'compacted']) AS phase)
        |ORDER BY phase, asset_id, f""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q267")
      val s2 = s.newSession()
      val index = new VideoPhashIndex(s, s"$wh/vphi")
      import graft.scale.{Multimodal => M}
      index.seed(s.read.parquet(videoSeedHashesDir(s, d)))
      val arrivals = cachedArrivalStream(s, s2, s"q267-arrivals@$d") { fp =>
        import s.implicits._
        Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.flatMap { id =>
            def frames(src: Long, pert: Boolean) =
              Array.tabulate(4)(f => M.synthFramePixels(src, f, pert))
            def mp4Of(fs: Seq[Array[Byte]]) = M.mp4MjpegBytes(
              fs.map(px => M.jpegEncodeGray(px, 64, 64, M.JpegFlatQuant8)), 64, 64)
            val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
            if (id % 10 == 1)
              out += ((id + 500000, mp4Of(frames(id, pert = false).toSeq)))
            if (id % 10 == 5) {
              val fs = frames(id, pert = false)
              out += ((id + 600000, mp4Of(Seq(fs(0), fs(2)))))
            }
            if (id % 10 == 7)
              out += ((id + 700000, M.gifEncodeGrayAnimated(
                frames(id, pert = true).toSeq, 64, 64)))
            if (id % 10 == 3)
              out += ((id + 800000, mp4Of(frames(id + 900000, pert = false).toSeq)))
            out.iterator
          })
          .toDF("asset_id", "payload")
          .write.parquet(fp)
      }
      Streaming.drain(arrivals, s"$wh/ckpt")(index.processBatch)
        .awaitTermination()
      val served = index.served()
        .withColumn("phase", lit("served")).localCheckpoint()
      index.compactPurge()
      served.unionByName(index.served().withColumn("phase", lit("compacted")))
        .select(col("phase"), col("asset_id").cast("long").as("asset_id"),
          col("f").cast("int").as("f"), col("dhash").cast("long").as("dhash"))
        .orderBy("phase", "asset_id", "f")
    },

    // ANIMATED-WEBP video near-dup: the third container of the q221/q267
    // frame-vote family. Arrivals are real VP8X+ANIM+ANMF files whose
    // frames are LOSSY VP8 key frames (the libwebp-certified codec):
    // re-encodes of seeded videos (+500000) and perturbed re-encodes
    // (+700000) land every frame within the 6-bit Hamming budget of the
    // seeds' exact hashes (worst measured 1 and 6 over the full bench id
    // range — integer-exact, so the margins cannot drift) and DROP on
    // frame votes; genuinely new animations (+800000) ADMIT. Takedowns
    // then erase the %10==0 seeds. Closed-form oracle, q296/q297 style:
    // pure arithmetic, reachable only through the real container walk,
    // per-frame VP8 decode, and the banded vote.
    Q("q302_streaming_video_webp",
      """WITH ids AS (SELECT doc_id FROM documents),
        | m AS (
        |  SELECT 'served' AS phase, doc_id AS asset_id FROM ids
        |  UNION ALL SELECT 'served', doc_id + 800000 FROM ids WHERE doc_id % 10 = 3
        |  UNION ALL SELECT 'compacted', doc_id FROM ids WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT 'compacted', doc_id + 800000 FROM ids WHERE doc_id % 10 = 3)
        |SELECT phase, CAST(asset_id AS BIGINT) AS asset_id FROM m
        |ORDER BY phase, asset_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q302")
      val s2 = s.newSession()
      val index = new VideoPhashIndex(s, s"$wh/vphi")
      import graft.scale.{Multimodal => M}
      index.seed(s.read.parquet(videoSeedHashesDir(s, d)))
      val arrivals = cachedArrivalStream(s, s2, s"q302-arrivals@$d") { fp =>
        import s.implicits._
        Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(_.flatMap { id =>
            def anim(src: Long, pert: Boolean) = M.webpEncodeGrayAnimatedVp8(
              Array.tabulate(4)(f => M.synthFramePixels(src, f, pert)).toSeq,
              64, 64, qIndex = 8)
            val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
            if (id % 10 == 1) out += ((id + 500000, anim(id, pert = false)))
            if (id % 10 == 7) out += ((id + 700000, anim(id, pert = true)))
            if (id % 10 == 3) out += ((id + 800000, anim(id + 900000, pert = false)))
            out.iterator
          })
          .toDF("asset_id", "payload")
          .write.parquet(fp)
      }
      Streaming.drain(arrivals, s"$wh/ckpt")(index.processBatch)
        .awaitTermination()
      val served = index.served().select("asset_id").distinct()
        .withColumn("phase", lit("served")).localCheckpoint()
      index.delete(Tables.documents(s, d).select(col("doc_id").as("asset_id"))
        .filter(col("asset_id") % 10 === 0))
      index.compactPurge()
      served.unionByName(index.served().select("asset_id").distinct()
          .withColumn("phase", lit("compacted")))
        .select(col("phase"), col("asset_id").cast("long").as("asset_id"))
        .orderBy("phase", "asset_id")
    },

    // avc1 audio-fallback vote (r16 verdict item 6): real crawl video is
    // overwhelmingly H.264, which the frame path refuses — but the
    // container usually keeps a PCM-decodable audio track. Every original
    // (decodable MJPEG MP4 + PCM track) stores its frame hashes AND one
    // audio-envelope row; avc1 arrivals decode NO frames yet are still
    // suppressed when their audio matches a stored envelope: same-audio
    // re-encodes (+500000) and half-gain re-encodes (+700000, the q224
    // gain-invariance) DROP via the audio modality alone, while avc1 with
    // genuinely new audio (+800000) ADMITS as an audio-only asset.
    // Takedowns then erase the %10==0 originals. The oracle is the
    // admission map in closed form — arithmetic, but only reachable
    // through the real two-track sample-table walk, PCM decode, envelope
    // hash, modality-pure banded vote, and tombstone purge; suppressing
    // via frame votes is impossible here (avc1 has none), so a broken
    // audio path admits a duplicate and diverges.
    Q("q297_streaming_avc1_audio_vote",
      """WITH ids AS (SELECT doc_id FROM documents),
        | m AS (
        |  SELECT 'served' AS phase, doc_id AS asset_id FROM ids
        |  UNION ALL SELECT 'served', doc_id + 800000 FROM ids WHERE doc_id % 10 = 3
        |  UNION ALL SELECT 'compacted', doc_id FROM ids WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT 'compacted', doc_id + 800000 FROM ids WHERE doc_id % 10 = 3)
        |SELECT phase, CAST(asset_id AS BIGINT) AS asset_id FROM m
        |ORDER BY phase, asset_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q297")
      val s2 = s.newSession()
      val index = new VideoPhashIndex(s, s"$wh/vphi")
      import graft.scale.{Multimodal => M}
      val arrivals = cachedArrivalStream(s, s2, s"q297-arrivals@$d") { fp =>
        import s.implicits._
        Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions { it =>
            val md = java.security.MessageDigest.getInstance("MD5")
            def b1(tag: String): Int = {
              md.reset(); md.digest(tag.getBytes("UTF-8"))(0).toInt & 0xff
            }
            // the q224 audio synthesis: well-separated bucket levels plus
            // per-sample jitter, so half-gain stays inside the Hamming
            // budget while distinct sources stay far apart
            def audio(src: Long, quiet: Boolean): Array[Short] =
              Array.tabulate(1024) { t =>
                val sb = b1(s"${src}_b${t / 16}") * 100 + b1(s"${src}_j$t") % 50
                (if (quiet) sb / 2 else sb).toShort
              }
            def origMp4(id: Long) = M.mp4AvcPcmBytes(
              Array.tabulate(2)(f => M.jpegEncodeGray(
                M.synthFramePixels(id, f, pert = false), 64, 64,
                M.JpegFlatQuant8)).toSeq,
              64, 64, Some(audio(id, quiet = false)), videoFourcc = "jpeg")
            def avc1(id: Long, audioSrc: Long, quiet: Boolean) = M.mp4AvcPcmBytes(
              Seq(Array.tabulate(64)(i => b1(s"${id}_v$i").toByte)),
              64, 64, Some(audio(audioSrc, quiet)), videoFourcc = "avc1")
            it.flatMap { id =>
              val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
              out += ((id, origMp4(id)))
              if (id % 10 == 1)
                out += ((id + 500000, avc1(id + 500000, id, quiet = false)))
              if (id % 10 == 7)
                out += ((id + 700000, avc1(id + 700000, id, quiet = true)))
              if (id % 10 == 3)
                out += ((id + 800000, avc1(id + 800000, id + 900000, quiet = false)))
              out.iterator
            }
          }
          .toDF("asset_id", "payload")
          .write.parquet(fp)
      }
      Streaming.drain(arrivals, s"$wh/ckpt")(index.processBatch)
        .awaitTermination()
      val served = index.served().select("asset_id").distinct()
        .withColumn("phase", lit("served")).localCheckpoint()
      index.delete(Tables.documents(s, d).select(col("doc_id").as("asset_id"))
        .filter(col("asset_id") % 10 === 0))
      index.compactPurge()
      served.unionByName(index.served().select("asset_id").distinct()
          .withColumn("phase", lit("compacted")))
        .select(col("phase"), col("asset_id").cast("long").as("asset_id"))
        .orderBy("phase", "asset_id")
    },

    // Streaming AUDIO near-dup — the q220 envelope-hash scheme as a
    // continuous ingest through the SAME PhashIndex that serves images
    // (the hash kernel dispatches on fmt: a WAV payload decodes through
    // the real PCM parser to the 64-slice envelope key). Seeded with every
    // document's base clip hash; the crawl then streams real WAV payloads:
    // half-gain re-uploads (doc_id % 10 = 0), 2:1-decimated re-uploads
    // (% 10 = 5), dithered re-uploads (% 10 = 7) — all DROP, the envelope
    // key is invariant to gain/rate/dither — and genuinely new clips
    // (% 10 = 3) which must be admitted. The oracle replays samples →
    // envelope → hash → the exact accept rule from the md5 arithmetic.
    Q("q224_streaming_audio",
      """WITH ids AS (SELECT doc_id FROM documents),
        | assets AS (
        |  SELECT doc_id AS aid, doc_id AS src, 'base' AS kind FROM ids
        |  UNION ALL SELECT doc_id + 500000, doc_id, 'quiet' FROM ids WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 600000, doc_id, 'deci' FROM ids WHERE doc_id % 10 = 5
        |  UNION ALL SELECT doc_id + 700000, doc_id, 'dither' FROM ids WHERE doc_id % 10 = 7
        |  UNION ALL SELECT doc_id + 800000, doc_id + 900000, 'base' FROM ids WHERE doc_id % 10 = 3),
        | samp AS (
        |  SELECT aid,
        |    CASE WHEN kind = 'deci' THEN t // 8 ELSE t // 16 END AS slice,
        |    CASE WHEN kind = 'deci' THEN 8 ELSE 16 END AS sl,
        |    CASE WHEN kind = 'quiet' THEN sb // 2
        |         WHEN kind = 'dither' THEN sb + CASE WHEN t % 7 = 0 THEN 1 ELSE 0 END
        |         ELSE sb END AS s
        |  FROM (
        |    SELECT aid, kind, t,
        |      ('0x' || substr(md5(CAST(src AS VARCHAR) || '_b' ||
        |         CAST((CASE WHEN kind = 'deci' THEN 2 * t ELSE t END) // 16 AS VARCHAR)), 1, 2))::BIGINT * 100
        |      + ('0x' || substr(md5(CAST(src AS VARCHAR) || '_j' ||
        |         CAST(CASE WHEN kind = 'deci' THEN 2 * t ELSE t END AS VARCHAR)), 1, 2))::BIGINT % 50 AS sb
        |    FROM assets CROSS JOIN range(0, 1024) r(t)
        |    WHERE kind <> 'deci' OR t < 512)),
        | env AS (
        |  SELECT aid, slice, (SUM(s) // MAX(sl)) // 128 AS val
        |  FROM samp GROUP BY aid, slice),
        | hsh AS (
        |  SELECT aid,
        |    CAST(COALESCE(SUM(CASE WHEN nxt > val
        |      THEN CAST(1 AS BIGINT) << CAST((slice // 8) * 7 + (slice % 8) AS INTEGER)
        |      ELSE 0 END), 0) AS BIGINT) AS h
        |  FROM (SELECT aid, slice, val, lead(val) OVER (PARTITION BY aid ORDER BY slice) AS nxt
        |        FROM env)
        |  WHERE slice % 8 < 7 GROUP BY aid),
        | seeded AS (SELECT aid, h FROM hsh WHERE aid < 500000),
        | arr AS (SELECT aid, h FROM hsh WHERE aid >= 500000),
        | ap AS (SELECT a.aid AS ia, b.aid AS ib FROM arr a JOIN arr b ON a.aid < b.aid
        |        WHERE bit_count(xor(a.h, b.h)) <= 6),
        | asym AS (SELECT ia AS a, ib AS b FROM ap UNION ALL SELECT ib, ia FROM ap
        |          UNION ALL SELECT ia, ia FROM ap UNION ALL SELECT ib, ib FROM ap),
        | areach AS (
        |  WITH RECURSIVE r(s, t) AS (
        |    SELECT a, b FROM asym
        |    UNION
        |    SELECT r.s, e.b FROM r JOIN asym e ON e.a = r.t)
        |  SELECT s, t FROM r),
        | albl AS (SELECT s AS aid, MIN(t) AS cluster FROM areach GROUP BY s),
        | reps AS (SELECT a.aid, a.h FROM arr a LEFT JOIN albl l USING (aid)
        |          WHERE l.cluster IS NULL OR l.cluster = a.aid),
        | dropped AS (SELECT DISTINCT r.aid FROM reps r JOIN seeded s
        |             ON bit_count(xor(r.h, s.h)) <= 6)
        |SELECT aid AS asset_id, h AS dhash FROM seeded
        |UNION ALL
        |SELECT aid, h FROM reps WHERE aid NOT IN (SELECT aid FROM dropped)
        |ORDER BY asset_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q224")
      val s2 = s.newSession()
      val index = new PhashIndex(s, s"$wh/phi")
      import graft.scale.{Multimodal => M}
      def b1(md: java.security.MessageDigest, tag: String): Int = {
        md.reset(); md.digest(tag.getBytes("UTF-8"))(0).toInt & 0xff
      }
      locally {
        import s.implicits._
        val seedHashes = Tables.documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions { it =>
            val md = java.security.MessageDigest.getInstance("MD5")
            it.map { id =>
              val base = Array.tabulate(1024)(t =>
                (b1(md, s"${id}_b${t / 16}") * 100 + b1(md, s"${id}_j$t") % 50).toShort)
              (id, M.dHash56(M.audioEnvelope64(base), 8, 8))
            }
          }
          .toDF("asset_id", "dhash")
        index.seed(seedHashes)
      }
      val arrivals = {
        import s2.implicits._
        Streaming.docsStream(s2, d).select(col("doc_id"))
          .repartition(s2.sparkContext.defaultParallelism).as[Long]
          .mapPartitions { it =>
            val md = java.security.MessageDigest.getInstance("MD5")
            it.flatMap { id =>
              def base(src: Long) = Array.tabulate(1024)(t =>
                (b1(md, s"${src}_b${t / 16}") * 100 + b1(md, s"${src}_j$t") % 50).toShort)
              val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], String)]()
              if (id % 10 == 0)
                out += ((id + 500000,
                  M.wavBytesPcm(8000, base(id).map(v => (v / 2).toShort)), "wav"))
              if (id % 10 == 5) {
                val b = base(id)
                out += ((id + 600000,
                  M.wavBytesPcm(4000, Array.tabulate(512)(t => b(2 * t))), "wav"))
              }
              if (id % 10 == 7) {
                val b = base(id)
                out += ((id + 700000, M.wavBytesPcm(8000, Array.tabulate(1024)(t =>
                  (b(t) + (if (t % 7 == 0) 1 else 0)).toShort)), "wav"))
              }
              if (id % 10 == 3)
                out += ((id + 800000, M.wavBytesPcm(8000, base(id + 900000)), "wav"))
              out.iterator
            }
          }
          .toDF("asset_id", "payload", "fmt")
      }
      Streaming.drain(arrivals, s"$wh/ckpt")(index.processBatch).awaitTermination()
      index.accepted()
        .select(col("asset_id").cast("long").as("asset_id"),
          col("dhash").cast("long").as("dhash"))
        .orderBy("asset_id")
    },

    // Streaming exact dedup with TTL state expiry: a crawl of 6 event days
    // drained day-by-day through a TtlDedupIndex(ttl=1). Content c (of 40
    // classes) is present on day d iff (d + c) % 4 < 2 — two-day runs of
    // sightings, two-day gaps — so each class is admitted at its first
    // sighting, suppressed while the stream keeps seeing it (sightings
    // refresh the window even when dropped), and re-admitted after every
    // gap that outlives the TTL; at sf >= 0.01 the same (c, day) pair
    // arrives multiply, exercising the in-batch same-day rule (only the
    // min-id sighting can admit). BOTH serving relations are certified:
    // the admitted log (the lag rule per class) and the final suppression
    // state, which must hold exactly the classes sighted within ttl of the
    // watermark — the eviction law, value-level. Replay idempotence,
    // out-of-order rejection, and state-footprint laws in TtlDedupSpec.
    Q("q230_ttl_dedup",
      """WITH feed AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 40 AS BIGINT) AS c,
        |         CAST((doc_id // 20) % 6 AS BIGINT) AS day
        |  FROM documents
        |  WHERE ((doc_id // 20) % 6 + doc_id % 40) % 4 < 2),
        | seq AS (
        |  SELECT doc_id, c, day,
        |    lag(day) OVER (PARTITION BY c ORDER BY day, doc_id) AS prev
        |  FROM feed),
        | adm AS (
        |  SELECT doc_id, c, day FROM seq WHERE prev IS NULL OR day - prev > 1),
        | wm AS (SELECT max(day) AS mx FROM feed),
        | st AS (SELECT c, max(day) AS last_seen FROM feed GROUP BY c),
        | live AS (SELECT c, last_seen FROM st CROSS JOIN wm
        |          WHERE mx - last_seen <= 1)
        |SELECT 'admit' AS phase, c, day AS v, doc_id FROM adm
        |UNION ALL SELECT 'state', c, last_seen, CAST(-1 AS BIGINT) FROM live
        |ORDER BY phase, c, v, doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q230")
      val sink = new TtlDedupIndex(s, s"$wh/ttl", ttlDays = 1L)
      val feed = Tables.documents(s, d).select(col("doc_id"),
          (col("doc_id") % 40).cast("long").as("c"),
          expr("CAST((doc_id div 20) % 6 AS BIGINT)").as("day"))
        .filter((col("day") + col("c")) % 4 < 2)
      // day-partitioned drop, drained oldest-first — the date-ordered
      // ingestion the sink's contract names
      Feeds.write(feed, col("day"), 6, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val q = Streaming.drain(stream, s"$wh/ckpt") { (b, id) =>
        sink.processBatch(b, id, idCol = "doc_id", keyCol = "c")
      }
      q.awaitTermination()
      sink.admitted.read()
        .select(lit("admit").as("phase"), col("key").as("c"),
          col("day").as("v"), col("id").as("doc_id"))
        .unionByName(sink.windowState()
          .select(lit("state").as("phase"), col("key").as("c"),
            col("last_seen").as("v"), lit(-1L).as("doc_id")))
        .orderBy("phase", "c", "v", "doc_id")
    },

    // Streaming token-budget admission: the q226 mixture manifest as a
    // continuous ingest. The 6-day crawl drains day-by-day through a
    // BudgetAdmitIndex whose budgets cross mid-stream (~day 4-5 at both
    // verify SFs), so the drain exercises open-budget batches, the
    // crossing batch (in-batch window + state offset), and fully-closed
    // batches; zh is unlisted and drops whole. The greedy rule is
    // prefix-closed, so the oracle replays the ENTIRE multi-batch drain
    // with one window over the feed in (day, doc_id) order — any state
    // fold, offset, or batch-boundary error lands extra/missing docs and
    // hash-fails. Both relations certified: the admitted log and the final
    // per-stratum consumed state. Replay/crash laws in BudgetStreamSpec.
    Q("q231_streaming_budget",
      """WITH b(lang, budget) AS (VALUES ('en', 6500), ('de', 2200), ('es', 2500), ('fr', 2300)),
        | feed AS (
        |  SELECT doc_id, lang, CAST((doc_id // 20) % 6 AS BIGINT) AS day,
        |    CAST(coalesce(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |                                  x -> x <> '')), 0) AS BIGINT) AS n_tokens
        |  FROM documents),
        | cums AS (
        |  SELECT doc_id, lang, day, n_tokens, budget,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY day, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM feed JOIN b USING (lang)),
        | adm AS (SELECT doc_id, lang, day, n_tokens FROM cums WHERE bef < budget),
        | stt AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS consumed
        |         FROM adm GROUP BY lang)
        |SELECT 'admit' AS phase, lang, day AS v, doc_id, n_tokens FROM adm
        |UNION ALL SELECT 'state', lang, consumed, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        |FROM stt
        |ORDER BY phase, lang, v, doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q231")
      val sink = new BudgetAdmitIndex(s, s"$wh/bud",
        Seq("en" -> 6500L, "de" -> 2200L, "es" -> 2500L, "fr" -> 2300L))
      val nTok = coalesce(size(filter(
        split(col("text"), graft.expressions.Ws.Regex), w => w =!= "")).cast("long"), lit(0L))
      val feed = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          expr("CAST((doc_id div 20) % 6 AS BIGINT)").as("day"),
          nTok.as("n_tokens"))
      Feeds.write(feed, col("day"), 6, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val q = Streaming.drain(stream, s"$wh/ckpt") { (b, id) =>
        sink.processBatch(b, id, idCol = "doc_id", stratumCol = "lang",
          nTokensCol = "n_tokens", seqCol = "day")
      }
      q.awaitTermination()
      sink.admitted.read()
        .select(lit("admit").as("phase"), col("stratum").as("lang"),
          col("seq").as("v"), col("id").as("doc_id"), col("n_tokens"))
        .unionByName(sink.consumed()
          .filter(col("consumed") > 0)
          .select(lit("state").as("phase"), col("stratum").as("lang"),
            col("consumed").as("v"), lit(-1L).as("doc_id"),
            lit(-1L).as("n_tokens")))
        .orderBy("phase", "lang", "v", "doc_id")
    },

    // Streaming ingestion for the graph-navigable index: q232's append
    // lifecycle reached through a STREAM — the base graph is built
    // batch-side, the twin batch arrives as a crawl micro-batch drained
    // through navAppendSink (O(batch) stageAppend of codes + out-links,
    // torn-append retries bit-identical), and both serve phases must hash
    // to exactly q232's rows: the serving answer is ingestion-path-
    // invariant for the navigable family too (batch append vs streamed
    // append). Batch ORDER is semantic for an approximate graph, so the
    // certified drain is the deterministic single-file arrival; the
    // multi-batch sequential-append equivalence is pinned in NnDescentSpec.
    Q("q235_streaming_nav",
      graft.scale.Recall.queries.find(_.name == "q232_ann_nav_append").get
        .oracle.get) { (s, d) =>
      import graft.scale.NnDescent
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val wh = scratchDir("graft-q235")
      // cached INPUT build (the "nav-core" key q218/q232 share — same
      // corpus, same knobs), cloned per execution; the streaming append
      // drain + serves + compact are the certified lifecycle
      graft.core.FixtureCache.copied(s"nav-core@$d", s"$wh/nav") { p =>
        new NnDescent.NavIndex(s, p, 8, 2).build(emb)
      }
      val idx = new NnDescent.NavIndex(s, s"$wh/nav", 8, 2)
      val s2 = s.newSession()
      val twins = Streaming.embeddingsStream(s2, d)
        .filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
        .select("vec_id", "embedding")
      // knobs MUST mirror q232's (the oracle is shared and generated from
      // Recall's constants — a literal here diverges silently when they move)
      AnnStream.navAppendSink(twins, idx, s"$wh/ckpt",
        beam = graft.scale.Recall.NavBeam, rounds = graft.scale.Recall.BeamRounds,
        nSeeds = graft.scale.Recall.Seeds).awaitTermination()
      val qs = emb.filter(col("vec_id") < 32)
      def serve(phase: String) =
        idx.probe(qs, 10, graft.scale.Recall.NavBeam,
          graft.scale.Recall.BeamRounds, graft.scale.Recall.Seeds)
          .withColumn("phase", lit(phase))
      val appended = serve("appended").localCheckpoint()
      idx.compact()
      appended.unionByName(serve("compacted"))
        .select(col("phase"), col("qid").cast("long").as("qid"),
          col("rnk").cast("long").as("rnk"), col("nid").cast("long").as("nid"),
          col("score").cast("long").as("score"))
        .orderBy("phase", "qid", "rnk")
    },

    // The live crawl's authority pipeline: documents arrive as micro-
    // batches; each batch's outlinks are extracted, canonicalized, and
    // collapsed to SYMMETRIC domain edges (both directions — the exact
    // incremental index's outdeg>=1 ∧ indeg>=1 contract; authority over
    // the undirected co-link relation), deduplicated against the edges
    // already indexed (replay-idempotent: a redelivered batch appends
    // nothing), and delta-applied through PageRankIndex.append — O(batch
    // × cone) per batch, never the graph. String domain nodes ride the
    // index's pluggable bucket key (a deterministic hash; bucket layout
    // is index-internal). The served final round must equal the full
    // recompute on the distinct union graph (q152's exactness law), so
    // the oracle is the batch-split-and-order-INVARIANT fresh replay:
    // fixture → links → domains → symmetric distinct edges → the three
    // pageRank rounds, full rank table.
    Q("q237_streaming_linkrank",
      "WITH " + graft.scale.Curation.linkDomainCtes + """,
        | e0 AS (
        |  SELECT DISTINCT 'site' || (doc_id % 10) || '.com' AS a, domain AS b
        |  FROM dom WHERE 'site' || (doc_id % 10) || '.com' <> domain),
        | eboth AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
        | deg AS (SELECT src, CAST(count(1) AS BIGINT) AS outdeg FROM eboth GROUP BY 1),
        | e AS (SELECT eb.src, eb.dst, deg.outdeg FROM eboth eb JOIN deg USING (src)),
        |""".stripMargin +
      s" r0 AS (SELECT src AS node, CAST(${graft.scale.Graph.Scale} AS BIGINT) AS r FROM deg),\n" +
      (1 to graft.scale.Graph.Iters).map(graft.scale.Graph.iterSql).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r${graft.scale.Graph.Iters} ORDER BY node") { (s, d) =>
      import graft.scale.{Curation, Graph}
      val wh = scratchDir("graft-q237")
      val docs = Tables.documents(s, d).select("doc_id")
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val idx = new Graph.PageRankIndex(s, s"$wh/pr", Graph.Iters, 16,
        c => abs(hash(c)).cast("long"))
      val edgesOut = new VersionedTable(s, s"$wh/pr/edges_out")
      def domainEdges(batch: org.apache.spark.sql.DataFrame) = {
        val pairs = batch
          .select(col("doc_id"),
            explode(Curation.extractLinks(
              Curation.linkFixture(col("doc_id")))).as("url"))
          .filter(col("url").rlike("(?i)^https?://"))
          .select(concat(lit("site"), col("doc_id") % 10, lit(".com")).as("a"),
            Curation.urlDomain(Curation.canonicalizeUrl(col("url"))).as("b"))
          .filter(col("a") =!= col("b"))
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
          .distinct()
      }
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val q = Streaming.drain(stream, s"$wh/ckpt") { (batch, _) =>
        // lazy checkpoints + count (r21): extract, anti-join and the
        // emptiness answer land in ONE job instead of three (guide §2.4)
        val e = domainEdges(batch).localCheckpoint(false)
        if (!edgesOut.exists) { idx.build(e); () }
        else {
          val fresh = e.join(edgesOut.read().select("src", "dst"),
            Seq("src", "dst"), "left_anti").localCheckpoint(false)
          if (fresh.count() > 0) { idx.append(fresh); () }
        }
      }
      q.awaitTermination()
      idx.ranks(Graph.Iters)
        .select(col("node"), col("rank").cast("long").as("rank"))
        .orderBy("node")
    },

    // Streaming anchor-text index: the crawl drained one file per
    // micro-batch through AnchorCountIndex (O(batch) count partials,
    // stamped batch ids, chain depth 2 to force mid-drain compactions);
    // the served top-3 anchor terms per target domain must equal the
    // batch build — the oracle is q243's full-corpus replay verbatim
    // (count partials form a commutative monoid, so the drain is
    // batch-split invariant, not approximately so).
    Q("q247_streaming_anchor_index",
      "WITH " + graft.scale.Curation.anchorDomainCtes + """,
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
      val wh = scratchDir("graft-q247")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new AnchorCountIndex(s2, s"$wh/anchor", maxChainDepth = 2)
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      idx.served()
        .withColumn("rnk", row_number().over(Window.partitionBy("domain")
          .orderBy(col("cnt").desc, col("term"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("domain"), col("rnk"), col("term"), col("cnt"))
        .orderBy("domain", "rnk")
    },

    // Streaming exact-substring admission guard: a 4-batch crawl drains
    // through SpanGuardIndex — a doc is admitted iff none of its 16-token
    // spans was seen in an earlier batch (md5 span hashes, so the oracle
    // recomputes the whole drain as ONE min-batch-per-span aggregate; the
    // planted q253-style tail means every 7th doc collides). Within-batch
    // sharers are concurrent and both admit; every seen doc's spans enter
    // the index whether admitted or not (the non-recursive TtlDedup rule).
    Q("q257_streaming_span_guard",
      s"""WITH b AS (SELECT doc_id, doc_id % 3 AS batch,
         |   list_filter(string_split_regex(
         |     CASE WHEN doc_id % 7 = 0
         |          THEN text || ' ${graft.scale.SuffixArray.PlantedPhrase}'
         |          ELSE text END, '[ \\t\\n\\f\\r]+'), x -> x <> '') AS ts
         | FROM documents),
         | sh AS (SELECT DISTINCT doc_id, batch, md5(g) AS h FROM (
         |   SELECT doc_id, batch,
         |     CASE WHEN len(ts) < 16 THEN array_to_string(ts, ' ')
         |          ELSE array_to_string(ts[i : i + 15], ' ') END AS g
         |   FROM (SELECT doc_id, batch, ts,
         |           unnest(range(1, greatest(len(ts) - 14, 2))) AS i FROM b) q) q2),
         | firstb AS (SELECT h, min(batch) AS fb FROM sh GROUP BY 1),
         | rej AS (SELECT DISTINCT s.doc_id FROM sh s
         |         JOIN firstb f ON s.h = f.h WHERE f.fb < s.batch)
         |SELECT b.doc_id, r.doc_id IS NULL AS admitted
         |FROM b LEFT JOIN rej r ON b.doc_id = r.doc_id
         |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q257")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" " + graft.scale.SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new SpanGuardIndex(s2, s"$wh/guard", maxChainDepth = 2)
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      docs.select("doc_id")
        .join(idx.admitted.read().withColumn("__a", lit(1)),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("__a").isNotNull.as("admitted"))
        .orderBy("doc_id")
    },

    // Streaming EVAL-DECONTAMINATION guard: the q257 admission machinery
    // in FROZEN (screen-only) mode — the span index is seeded with the
    // eval suite's 8-gram spans and never grows, so every arriving doc is
    // screened against exactly the eval set: quote a benchmark anywhere
    // (the planted 16-token phrase on every 7th doc) and the doc drops;
    // everything else admits regardless of batch order. Frozen state
    // makes the drain trivially batch-split-invariant, and the oracle is
    // the closed form "admitted iff no shared 8-gram with the eval text"
    // — no batch column at all.
    Q("q270_streaming_eval_guard",
      s"""WITH b AS (SELECT doc_id,
         |   list_filter(string_split_regex(
         |     CASE WHEN doc_id % 7 = 0
         |          THEN text || ' ${graft.scale.SuffixArray.PlantedPhrase}'
         |          ELSE text END, '[ \\t\\n\\f\\r]+'), x -> x <> '') AS ts
         | FROM documents),
         | sh AS (SELECT DISTINCT doc_id, md5(g) AS h FROM (
         |   SELECT doc_id,
         |     CASE WHEN len(ts) < 8 THEN array_to_string(ts, ' ')
         |          ELSE array_to_string(ts[i : i + 7], ' ') END AS g
         |   FROM (SELECT doc_id, ts,
         |           unnest(range(1, greatest(len(ts) - 6, 2))) AS i FROM b) q) q2),
         | etl AS (SELECT list_filter(string_split_regex(
         |           '${graft.scale.SuffixArray.PlantedPhrase}', '[ \\t\\n\\f\\r]+'),
         |           x -> x <> '') AS ts),
         | egr AS (SELECT DISTINCT md5(
         |     CASE WHEN len(ts) < 8 THEN array_to_string(ts, ' ')
         |          ELSE array_to_string(ts[i : i + 7], ' ') END) AS h
         |   FROM (SELECT ts, unnest(range(1, greatest(len(ts) - 6, 2))) AS i
         |         FROM etl) q),
         | rej AS (SELECT DISTINCT s.doc_id FROM sh s JOIN egr e ON s.h = e.h)
         |SELECT b.doc_id, r.doc_id IS NULL AS admitted
         |FROM b LEFT JOIN rej r ON b.doc_id = r.doc_id
         |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q270")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" " + graft.scale.SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new SpanGuardIndex(s2, s"$wh/guard", maxChainDepth = 2,
        n = 8, growSpans = false)
      locally {
        import s.implicits._
        idx.seed(Seq((0L, graft.scale.SuffixArray.PlantedPhrase))
          .toDF("doc_id", "text"))
      }
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      docs.select("doc_id")
        .join(idx.admitted.read().withColumn("__a", lit(1)),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("__a").isNotNull.as("admitted"))
        .orderBy("doc_id")
    },

    // Streaming span-level eval SCRUB: q268's surgical decontamination as
    // a continuous ingest — the eval gram screen is frozen at seed time,
    // every arriving doc is rewritten scan-locally (quoted spans excised,
    // the rest verbatim), clean rows append exactly-once. Frozen state ⇒
    // the drain is batch-split-invariant and the oracle is q268's closed
    // form verbatim: the streamed clean table must hash-equal the batch
    // scrub of the whole corpus.
    Q("q272_streaming_eval_scrub",
      s"""WITH fix AS (SELECT doc_id,
         |   CASE WHEN doc_id % 7 = 0
         |        THEN text || ' ${graft.scale.SuffixArray.PlantedPhrase}' ELSE text END AS text
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
         |           '${graft.scale.SuffixArray.PlantedPhrase}', '[ \\t\\n\\f\\r]+'),
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
      val wh = scratchDir("graft-q272")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" " + graft.scale.SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new ScrubIndex(s2, s"$wh/scrub", n = 8, maxChainDepth = 2)
      locally {
        import s.implicits._
        idx.seed(Seq((0L, graft.scale.SuffixArray.PlantedPhrase))
          .toDF("doc_id", "text"))
      }
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      idx.clean.read()
        .select(col("doc_id"), col("clean_text"), col("n_scrubbed"))
        .orderBy("doc_id")
    },

    // Streaming corpus-QA maintenance: term counts drained through the
    // additive-partial index (the q247 protocol with (w) keys), then the
    // Zipf rank-bucket profile computed OVER THE SERVED STATE — the
    // streaming drain must reproduce q251's batch profile exactly
    // (commutative-monoid counts; the oracle is q251's verbatim).
    Q("q258_streaming_zipf",
      """WITH tok AS (SELECT doc_id,
        |   list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ts
        | FROM documents),
        | c AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt
        |       FROM (SELECT unnest(ts) AS w FROM tok) q GROUP BY 1),
        | r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM c)
        |SELECT CAST(len(bin(rank)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(1) AS BIGINT) AS n_terms, CAST(sum(cnt) AS BIGINT) AS mass
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.scale.Curation
      val wh = scratchDir("graft-q258")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new AnchorCountIndex(s2, s"$wh/terms", maxChainDepth = 2,
        build = Curation.termCounts(_), keyCols = Seq("w"))
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      Curation.zipfBucketsFromCounts(idx.served()).orderBy("bucket")
    },

    // Streaming collocation maintenance: unigram AND bigram counts are
    // both additive monoids (bigrams never cross documents, so they never
    // cross batches), maintained as two count indexes under one drain;
    // the PMI ranked cut computed OVER THE SERVED STATES must reproduce
    // q274's batch collocation table exactly — the oracle is q274's
    // verbatim.
    Q("q276_streaming_collocations",
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
      val wh = scratchDir("graft-q276")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val uniIdx = new AnchorCountIndex(s2, s"$wh/uni", maxChainDepth = 2,
        build = graft.scale.Curation.termCounts(_), keyCols = Seq("w"))
      val biIdx = new AnchorCountIndex(s2, s"$wh/bi", maxChainDepth = 2,
        build = graft.scale.Curation.bigramCounts(_), keyCols = Seq("w1", "w2"))
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      val q = Streaming.drain(stream, s"$wh/ckpt") { (b, id) =>
        // independent indexes (separate tables, own replay gates)
        Par.both(uniIdx.processBatch(b, id), biIdx.processBatch(b, id))
        ()
      }
      q.awaitTermination()
      graft.scale.Curation.collocationsFromCounts(
          uniIdx.served(), biIdx.served())
        .orderBy("rnk")
    },

    // Streaming winnow-fingerprint guard: the q257 admission protocol
    // keyed by MOSS fingerprints instead of every 16-token span — the
    // index carries ~2/(w+1) of the spans while the SIGMOD 2003 guarantee
    // keeps every >= 11-token cross-batch match detectable (the planted
    // tails still reject). Fingerprints depend only on the doc itself, so
    // the non-recursive min-batch-per-hash closed form replays verbatim.
    Q("q262_streaming_winnow_guard",
      s"""WITH tl AS (SELECT doc_id,
         |   list_filter(string_split_regex(
         |     CASE WHEN doc_id % 7 = 0
         |          THEN text || ' ${graft.scale.SuffixArray.PlantedPhrase}'
         |          ELSE text END,
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
         | ph AS (SELECT DISTINCT doc_id, h FROM sel),
         | sh AS (SELECT ph.doc_id, ph.doc_id % 3 AS batch, ph.h FROM ph),
         | firstb AS (SELECT h, min(batch) AS fb FROM sh GROUP BY 1),
         | rej AS (SELECT DISTINCT s.doc_id FROM sh s
         |         JOIN firstb f ON s.h = f.h WHERE f.fb < s.batch)
         |SELECT t.doc_id, r.doc_id IS NULL AS admitted
         |FROM tl t LEFT JOIN rej r ON t.doc_id = r.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      import graft.scale.Curation
      val wh = scratchDir("graft-q262")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" " + graft.scale.SuffixArray.PlantedPhrase)))
          .otherwise(col("text")).as("text"))
      Feeds.write(docs, pmod(col("doc_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new SpanGuardIndex(s2, s"$wh/guard", maxChainDepth = 2,
        spanFn = Some(b => Curation.winnowFingerprints(b)
          .select(col("doc_id"), col("h")).distinct()))
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      docs.select("doc_id")
        .join(idx.admitted.read().withColumn("__a", lit(1)),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("__a").isNotNull.as("admitted"))
        .orderBy("doc_id")
    },

    // Streaming semantic admission guard: the q287 embedding screen on
    // the ingest path — the eval panel (the +0.02 twin of every 10th
    // vector) is seeded once and frozen, then the whole embedding table
    // drains in 4 micro-batches. A frozen screen makes admission
    // order-invariant by construction, so the drain must admit EXACTLY
    // q287's undropped set — the oracle is q287's closed form restricted
    // to dropped = 0.
    Q("q289_streaming_embed_guard",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | ev AS (SELECT vec_id + 100000 AS vec_id,
        |          CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id % 10 = 0),
        | cz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS smax
        |        FROM base)),
        | ez AS (
        |  SELECT vec_id AS eid,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS smax
        |        FROM ev)),
        | fl AS (
        |  SELECT DISTINCT c.vec_id
        |  FROM cz c JOIN ez e ON
        |    CAST(list_dot_product(c.code, e.code) AS BIGINT) > 0
        |    AND CAST(list_dot_product(c.code, e.code) AS BIGINT)
        |        * CAST(list_dot_product(c.code, e.code) AS BIGINT) * 16
        |      >= 9 * CAST(list_dot_product(c.code, c.code) AS BIGINT)
        |           * CAST(list_dot_product(e.code, e.code) AS BIGINT))
        |SELECT b.vec_id FROM base b
        |WHERE b.vec_id NOT IN (SELECT vec_id FROM fl)
        |ORDER BY b.vec_id""".stripMargin) { (s, d) =>
      val wh = scratchDir("graft-q289")
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val evalVecs = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      Feeds.write(emb, pmod(col("vec_id"), lit(3)), 3, s"$wh/feed")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new EmbedGuardIndex(s2, s"$wh/guard", maxChainDepth = 2)
      idx.seed(evalVecs)
      val schema = s2.read.parquet(s"$wh/feed").schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$wh/feed")
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch)
        .awaitTermination()
      idx.served().orderBy("vec_id")
    },

    // Streaming decode-coverage (r17 verdict item 6): decodeCoverage
    // partials are an additive monoid — (container, codec, status) keyed
    // asset counts and byte masses — so a continuous crawl can expose its
    // blind-spot split LIVE through the AnchorCountIndex count protocol:
    // each micro-batch contributes its own coverage partial (every
    // payload decoded scan-locally, O(batch)), SUM is the merge, replay
    // is absorbed by the stamped batch id, and chain depth 2 forces a
    // mid-drain compaction. The fixture is q298's byte-identical cached
    // asset relation drained in 3 micro-batches; the oracle IS q298's —
    // drained coverage must equal the batch report exactly.
    Q("q306_streaming_decode_coverage",
      graft.scale.Multimodal.queries.find(_.name == "q298_decode_coverage")
        .get.oracle.get) { (s, d) =>
      import graft.scale.{Multimodal => M}
      val wh = scratchDir("graft-q306")
      val assetsDir = M.coverageAssetsDir(s, d)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val idx = new AnchorCountIndex(s2, s"$wh/cov", maxChainDepth = 2,
        build = b => M.decodeCoverage(b),
        keyCols = Seq("container", "codec", "status"),
        valueCols = Seq("n_assets", "bytes"),
        inputFilter = _.filter(col("payload").isNotNull))
      val schema = s2.read.parquet(assetsDir).schema
      val stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(assetsDir)
      Streaming.drain(stream, s"$wh/ckpt")(idx.processBatch).awaitTermination()
      idx.served()
        .select(col("container"), col("codec"), col("status"),
          col("n_assets").cast("long").as("n_assets"))
        .orderBy("container", "codec", "status")
    },
  )
}

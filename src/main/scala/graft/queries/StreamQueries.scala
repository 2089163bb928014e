package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.Tables
import graft.streaming.Streams

/** Hash-gated Structured Streaming surface — the r9 verdict's gap #5:
  * streaming had spec-level batch-equivalence proofs and a bench, but
  * no entry in the DuckDB oracle gate. Each query here stages the sf
  * events table as time-ordered parquet slices, drives a REAL
  * streaming job over them (file source, `maxFilesPerTrigger=1` so
  * the run is genuinely multi-micro-batch — state merges across
  * [[Slices]] batches, not one), drains with `Trigger.AvailableNow`
  * into a memory sink, and returns the drained frame to the standard
  * hash gate, whose oracle is the batch SQL formulation.
  *
  * Determinism contract:
  *  - slices are TIME-ORDERED (ntile over (ts, event_id)), so no row
  *    is ever late relative to the watermark → nothing is dropped and
  *    the drained output is exactly the batch answer at any slicing;
  *  - `value` is milli-quantized to LONG at staging, so streaming
  *    aggregation state is integer-exact (the repo's no-floats-in-
  *    gate-outputs arithmetic contract) — a float running sum would
  *    depend on batch boundaries;
  *  - the interval join emits every qualifying pair exactly once:
  *    with ts-ordered slices a buffered left row can only be evicted
  *    once the watermark passes `l_ts + upper`, by which point every
  *    qualifying right row (r_ts ≤ l_ts + upper) has already arrived.
  *
  * bench=false: streaming latency is [[graft.StreamBench]]'s job; the
  * staging write would dominate a timed body here. */
object StreamQueries extends QueryPack {

  private val Slices = 8

  /** Stage the events table as [[Slices]] time-ordered single-file
    * parquet slices (distinct mtimes → deterministic file-source
    * replay order) under a fresh temp dir; `value` pre-quantized to
    * tenth-of-milli longs. Returns (root, schema).
    *
    * `replayMod = Some(m)`: after slice i+1, re-deliver slice i's
    * rows with `event_id % m == 0` as an extra file — the at-least-
    * once delivery case (a queue redelivers a batch it already
    * shipped). Replay lateness is bounded by two slice spans, so a
    * dedup watermark wider than that always still HOLDS the original
    * key's state when the replay arrives — making the dedup gate's
    * output slicing-invariant.
    *
    * `sentinels = true`: append two single-row far-future barrier
    * slices (user_id = -1). The first advances the event-time
    * watermark past every real session's timeout; the second drives
    * the post-advance micro-batch in which those timeouts actually
    * FIRE (timeouts are evaluated against the PREVIOUS batch's
    * watermark) — the standard end-of-stream drain for finite replays
    * of an always-on stateful topology. Callers filter `user_id < 0`
    * back out; the sentinel pair is 1 h apart so the barrier user's
    * own session never closes and never pollutes the sink. */
  private def stage(s: SparkSession, d: String,
                    replayMod: Option[Int] = None,
                    sentinels: Boolean = false) = {
    val root =
      graft.TempRoots.create("graft_sgate")
    val events = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"),
        round(col("value") * 10000).cast("long").as("value"))
    val sliced = events.withColumn("_slice",
      ntile(Slices).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id")))).cache()
    def writeSlice(df: DataFrame, dir: String): Unit = {
      df.coalesce(1).write.parquet(s"$root/events/$dir")
      Thread.sleep(20) // distinct mtimes → deterministic source order
    }
    (1 to Slices).foreach { i =>
      writeSlice(sliced.filter(col("_slice") === i).drop("_slice"),
        s"slice_$i")
      replayMod.foreach { m =>
        if (i > 1) writeSlice(
          sliced.filter(col("_slice") === (i - 1) &&
            pmod(col("event_id"), lit(m)) === 0).drop("_slice"),
          s"slice_${i}_replay")
      }
    }
    replayMod.foreach { m =>
      writeSlice(sliced.filter(col("_slice") === Slices &&
        pmod(col("event_id"), lit(m)) === 0).drop("_slice"),
        s"slice_${Slices}_replay_tail")
    }
    if (sentinels) {
      import s.implicits._
      // empty event slice (a zero-row increment): anchor the
      // watermark-advancing sentinels at the epoch instead of NPEing
      // on the null max
      val maxTs = Option(sliced.agg(max(col("ts"))).head().getTimestamp(0))
        .getOrElse(new java.sql.Timestamp(0L))
      Seq(1, 2).foreach { k =>
        val ts = new java.sql.Timestamp(
          maxTs.getTime + 100L * 86400000L + (k - 1) * 3600000L)
        writeSlice(
          Seq((-k.toLong, ts, -1L, "sentinel", 0L))
            .toDF("event_id", "ts", "user_id", "event_type", "value"),
          s"slice_sentinel_$k")
      }
    }
    sliced.unpersist()
    (root, events.schema)
  }

  private def readSliced(s: SparkSession, root: String,
                         schema: org.apache.spark.sql.types.StructType) =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$root/events/slice_*")

  /** Drain `df` through a memory sink and return the sink table. */
  private def drain(s: SparkSession, df: DataFrame, mode: OutputMode,
                    root: String, tag: String): DataFrame = {
    val table = s"sgate_${tag}_" +
      java.lang.Long.toHexString(System.nanoTime())
    val q = df.writeStream.format("memory").queryName(table)
      .outputMode(mode)
      .option("checkpointLocation", s"$root/ckpt_$tag")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(table)
  }

  /** Watermarked tumbling-window aggregation
    * ([[Streams.windowedCounts]]), drained across 8 micro-batches in
    * Complete mode: the final sink content must equal the one-shot
    * batch GROUP BY — gating cross-batch state merge, window
    * assignment, and sink fidelity in one artifact. */
  val streamWindowedCounts = GQuery(
    "q_stream_windowed_counts",
    (s, d) => {
      val (root, schema) = stage(s, d)
      val out = drain(s,
        Streams.windowedCounts(readSliced(s, root, schema),
          windowLen = "1 hour", watermark = "2 hours"),
        OutputMode.Complete, root, "win")
      out.select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 1e4) AS BIGINT)) AS BIGINT)
               AS total_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start, event_type
    """),
    bench = false, eager = true)

  /** Stream-stream interval join ([[Streams.intervalJoin]]) — the
    * click→purchase attribution self-join, drained in Append mode:
    * every (click, purchase) pair of the same user with the purchase
    * 1..1800 s after the click, each exactly once. The oracle is the
    * plain batch range join. */
  val streamIntervalJoin = GQuery(
    "q_stream_interval_join",
    (s, d) => {
      val (root, schema) = stage(s, d)
      val clicks = readSliced(s, root, schema)
        .filter(col("event_type") === "click")
      val purchases = readSliced(s, root, schema)
        .filter(col("event_type") === "purchase")
      val joined = Streams.intervalJoin(clicks, purchases,
        "user_id", "user_id", "ts", "ts",
        lowerSec = 1, upperSec = 1800, watermark = "2 hours")
      drain(s,
        joined.select(col("l_event_id"), col("r_event_id"),
          col("l_user_id").as("user_id")),
        OutputMode.Append, root, "ij")
        .orderBy("l_event_id", "r_event_id")
    },
    Some("""
      SELECT c.event_id AS l_event_id, p.event_id AS r_event_id,
             c.user_id
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts + INTERVAL 1 SECOND
       AND p.ts <= c.ts + INTERVAL 1800 SECOND
      ORDER BY l_event_id, r_event_id
    """),
    bench = false, eager = true)

  /** Streaming at-least-once dedup ([[Streams.dedupWithinWatermark]]):
    * every 7th event is RE-DELIVERED one slice after its original
    * (the queue-redelivery case), and the gate demands the drained
    * output be exactly the original event set, each exactly once —
    * gating watermark-bounded dedup state across ~15 micro-batches.
    * Determinism: replay lateness ≤ two slice spans (~7.5 d at any
    * SF: the events table always spans 30 days) < the 8-day horizon,
    * so the original's state row is provably still live when its
    * replay arrives — no output row ever depends on where slice
    * boundaries fall. The oracle is the trivial SELECT: that
    * triviality IS the contract (dedup restored exactly-once). */
  val streamDedupReplay = GQuery(
    "q_stream_dedup_replay",
    (s, d) => {
      val (root, schema) = stage(s, d, replayMod = Some(7))
      val out = drain(s,
        Streams.dedupWithinWatermark(readSliced(s, root, schema),
          watermark = "8 days", idCols = Seq("event_id")),
        OutputMode.Append, root, "dd")
      out.select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             CAST(ROUND(value * 1e4) AS BIGINT) AS value
      FROM events ORDER BY event_id
    """),
    bench = false, eager = true)

  /** Declarative streaming session windows
    * ([[Streams.sessionWindowCounts]], gap 12 h) drained in Append
    * mode: merged-on-update session state, watermark eviction, and
    * the sentinel-barrier end-of-stream drain (see [[stage]]) in one
    * gate. The oracle rebuilds sessions as a gaps-and-islands pass —
    * a NEW session when the inter-event gap is ≥ 12 h (session
    * windows are [ts, ts+gap) with exclusive ends, so an event
    * exactly at last+gap does NOT merge), `session_end` = last event
    * + gap by the session_window convention. */
  val streamSessionWindow = GQuery(
    "q_stream_session_window",
    (s, d) => {
      val (root, schema) = stage(s, d, sentinels = true)
      val out = drain(s,
        Streams.sessionWindowCounts(readSliced(s, root, schema),
          gap = "12 hours", watermark = "1 hour"),
        OutputMode.Append, root, "sw")
      out.filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH d AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 12 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sids AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM d),
      g AS (
        SELECT user_id, sid, min(ts) AS s_start,
               max(ts) + INTERVAL 12 HOUR AS s_end,
               COUNT(*) AS n_events
        FROM sids GROUP BY 1, 2)
      SELECT user_id,
             strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
             CAST(n_events AS BIGINT) AS n_events
      FROM g ORDER BY user_id, session_start
    """),
    bench = false, eager = true)

  /** Custom-state sessionization ([[Streams.sessionize]] —
    * flatMapGroupsWithState, EventTimeTimeout, gap 12 h) under the
    * same sentinel-barrier drain: sessions close EITHER by a
    * successor event more than the gap later (strict >, millisecond
    * arithmetic — `Timestamp.getTime`) OR by event-time timeout, and
    * each emits exactly once. The oracle's islands pass mirrors the
    * millisecond-strict gap (epoch_ms diff > gap), and reports
    * `session_end` as the LAST EVENT itself — the pinned semantic
    * difference from session_window's last+gap. */
  val streamSessionize = GQuery(
    "q_stream_sessionize",
    (s, d) => {
      import s.implicits._
      val (root, schema) = stage(s, d, sentinels = true)
      val ev = readSliced(s, root, schema)
        .withColumn("value", col("value").cast("double"))
        .as[Streams.Event]
      val out = drain(s, Streams.sessionize(ev, gapMinutes = 720).toDF(),
        OutputMode.Append, root, "fs")
      out.filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH d AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                         > 720 * 60000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sids AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM d),
      g AS (
        SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end,
               COUNT(*) AS n_events
        FROM sids GROUP BY 1, 2)
      SELECT user_id,
             strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
             CAST(n_events AS BIGINT) AS n_events
      FROM g ORDER BY user_id, session_start
    """),
    bench = false, eager = true)

  /** Exactly-once streaming ingestion into the versioned store
    * ([[graft.ops.TableStore.sinkStream]]): the sliced events stream
    * lands as one commit per micro-batch, then the SAME query is
    * restarted on the SAME checkpoint (a no-op replay) and batch 0
    * is re-offered directly ([[graft.ops.TableStore.appendBatch]] —
    * the foreachBatch-retry case, which the checkpoint alone cannot
    * dedup). The digest reads the store's LATEST snapshot: equal to
    * the plain batch SELECT only if every micro-batch landed exactly
    * once — a double-append or a torn commit shifts the count/sum.
    * A multi-version history (one commit per micro-batch) is pinned
    * in TableStoreSpec. */
  val streamTableIngest = GQuery(
    "q_stream_table_ingest",
    (s, d) => {
      val (root, schema) = stage(s, d)
      val store = s"$root/store"
      graft.ops.TableStore.sinkStream(
        readSliced(s, root, schema), store, s"$root/ckpt_ti")
      // restart on the same checkpoint: AvailableNow finds nothing
      // new; a buggy sink would re-append the replayed batches
      graft.ops.TableStore.sinkStream(
        readSliced(s, root, schema), store, s"$root/ckpt_ti")
      // direct retry of an already-committed batch id
      val retried = graft.ops.TableStore.appendBatch(
        graft.Tables.events(s, d).limit(50)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"),
            round(col("value") * 10000).cast("long").as("value")),
        store, batchId = 0L)
      require(retried.isEmpty,
        "batch 0 re-offered after commit must be skipped")
      graft.ops.TableStore.read(s, store)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             CAST(ROUND(value * 1e4) AS BIGINT) AS value
      FROM events ORDER BY event_id
    """),
    bench = false, eager = true)

  /** Streaming ingest with SELF-HEALING small-file maintenance
    * ([[graft.ops.TableStore.SinkMaintenance]]): the same sliced
    * replay, but the sink is told to fold the small-file backlog
    * whenever the live set exceeds 3 files — so compactions interleave
    * with batch commits as ordinary store versions. The body enforces
    * the maintenance ECONOMICS loudly (final live set must be smaller
    * than the per-batch file count an unmaintained sink accumulates;
    * a checkpoint-replay restart must commit nothing new), and the
    * hash compare pins that no fold lost or duplicated a row. The
    * oracle is maintenance-blind by design: content must be
    * invariant under layout. */
  val streamIngestCompact = GQuery(
    "q_stream_ingest_compact",
    (s, d) => {
      val (root, schema) = stage(s, d)
      val store = s"$root/store_mc"
      val maint = Some(graft.ops.TableStore.SinkMaintenance(
        maxLiveFiles = 3, targetBytes = 256L << 20))
      graft.ops.TableStore.sinkStream(
        readSliced(s, root, schema), store, s"$root/ckpt_mc", maint)
      val live = graft.ops.TableStore.read(s, store).inputFiles.length
      require(live <= 4,
        s"maintenance must hold the live set near the threshold: $live")
      val versionsAfter = graft.ops.TableStore.versions(s, store).size
      // restart on the same checkpoint: nothing new lands — neither
      // batches NOR maintenance commits (a replay is a no-op)
      graft.ops.TableStore.sinkStream(
        readSliced(s, root, schema), store, s"$root/ckpt_mc", maint)
      require(graft.ops.TableStore.versions(s, store).size == versionsAfter,
        "checkpoint replay must not trigger new commits")
      graft.ops.TableStore.read(s, store)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             CAST(ROUND(value * 1e4) AS BIGINT) AS value
      FROM events ORDER BY event_id
    """),
    bench = false, eager = true)

  /** Exactly-once streaming MERGE into the store
    * ([[graft.ops.TableStore.sinkStreamMerge]]): the sliced events
    * stream is treated as a CDC feed keyed by user — each micro-batch
    * upserts its latest row per user_id (ordered by ts, event_id), so
    * the final table is ONE row per user holding the user's
    * last-writer-wins state. Slices are time-ordered, making the
    * outcome slicing-invariant: the winner is the global (ts,
    * event_id) max per user, which is exactly the oracle's window.
    * Replay discipline both ways: a checkpoint restart commits
    * nothing, and batch 0 re-offered directly stands down on the
    * commit-carried batch id. */
  val streamUpsert = GQuery(
    "q_stream_upsert",
    (s, d) => {
      // zero-row corpus: empty micro-batches never commit, so no
      // store exists to read — state the well-typed empty result
      // directly (the degenerate-sweep contract)
      if (graft.Tables.events(s, d).isEmpty)
        graft.Tables.events(s, d).select(col("user_id"),
          col("event_id"), col("event_type"),
          round(col("value") * 10000).cast("long").as("value"))
          .limit(0)
      else {
      val (root, schema) = stage(s, d)
      val store = s"$root/store_up"
      graft.ops.TableStore.sinkStreamMerge(
        readSliced(s, root, schema), store, "user_id",
        s"$root/ckpt_up", latestBy = Seq("ts", "event_id"),
        statsCols = Seq("user_id"))
      val vsAfter = graft.ops.TableStore.versions(s, store)
      require(vsAfter.size >= Slices,
        s"one merge commit per micro-batch expected: ${vsAfter.size}")
      // checkpoint replay: AvailableNow finds nothing — no commits
      graft.ops.TableStore.sinkStreamMerge(
        readSliced(s, root, schema), store, "user_id",
        s"$root/ckpt_up", latestBy = Seq("ts", "event_id"))
      require(graft.ops.TableStore.versions(s, store) == vsAfter,
        "checkpoint replay must not commit")
      // direct retry of an already-committed batch id
      val retried = graft.ops.TableStore.mergeBatch(
        graft.Tables.events(s, d).limit(50)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"),
            round(col("value") * 10000).cast("long").as("value")),
        store, "user_id", batchId = 0L,
        latestBy = Seq("ts", "event_id"))
      require(retried.isEmpty,
        "batch 0 re-offered after commit must be skipped")
      graft.ops.TableStore.read(s, store)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .orderBy("user_id")
      }
    },
    Some("""
      SELECT user_id, event_id, event_type,
             CAST(ROUND(value * 1e4) AS BIGINT) AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id
    """),
    bench = false, eager = true)

  /** Continuously-maintained aggregate view off a live stream
    * ([[graft.ops.DerivedView.sinkStreamWithView]]): every
    * micro-batch lands in the base store exactly once AND ticks the
    * GROUP BY view — the streaming gold table. The digest reads the
    * VIEW, never the base, so the hash pins the whole chain:
    * batch-id idempotent ingest, per-batch delta folding, position
    * exactly-once. A checkpoint-replay restart must move neither
    * store (enforced loudly in-body). */
  val streamLiveView = GQuery(
    "q_stream_live_view",
    (s, d) => {
      // zero-row corpus: empty micro-batches never commit, so neither
      // store exists — state the well-typed empty result directly
      if (graft.Tables.events(s, d).isEmpty)
        graft.Tables.events(s, d)
          .select(col("event_type"), lit(0L).as("n_events"),
            lit(0L).as("total_value"))
          .limit(0)
      else {
        val (root, schema) = stage(s, d)
        val store = s"$root/store_lv"
        val view = s"$root/view_lv"
        graft.ops.DerivedView.sinkStreamWithView(
          readSliced(s, root, schema), store, view, s"$root/ckpt_lv",
          Seq("event_type"), Seq("value"))
        val storeVs = graft.ops.TableStore.versions(s, store)
        val viewVs = graft.ops.TableStore.versions(s, view)
        require(viewVs.size >= Slices,
          s"one view tick per productive micro-batch expected: " +
            s"${viewVs.size}")
        // checkpoint replay: nothing new lands in EITHER store
        graft.ops.DerivedView.sinkStreamWithView(
          readSliced(s, root, schema), store, view, s"$root/ckpt_lv",
          Seq("event_type"), Seq("value"))
        require(graft.ops.TableStore.versions(s, store) == storeVs &&
          graft.ops.TableStore.versions(s, view) == viewVs,
          "checkpoint replay must not commit to the store or the view")
        graft.ops.TableStore.read(s, view)
          .select(col("event_type"), col("n_rows").as("n_events"),
            col("sum_value").as("total_value"))
          .orderBy("event_type")
      }
    },
    Some("""
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(ROUND(value * 1e4) AS BIGINT)) AS BIGINT)
               AS total_value
      FROM events GROUP BY 1 ORDER BY 1
    """),
    bench = false, eager = true)

  /** The STORE as a streaming source
    * ([[graft.sources.GraftStreamSource]]): five key-sliced appends
    * to a source store, streamed through
    * `readStream.format("graft")` into a store SINK — commits become
    * micro-batch offsets, so this is S11's folder sensor pointed at a
    * table. The drain runs rate-capped (`maxVersionsPerBatch=1` — the
    * in-body `require` pins one sink commit per source commit), is
    * interrupted after three commits, and RESTARTS on the same real
    * checkpoint after two more land: the restart must deliver exactly
    * the new commits (exactly-once through engine offsets + the
    * sink's batch-id ledger), and an idle third restart must commit
    * nothing. The digest groups by the feed's `_commit_version`
    * provenance, so a replayed or lost batch breaks the hash, not
    * just a require. */
  val streamStoreSource = GQuery(
    "q_stream_store_source",
    (s, d) => {
      val base = graft.TempRoots.create("graft_ssrcgate")
      val src = s"$base/src"; val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      def slice(k: Int): Unit = { graft.ops.TableStore.append(
        orders.where(pmod(col("o_orderkey"), lit(5)) === k), src); () }
      (0 to 2).foreach(slice)
      // BOTH ends of the pipe are the SQL-surface format: the store
      // streams out through GraftStreamSource and lands through the
      // native GraftStreamSink (batch-id ledger = exactly-once)
      def drain(): Unit = {
        val q = s.readStream.format("graft")
          .option("maxVersionsPerBatch", "1").load(src)
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        q.awaitTermination()
      }
      drain()
      require(graft.ops.TableStore.versions(s, out).size == 3,
        "the rate cap must pace catch-up one commit per micro-batch " +
          "(an all-empty source commits versions but feeds no rows, " +
          "so the sink lands nothing — empty-corpus refusal)")
      (3 to 4).foreach(slice)
      drain() // restart, same checkpoint: exactly the two new commits
      require(graft.ops.TableStore.versions(s, out).size == 5,
        "the restart must deliver exactly the two new commits")
      drain() // idle restart: nothing new, nothing committed
      require(graft.ops.TableStore.versions(s, out).size == 5,
        "an idle restart must commit nothing")
      graft.ops.TableStore.read(s, out)
        .groupBy(col("_commit_version").as("commit_version"))
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").cast("long").as("key_sum"))
        .orderBy("commit_version")
    },
    Some("""
      SELECT CAST(o_orderkey % 5 + 1 AS BIGINT) AS commit_version,
             COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM orders GROUP BY 1 ORDER BY commit_version
    """),
    bench = false, eager = true)

  /** The CDC row feed as a STREAM (`feed=rows` on
    * [[graft.sources.GraftStreamSource]]): each micro-batch is the
    * window's NET row delta from the file-set diff
    * ([[graft.ops.TableStore.readRowChanges]]), so a mid-stream
    * OVERWRITE — which the adds-only feed refuses loudly — flows
    * through as its delete+insert rows. The gate streams across a
    * rewrite boundary, lands the feed in a store sink, and
    * digests per (_op, _commit_version); the oracle restates the net
    * delta from the slice algebra over the [[Tables.split3]] keys:
    * inserts @1 = the v1 slice (< hi), deletes @2 = rows only in v1
    * ([lo, hi)), inserts @2 = rows only in v2 (>= hi); the unchanged
    * intersection (< lo) cancels in the diff and must appear in
    * NEITHER @2 leg — phantom rows break the hash. */
  val streamStoreCdc = GQuery(
    "q_stream_store_cdc",
    (s, d) => {
      val base = graft.TempRoots.create("graft_scdcgate")
      val src = s"$base/src"; val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      val (lo, hi) = Tables.split3(s, d)
      graft.ops.TableStore.append(
        orders.where(col("o_orderkey") < hi), src) // v1
      def drain(): Unit = {
        val q = s.readStream.format("graft").option("feed", "rows")
          .load(src)
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        q.awaitTermination()
      }
      drain() // batch (0,1]: the v1 slice as inserts
      // the REWRITE: keys < lo keep their rows (identical on both
      // sides of the diff — they cancel and must appear in NEITHER
      // leg), keys in [lo, hi) leave, keys >= hi arrive — all as ONE
      // overwrite commit
      graft.ops.TableStore.overwrite(
        orders.where(col("o_orderkey") < lo)
          .unionByName(orders.where(col("o_orderkey") >= hi)),
        src) // v2
      drain() // batch (1,2]: net delta across the rewrite
      require(graft.ops.TableStore.versions(s, out).size == 2,
        "each drain must land exactly one sink commit (an all-empty " +
          "corpus commits versions but feeds no rows — empty-corpus " +
          "refusal)")
      graft.ops.TableStore.read(s, out)
        .groupBy(col("_op"), col("_commit_version"))
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").cast("long").as("key_sum"))
        .orderBy("_commit_version", "_op")
    },
    Some(s"""
      WITH b AS (${Tables.Split3Sql})
      SELECT 'insert' AS _op, CAST(1 AS BIGINT) AS _commit_version,
             COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM orders, b WHERE o_orderkey < b.hi
      UNION ALL
      SELECT 'delete', 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders, b WHERE o_orderkey >= b.lo AND o_orderkey < b.hi
      UNION ALL
      SELECT 'insert', 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders, b WHERE o_orderkey >= b.hi
      ORDER BY _commit_version, _op
    """),
    bench = false, eager = true)

  def all: Seq[GQuery] = Seq(streamWindowedCounts, streamIntervalJoin,
    streamDedupReplay, streamSessionWindow, streamSessionize,
    streamTableIngest, streamIngestCompact, streamUpsert,
    streamLiveView, streamStoreSource, streamStoreCdc)
}

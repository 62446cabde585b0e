package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.{Memo, Scratch, Stable, Tables}
import graft.queries.QuerySpec

/** Structured Streaming surface (SURVEY §2.9): the reference's `@daily`
  * full-refresh micro-batch (`airflow/dags/CompleteETL.py:974`) maps to a
  * file-source stream with `Trigger.AvailableNow` — "process everything
  * new, then stop". Results land in a memory sink and are returned as
  * batch DataFrames so the DuckDB oracle (bucket SQL over the same
  * parquet) can verify them.
  */
object StreamQueries {

  /** A corpus table as a file-source stream. The source requires a
    * directory, so the single read-only file is exposed through a
    * temp-dir symlink. One mechanism for every streamed table — a fix
    * here (cleanup, schema options) applies to all stream sources. */
  private def fileStream(s: SparkSession, dir: String, table: String): DataFrame = {
    val schema = Tables.schemaOf(s, s"$dir/$table.parquet")
    val tmp = Paths.get(Scratch.tmp("graft_stream_"))
    val link = Files.createSymbolicLink(
      tmp.resolve(s"$table.parquet"),
      Paths.get(s"$dir/$table.parquet").toAbsolutePath)
    // Left to the Scratch exit sweep, which unlinks without following:
    // streams run CONCURRENTLY in the shared-session specs, so an eager
    // per-query release could delete a sibling stream's still-active
    // source dir. The per-query footprint is one dir + one symlink.
    s.readStream.schema(schema).parquet(tmp.toString)
  }

  /** events as a stream; ns→µs normalization is the SAME definition as
    * the batch loader (ADVICE r5) — stream and batch event-time agree
    * by construction. */
  private def eventStream(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(fileStream(s, dir, "events"))

  /** documents as a stream — no event-time column to normalize. */
  private def docStream(s: SparkSession, dir: String): DataFrame =
    fileStream(s, dir, "documents")

  /** Run a (bounded) streaming DataFrame to completion into a uniquely
    * named memory sink; return the sink table. Complete output mode: the
    * input ends, so every window must be emitted without waiting for a
    * watermark to pass it. The memory sink registers in — and the result
    * is read back from — the STREAM's session (a [[stateSession]] clone,
    * not the caller's).
    *
    * HARNESS-ONLY sink: the memory sink collects the result table onto
    * the driver, which is exactly right for handing a bounded
    * fixture-scale answer to the oracle gate and exactly wrong for
    * production output. The deployment path is
    * [[graft.core.Sinks.foreachBatchParquet]] (distributed, per-batch
    * atomic dirs) — exercised under the SAME oracle gate by q200's
    * write-then-read-back and by q115/q186's foreachBatch variants. */
  private def runComplete(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val mem = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val ck = Scratch.streamCk()
    val q = df.writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", ck)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Scratch.release(ck)
    s.table(mem)
  }

  /** Streaming state is partitioned by the shuffle-partition count in
    * force when the stream STARTS, then pinned in the checkpoint for the
    * stream's lifetime — so it is a per-stream sizing decision, not a
    * session default. Each state partition pays per-micro-batch store
    * open/commit/file I/O; for these bounded backfills of a small keyed
    * state, 8 partitions cuts that fixed cost ~40% vs inheriting the
    * batch session's 32 (a 100 TB deployment would size UP the same knob
    * to spread state, by the same mechanism).
    *
    * Each streaming query runs WHOLLY on this tuned session CLONE
    * (shadowing the caller's `s`), so both stream and static sides live
    * in one session and the shared session's conf is never mutated —
    * the old set/finally-restore pattern raced with concurrent queries
    * (VERDICT r04 #3, same fix as q76/q89). */
  private def stateSession(s: SparkSession, n: Int = 8): SparkSession =
    graft.core.Tuned.session(s, "spark.sql.shuffle.partitions" -> n.toString)

  /** The events table re-laid as 4 files (range-split on event_id), so
    * a `maxFilesPerTrigger = 1` stream over it runs 4 genuine
    * micro-batches. Harness setup — the real deployment's source already
    * arrives as many files — memoized in [[Memo.dir]], so repeated
    * invocations measure the streaming work, not the copy, while a
    * regenerated events table invalidates the relay (ADVICE r04). */
  private def fourFileRelay(s: SparkSession, dir: String): String =
    Memo.dir(dir, "events", "relay4") { t =>
      Tables.load(s, dir, "events")
        .repartitionByRange(4, col("event_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(t)
    }

  val specs: Seq[QuerySpec] = Seq(

    // q33 — tumbling 1 h windows per event type on a real stream.
    QuerySpec("q33_stream_hourly",
      (s0, dir) => {
        val s = stateSession(s0)
        val agg = eventStream(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        runComplete(agg)
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n_events"))
          .orderBy("hour_start", "event_type")
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             | event_type, count(*) AS n_events
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q40 — streaming deduplication: dropDuplicates state across
    // micro-batches, then an aggregate whose result is order-independent
    // (distinct users per event type), so which duplicate survives doesn't
    // affect the output. Batch oracle: COUNT(DISTINCT). For unbounded
    // streams the production form is dropDuplicatesWithinWatermark; plain
    // dropDuplicates is correct for this bounded AvailableNow backfill.
    QuerySpec("q40_stream_dedup",
      (s0, dir) => {
        val s = stateSession(s0)
        val agg = eventStream(s, dir)
          .dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
        runComplete(agg)
          .select("event_type", "n_users")
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q186 — continuous corpus ingest gate (details in the spec body).
    QuerySpec("q186_stream_ingest_gate",
      (s0, dir) => {
        val s = stateSession(s0)
        // The q96 ingest gate as a CONTINUOUS query: quality screen →
        // content fingerprint → keyed dedup → per-source stats, the
        // shape a 100 TB/day corpus ingest runs forever. The dedup key
        // is (source, fingerprint) so the surviving counts are
        // micro-batch-order-independent (a fingerprint shared across
        // sources survives once per source; a first-arrival-wins rule
        // would make the per-source split depend on arrival order and
        // break determinism). State grows with unique keys — q183's
        // within-watermark variant is the bounded-state form.
        val gated = docStream(s, dir)
          .filter(col("n_chars") >= 200)
          .select(col("source"),
            call_function("graft_hash32", col("text")).as("fp"))
          .dropDuplicates("source", "fp")
          .groupBy("source")
          .agg(count(lit(1)).as("n_unique_docs"))
        runComplete(gated)
          .select("source", "n_unique_docs")
          .orderBy("source")
      },
      Some("""SELECT source,
             |  count(DISTINCT CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
             |    AS n_unique_docs
             |FROM documents
             |WHERE n_chars >= 200
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // q183 — bounded-state stream dedup: dropDuplicatesWithinWatermark,
    // the production form of q40 — q40's dropDuplicates keeps EVERY key
    // in the state store forever (unbounded growth: at 100 TB/day the
    // store OOMs or spills without bound), while the within-watermark
    // variant expires a key's state once the watermark passes it, so
    // state is bounded by (delay window × key arrival rate) regardless
    // of stream lifetime. Dedup-correctness contract: duplicates must
    // arrive within the delay of each other — here the 90-day delay
    // covers the fixture's whole span, so the result equals exact
    // distinct under ANY micro-batching and the DuckDB oracle holds
    // (same oracle as q40, deliberately: same answer, bounded state).
    QuerySpec("q183_stream_dedup_ttl",
      (s0, dir) => {
        val s = stateSession(s0)
        val agg = eventStream(s, dir)
          .withWatermark("ts", "90 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
        runComplete(agg)
          .select("event_type", "n_users")
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q42 — sliding event-time windows (1 h length, 15 min slide) with a
    // watermark on a real stream: each event lands in 4 overlapping
    // windows. Oracle: every event joined to offsets 0..3 on the 15-min
    // grid (time_bucket is epoch-aligned like Spark's window origin).
    QuerySpec("q42_stream_sliding",
      (s0, dir) => {
        val s = stateSession(s0)
        val agg = eventStream(s, dir)
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"))
          .agg(count(lit(1)).as("n_events"))
        runComplete(agg)
          .select(col("window.start").cast("timestamp_ntz").as("win_start"),
            col("n_events"))
          .orderBy("win_start")
      },
      Some("""SELECT ws AS win_start, count(*) AS n_events FROM (
             |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) - (k * INTERVAL '15 minutes') AS ws
             |  FROM events, generate_series(0, 3) t(k))
             |GROUP BY ws ORDER BY ws""".stripMargin)),

    // q46 — custom stateful streaming via flatMapGroupsWithState
    // (KeyValueGroupedDataset): per-user gap-based session counting, the
    // arbitrary-state API the built-in windows can't express. This bounded
    // AvailableNow backfill delivers each user's events in one batch, so
    // the group iterator sees the full history; an unbounded deployment
    // would carry open sessions in GroupState across batches. Semantics
    // match the q37 batch sessionization (30 min gap, µs precision).
    QuerySpec("q46_stream_sessions",
      (s0, dir) => {
        val s = stateSession(s0)
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        val ds = eventStream(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .as[(Long, Long, Long)]
        val out = ds.groupByKey(_._1)
          .flatMapGroupsWithState[List[Long], (Long, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (uid, it, _) =>
              val times = it.map(e => (e._2, e._3)).toSeq.sorted
              var n = 0L; var prev = Long.MinValue
              times.foreach { case (t, _) =>
                if (prev == Long.MinValue || t - prev > 30L * 60 * 1000000) n += 1
                prev = t
              }
              Iterator((uid, n, times.size.toLong))
          }
          .toDF("user_id", "n_sessions", "n_events")
        runAppend(out).orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
             |  SELECT user_id, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |             > 30 * 60 * 1000000 THEN 1
             |           WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |           ELSE 0 END AS new_sess
             |    FROM events))
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q69 — stream-static join (SURVEY §2.9 + §2.4 J1): each micro-batch
    // of the event stream equi-joins the static customer→nation dimension
    // to enrich events with the region hierarchy before a stateful
    // aggregate. The static side is re-resolved per micro-batch and, being
    // dimension-sized, planned as a broadcast-hash join — the stream-side
    // rows never shuffle for the join (only for the agg). At 100 TB the
    // dimension stays broadcast-able by construction (customers, not
    // facts); were it fact-sized, the scale path is pre-bucketing the
    // static side on the join key, not a stream-side shuffle.
    QuerySpec("q69_stream_static_join",
      (s0, dir) => {
        val s = stateSession(s0)
        val dim = Tables.load(s, dir, "customer")
          .join(Tables.load(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey").as("user_id"), col("n_name"))
        val agg = eventStream(s, dir)
          .join(dim, "user_id")
          .groupBy(col("n_name"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            Stable.dsum(col("value"), 2).as("sum_value"))
        runComplete(agg)
          .select("n_name", "event_type", "n_events", "sum_value")
          .orderBy("n_name", "event_type")
      },
      Some("""SELECT n_name, event_type, count(*) AS n_events,
             | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events e
             |JOIN customer c ON e.user_id = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q73 — stream-stream inner join with an event-time range condition
    // (click→purchase attribution within 30 min): the last member of the
    // §2.9 streaming-join surface. Both sides are independent streams
    // (separate file sources), each watermarked; the range bound plus the
    // watermarks let the engine EXPIRE join state — a click older than
    // watermark + 30 min can never match a future purchase, so per-key
    // state stays proportional to the time horizon, not the stream
    // length. That state bound is what makes this run unbounded at
    // 100 TB/day; this AvailableNow backfill delivers one batch, where
    // the inner join emits every in-range pair. Both sides shuffle on
    // the equi-key (user_id); the range predicate filters within the
    // keyed state.
    QuerySpec("q73_stream_stream_join",
      (s0, dir) => {
        val s = stateSession(s0)
        val clicks = eventStream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          expr("""user_id = p_user AND
                  purchase_ts >= click_ts AND
                  purchase_ts <= click_ts + interval 30 minutes"""))
        runAppend(joined)
          .select(col("user_id"), col("click_id"), col("purchase_id"))
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT a.user_id AS user_id, a.event_id AS click_id, b.event_id AS purchase_id
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             |  AND a.event_type = 'click' AND b.event_type = 'purchase'
             |  AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
             |  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
             |ORDER BY 1, 2, 3""".stripMargin)),

    // q362 — stream-stream LEFT SEMI join, completing the streaming
    // join family (q73 inner, q141 left outer, q203 full outer):
    // "clicks that converted within 30 minutes", emitted EXACTLY ONCE
    // per click no matter how many purchases match — the
    // attribution-gate shape where downstream must not double-count.
    // Semi rows emit as soon as the first match arrives (no watermark
    // wait, unlike the outer forms' eviction lag), while the watermark
    // still bounds both state stores. Oracle: EXISTS over the same
    // window — set semantics, not join multiplicity.
    QuerySpec("q362_stream_semi_join",
      (s0, dir) => {
        val s = stateSession(s0)
        val clicks = eventStream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          expr("""user_id = p_user AND
                  purchase_ts >= click_ts AND
                  purchase_ts <= click_ts + interval 30 minutes"""),
          "left_semi")
        runAppend(joined)
          .select(col("user_id"), col("click_id"),
            col("click_ts").cast("timestamp_ntz").as("click_ts"))
          .orderBy("user_id", "click_id")
      },
      Some("""SELECT a.user_id, a.event_id AS click_id,
             |  CAST(a.ts AS TIMESTAMP) AS click_ts
             |FROM events a
             |WHERE a.event_type = 'click' AND EXISTS (
             |  SELECT 1 FROM events b
             |  WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
             |    AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
             |    AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE)
             |ORDER BY 1, 2""".stripMargin)),

    // q61 — built-in session_window aggregation (SURVEY §2.9): dynamic
    // gap-merged windows per user, 30 min inactivity gap. Unlike the q37
    // batch form (row-ordinal islands) the session is a first-class window
    // struct and the state store merges windows incrementally. Boundary
    // semantics: Spark opens a NEW session when the gap is exactly the
    // duration (next.start < current.end merges, `<` strict) — the oracle
    // islands on `>=`, where q37's batch rule is `>`. Session end =
    // last event + gap in both engines.
    QuerySpec("q61_stream_session_window",
      (s0, dir) => {
        val s = stateSession(s0)
        val agg = eventStream(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
        runComplete(agg)
          .select(col("user_id"),
            col("session_window.start").cast("timestamp_ntz").as("sess_start"),
            col("session_window.end").cast("timestamp_ntz").as("sess_end"),
            col("n_events"))
          .orderBy("user_id", "sess_start")
      },
      Some("""SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS sess_start,
             | max(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE AS sess_end,
             | count(*) AS n_events
             |FROM (
             |  SELECT user_id, ts, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |             >= 30 * 60 * 1000000 THEN 1
             |           WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |           ELSE 0 END AS new_sess
             |    FROM events))
             |GROUP BY user_id, sess_id ORDER BY user_id, sess_start""".stripMargin)),

    // q368 — DYNAMIC-GAP session windows: the gap is a per-ROW column
    // (purchases hold a session open 60 min, everything else 30) —
    // the "checkout flows idle longer" semantics a fixed-gap session
    // (q61) cannot express. Spark merges the per-event intervals
    // [ts, ts+gap) whenever next.start < current.end, so the batch
    // oracle is interval-union islands: a new session starts when an
    // event's start clears the EXCLUSIVE running max of all prior
    // interval ends for the user (cummax resets are unnecessary —
    // the running max is monotone within a user), and the session end
    // is the max interval end in the island, NOT last-event + gap.
    // All island arithmetic is exact integer micros.
    QuerySpec("q368_stream_dynamic_gap_sessions",
      (s0, dir) => {
        val s = stateSession(s0)
        val gap = when(col("event_type") === "purchase", lit("60 minutes"))
          .otherwise(lit("30 minutes"))
        val agg = eventStream(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), gap))
          .agg(count(lit(1)).as("n_events"))
        runComplete(agg)
          .select(col("user_id"),
            col("session_window.start").cast("timestamp_ntz").as("sess_start"),
            col("session_window.end").cast("timestamp_ntz").as("sess_end"),
            col("n_events"))
          .orderBy("user_id", "sess_start")
      },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    epoch_us(CAST(ts AS TIMESTAMP))
             |      + CAST(CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS BIGINT) * 1000000 AS e_us
             |  FROM events),
             |m AS (SELECT *, max(e_us) OVER (PARTITION BY user_id
             |    ORDER BY us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cmax FROM e),
             |i AS (SELECT *, CAST(SUM(CASE WHEN cmax IS NULL OR us >= cmax THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM m)
             |SELECT user_id, min(t) AS sess_start,
             |  make_timestamp(max(e_us)) AS sess_end,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM i GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin)),

    // q115 — UPDATE output mode, the incremental-sink half of the
    // streaming surface (complete/append are covered above): a running
    // per-key aggregate that emits ONLY the keys changed by each
    // micro-batch. The event file is re-laid into 4 files and streamed
    // one file per trigger, so the aggregate genuinely updates across 4
    // batches; foreachBatch captures (batchId, key, running count) and
    // the final state per key — its last emitted update — must equal the
    // batch GROUP BY. This is the 100 TB sink shape: per-batch deltas
    // (changed keys only) instead of complete-mode snapshots of the
    // whole result table.
    QuerySpec("q115_stream_update",
      (s0, dir) => {
        val s = stateSession(s0)
        import org.apache.spark.sql.{Dataset, Row, SaveMode}
        val tmp = fourFileRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        val agg = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
          .groupBy("event_type").agg(count(lit(1)).as("n_events"))
        // Each micro-batch's changed keys are written DISTRIBUTED as a
        // batch-id-keyed parquet delta (the q200 sink shape) — nothing
        // passes through the driver, so the path survives
        // high-cardinality keys (VERDICT r8: the collect() form's
        // "tiny" assumption dies at scale).
        val out = Scratch.tmp("graft_upd_sink_")
        val ck = Scratch.streamCk()
        val q = agg.writeStream.outputMode("update")
          .option("checkpointLocation", ck)
          .foreachBatch { (b: Dataset[Row], id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode(SaveMode.Overwrite)
              .parquet(f"$out/batch_$id%05d"): Unit
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        Scratch.release(ck)
        // final state per key = its LAST emitted update; a key appears
        // at most once per batch, so max_by over batch_id is exact
        s.read.parquet(s"$out/batch_*")
          .groupBy("event_type")
          .agg(max_by(col("n_events"), col("batch_id")).as("n_events"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q200 — the PRODUCTION sink path under the oracle gate: a
    // streaming transform written through Sinks.foreachBatchParquet
    // (per-micro-batch atomic parquet dirs — the distributed sink a
    // 100 TB deployment lands on), then read BACK from those files and
    // aggregated in batch. Every other streaming query returns through
    // the harness-only memory sink (see runComplete); this one proves
    // write → storage → re-read end-to-end, hash-compared like any
    // batch query. The stream side is APPEND-shaped (filter + project,
    // no aggregation state), the shape a continuous ingest writer has;
    // the 4-file relay yields 4 genuine micro-batches = 4 batch dirs.
    // The per-user aggregate is computed on the READ-BACK — it must be
    // identical no matter how rows split across batch dirs (a partition
    // of the rows), which is exactly the atomicity contract the sink
    // provides. Sum is decimal-stable (merge-order-independent).
    QuerySpec("q200_stream_parquet_sink",
      (s0, dir) => {
        val s = stateSession(s0)
        val tmp = fourFileRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        val purchases = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value"))
        val out = Scratch.tmp("graft_sink_")
        val q = graft.core.Sinks.foreachBatchParquet(purchases, out)
        q.awaitTermination()
        s.read.parquet(s"$out/batch_*")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases"),
            round(Stable.dsum(col("value"), 9), 4).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_purchases,
             |  round(CAST(SUM(CAST(value AS DECIMAL(18,9))) AS DOUBLE), 4)
             |    AS total_value
             |FROM events
             |WHERE event_type = 'purchase'
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // q280 — STREAMING CDC UPSERT (incremental MERGE materialization):
    // the change feed q269 folds in one batch is here applied micro-
    // batch by micro-batch into a keyed state table on disk — the
    // continuous ingest shape of every lakehouse MERGE pipeline. The
    // per-key state is a COMMUTATIVE MONOID: (max(tsu, event_id, op),
    // op count) — merging any partition of the log in ANY batch order
    // yields the same table, so the final state must hash-match q269's
    // one-shot fold exactly (same oracle SQL), no matter how the file
    // source orders the 4 micro-batches. That associativity is the
    // design point: out-of-order delivery and replays are absorbed by
    // construction, where a "apply latest batch last" scheme would
    // corrupt on any reordering. Each batch does one key-grain merge
    // (delta is batch-grain, state is entity-grain) and writes a new
    // state GENERATION dir — atomic swap, never in-place. Deletes stay
    // as TOMBSTONES in state (late ops must still compare against
    // them) and are filtered only at read-out, like any CDC reader.
    QuerySpec("q280_stream_cdc_upsert",
      (s0, dir) => {
        val s = stateSession(s0)
        import org.apache.spark.sql.SaveMode
        val tmp = fourFileRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        val changes = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"),
            when(col("event_type") === "signup", "I")
              .when(col("event_type") === "error", "D")
              .otherwise("U").as("op"))
        val out = Scratch.tmp("graft_cdc_")
        @volatile var gen: Option[String] = None
        // checkpoint rides under `out` (set below) — deleted with the
        // sink dir by the exit hook
        val q = changes.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val delta = batch.groupBy("user_id")
              .agg(max(struct(col("tsu"), col("event_id"), col("op"))).as("m"),
                count(lit(1)).as("n"))
            val merged = gen match {
              case None => delta
              case Some(g) =>
                batch.sparkSession.read.parquet(g)
                  .select(col("user_id"), col("m").as("cm"), col("n").as("cn"))
                  .join(delta.select(col("user_id"), col("m").as("dm"),
                    col("n").as("dn")), Seq("user_id"), "full_outer")
                  .select(col("user_id"),
                    when(col("cm").isNull, col("dm"))
                      .when(col("dm").isNull, col("cm"))
                      .when(col("dm") > col("cm"), col("dm"))
                      .otherwise(col("cm")).as("m"),
                    (coalesce(col("cn"), lit(0L)) +
                      coalesce(col("dn"), lit(0L))).as("n"))
            }
            val g = s"$out/state_$batchId"
            merged.write.mode(SaveMode.Overwrite).parquet(g)
            gen = Some(g)
          }
          .option("checkpointLocation", s"$out/_checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(gen.get)
          .filter(col("m.op") =!= "D")
          .select(col("user_id"), col("m.op").as("last_op"),
            col("m.event_id").as("last_event_id"),
            col("m.tsu").as("last_ts_us"), col("n").as("n_ops"))
          .orderBy("user_id")
      },
      // q269's oracle verbatim: incremental-by-construction must equal
      // the one-shot batch fold
      Some("""WITH log AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             |    event_id,
             |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
             |      ELSE 'U' END AS op
             |  FROM events),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY tsu DESC, event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_ops
             |  FROM log)
             |SELECT user_id, op AS last_op, event_id AS last_event_id,
             |  tsu AS last_ts_us, CAST(n_ops AS BIGINT) AS n_ops
             |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin)),

    // q296 — STREAMING JDBC sink with EXACTLY-ONCE delivery, proven by
    // a full REPLAY: micro-batches land in embedded Derby through a
    // delete-then-append keyed on batch_id (each batch first clears
    // any partial/previous copy of ITSELF, then appends its rows
    // tagged with its id — idempotent under any redelivery, including
    // a crash between rows and commit). The stream then runs a SECOND
    // time against the same database with a fresh checkpoint — a total
    // redelivery of every batch, the worst-case restart — and the
    // hash-compared read-back must still equal single delivery. This
    // is the production recipe for exactly-once into a transactional
    // store that can't join Spark's checkpoint: make the WRITE
    // idempotent instead of the channel. Batched parameter-bound
    // appends (Sinks.jdbc), decimal-stable sums on the read-back.
    QuerySpec("q296_stream_jdbc_exactly_once",
      (s0, dir) => {
        val s = stateSession(s0)
        val tmp = fourFileRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        def purchases = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value"))
        val dbRoot = Scratch.tmp("graft_jdbc_")
        val url = s"jdbc:derby:$dbRoot/db;create=true"
        def applyBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long): Unit = {
          try { // self-clean first: absent table on batch 0 is expected
            val conn = java.sql.DriverManager.getConnection(url)
            try conn.createStatement()
              .executeUpdate(s"""DELETE FROM SINK WHERE "batch_id" = $batchId""")
            finally conn.close()
          } catch { case _: java.sql.SQLException => () }
          graft.core.Sinks.jdbc(batch.withColumn("batch_id", lit(batchId)),
            url, "SINK", "app", "app")
        }
        def runOnce(): Unit = {
          val ck = Scratch.tmp("graft_jdbc_ck_")
          val q = purchases.writeStream.foreachBatch(applyBatch _)
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce()
        runOnce() // fresh checkpoint = total redelivery; sink must absorb
        s.read.format("jdbc").option("url", url).option("dbtable", "SINK")
          .option("user", "app").option("password", "app").load()
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases"),
            round(Stable.dsum(col("value"), 9), 4).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_purchases,
             |  round(CAST(SUM(CAST(value AS DECIMAL(18,9))) AS DOUBLE), 4)
             |    AS total_value
             |FROM events
             |WHERE event_type = 'purchase'
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // q377 — exactly-once STREAMING APPEND into the transaction-log
    // table (core.TxLog): each micro-batch commits its files together
    // with a `txn <app> <batchId>` marker line, so a REPLAYED batch
    // (q296's fresh-checkpoint total redelivery — the crash-recovery
    // worst case) is recognized from the log itself and skipped —
    // idempotence lives in the TABLE FORMAT, not in sink-specific
    // delete-first logic (q296's JDBC form) or output-dir naming
    // (q200's parquet form). The gate proves zero duplicates; the
    // replay run's appendIdempotent calls all return -1.
    QuerySpec("q377_stream_txlog_exactly_once",
      (s0, dir) => {
        val s = stateSession(s0)
        val tmp = fourFileRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        def clicks = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("value"))
        val table = Scratch.tmp("graft_txsink_")
        graft.core.TxLog.drop(table)
        def runOnce(): Unit = {
          val ck = Scratch.tmp("graft_txsink_ck_")
          val q = clicks.writeStream.foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                graft.core.TxLog.appendIdempotent(batch, table,
                  "q377", batchId): Unit
            }
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce()
        runOnce() // fresh checkpoint = total redelivery; the LOG absorbs
        graft.core.TxLog.read(s, table)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_clicks"),
            round(Stable.dsum(col("value"), 9), 4).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_clicks,
             |  round(CAST(SUM(CAST(value AS DECIMAL(18,9))) AS DOUBLE), 4)
             |    AS total_value
             |FROM events
             |WHERE event_type = 'click'
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // q400 — LAKEHOUSE END-TO-END capstone, every table-format behavior
    // in ONE hash-checked lineage: (1) exactly-once STREAMING INGEST
    // into the transaction log — four micro-batches, then a fresh-
    // checkpoint full REPLAY the txn markers must absorb; (2) a GDPR
    // DELETE of the lowest user via DELETION VECTORS — positions only,
    // file set untouched; (3) OPTIMIZE — compaction MATERIALIZES the
    // vectors into one clean file; (4) a TIME-TRAVEL audit reading all
    // three stages. In-query requires pin each physical claim (replay
    // added no version, DV delete rewrote nothing, optimize purged the
    // vectors); the oracle reconstructs each stage from predicates —
    // the entire choreography must be indistinguishable from
    // recompute.
    QuerySpec("q400_lakehouse_e2e",
      (s0, dir) => {
        val s = stateSession(s0)
        import graft.core.TxLog
        val tmp = fourFileRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        def feed = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
          .select(col("event_id"), col("user_id"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        val table = Scratch.tmp("graft_lake_")
        TxLog.drop(table)
        def runOnce(): Unit = {
          val ck = Scratch.tmp("graft_lake_ck_")
          val q = feed.writeStream.foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               id: Long) =>
                TxLog.appendIdempotent(b, table, "q400", id): Unit
            }
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce()
        val vIngest = TxLog.currentVersion(table)
        runOnce() // total redelivery — the txn markers must absorb it
        require(TxLog.currentVersion(table) == vIngest,
          "replayed micro-batches committed duplicate versions")
        val victim = TxLog.read(s, table)
          .agg(min(col("user_id"))).head().getLong(0)
        val vDel = TxLog.deleteWhereDV(s, table, col("user_id") === victim)
        require(TxLog.snapshot(table, Some(vIngest)).toSet ==
          TxLog.snapshot(table, Some(vDel)).toSet,
          "GDPR delete rewrote data files — DV contract broken")
        TxLog.optimize(s, table)
        require(TxLog.resolve(table).dv.isEmpty,
          "optimize left deletion vectors behind")
        require(TxLog.snapshot(table).size == 1,
          "optimize did not compact to one file")
        Seq(("1_ingested", vIngest), ("2_deleted", vDel),
          ("3_optimized", vDel + 1)).map { case (stage, v) =>
          TxLog.read(s, table, Some(v))
            .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
            .select(lit(stage).as("stage"), col("n_rows"), col("cents"))
        }.reduce(_ unionByName _).orderBy("stage")
      },
      Some("""WITH v AS (SELECT event_id, user_id,
             |    CAST(round(value*100, 0) AS BIGINT) AS cents FROM events),
             |victim AS (SELECT min(user_id) AS u FROM v)
             |SELECT '1_ingested' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(cents) AS BIGINT) AS cents FROM v
             |UNION ALL
             |SELECT '2_deleted', CAST(count(*) AS BIGINT),
             |  CAST(SUM(cents) AS BIGINT)
             |FROM v WHERE user_id <> (SELECT u FROM victim)
             |UNION ALL
             |SELECT '3_optimized', CAST(count(*) AS BIGINT),
             |  CAST(SUM(cents) AS BIGINT)
             |FROM v WHERE user_id <> (SELECT u FROM victim)
             |ORDER BY stage""".stripMargin)),

    // q141 — watermarked stream-stream LEFT OUTER interval join (q73 is
    // the inner form): clicks with no purchase inside the 30-min window
    // must still be emitted, null-padded — which only happens when the
    // join's watermark (the MIN of both sides') passes their eviction
    // bound. A bounded AvailableNow backfill would end with every
    // unmatched row still in state and silently drop them, so the relay
    // appends a second, later-mtime file carrying one far-future click
    // and one far-future purchase sentinel (max ts + 30 days): the
    // second micro-batch advances both watermarks past every real event
    // and the engine's no-new-data eviction batch flushes the outer
    // rows. Sentinels themselves never surface — the click sentinel is
    // never passed by the watermark and the purchase sentinel is an
    // unmatched RIGHT row — but the negative-id filter pins that
    // structurally. purchase_id is coalesced to -1 on both engines:
    // NULL ordering differs between Spark (first) and DuckDB (last),
    // and the gate compares rows in order.
    QuerySpec("q141_stream_left_outer",
      (s0, dir) => {
        val s = stateSession(s0)
        val tmp = sentinelRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        val src = s.readStream.schema(schema)
          .parquet(tmp) // ONE batch: the no-data eviction batch flushes (r10)
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          expr("""user_id = p_user AND
                  purchase_ts >= click_ts AND
                  purchase_ts <= click_ts + interval 30 minutes"""),
          "left_outer")
        runAppend(joined)
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("click_id"),
            coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT a.user_id AS user_id, a.event_id AS click_id,
             |  COALESCE(b.event_id, -1) AS purchase_id
             |FROM (SELECT * FROM events WHERE event_type = 'click') a
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
             |  ON a.user_id = b.user_id
             |  AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
             |  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
             |ORDER BY 1, 2, 3""".stripMargin)),

    // q203 — stream-stream FULL OUTER interval join: completes the
    // streaming join-mode matrix (q73 inner, q141 left outer). BOTH
    // sides' unmatched rows must surface null-padded — clicks with no
    // purchase in their 30-min window AND purchases no click preceded —
    // which exercises eviction state on both join sides at once. Same
    // sentinel relay as q141 (shared memo: one far-future row per side
    // advances the MIN-of-both watermark past every real event, so the
    // no-new-data batch flushes both outer sides). The click sentinel
    // is never passed by the watermark and never emits; the purchase
    // sentinel IS emitted as an unmatched right row, so the filter
    // keys on the coalesced user_id. Both ids coalesce to -1: either
    // side may be the null one here, and NULL orders differently in
    // the two engines.
    QuerySpec("q203_stream_full_outer",
      (s0, dir) => {
        val s = stateSession(s0)
        val tmp = sentinelRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        val src = s.readStream.schema(schema)
          .parquet(tmp) // ONE batch: the no-data eviction batch flushes (r10)
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          expr("""user_id = p_user AND
                  purchase_ts >= click_ts AND
                  purchase_ts <= click_ts + interval 30 minutes"""),
          "full_outer")
        runAppend(joined)
          .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
            coalesce(col("click_id"), lit(-1L)).as("click_id"),
            coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             |  COALESCE(a.event_id, -1) AS click_id,
             |  COALESCE(b.event_id, -1) AS purchase_id
             |FROM (SELECT * FROM events WHERE event_type = 'click') a
             |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
             |  ON a.user_id = b.user_id
             |  AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
             |  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
             |ORDER BY 1, 2, 3""".stripMargin)),

    // q230 — CHAINED stateful aggregation (the Spark ≥3.5 multi-
    // stateful append pipeline): quarter-hour event counts feed a
    // SECOND windowed aggregation keyed on `window_time()` of the first
    // — two watermarked stateful operators in one streaming query,
    // the downsample-then-rollup topology a metrics pipeline runs
    // continuously (15-min partials → hourly totals + peak quarter)
    // without landing the intermediate anywhere. State is window-grain
    // on both levels, corpus-size independent; the sentinel relay
    // advances the watermark through BOTH operators so the bounded run
    // flushes level 2 as well as level 1 (the second operator evicts
    // one watermark advance behind the first — the relay's second
    // sentinel batch exists for exactly this).
    //
    // SENTINEL-FILTER TRAP (measured, not theoretical): a pre-agg
    // `filter(event_id >= 0)` is a deterministic predicate, so Catalyst
    // pushes it BELOW the watermark node into the parquet scan — the
    // sentinel rows then never reach EventTimeWatermark, the watermark
    // never passes the real data, and the final windows sit in state
    // forever (observed: exactly the last hour missing per key).
    // Sentinels must therefore flow INTO the aggregation; their windows
    // land 30/60 days past the real range and the ones that close are
    // dropped by the post-hoc range cut below, which runs on the
    // materialized result — after the watermark has done its job.
    QuerySpec("q230_stream_chained_agg",
      (s0, dir) => {
        val s = stateSession(s0)
        val tmp = sentinelRelay(s, dir, sentinelBatches = 2)
        val schema = Tables.schemaOf(s, tmp)
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
        val quarter = src
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val hourly = quarter
          .groupBy(window(window_time(col("window")), "1 hour"),
            col("event_type"))
          .agg(sum(col("n")).as("total"), max(col("n")).as("peak"))
        val maxReal = Tables.load(s, dir, "events")
          .agg(max(col("ts"))).head().getTimestamp(0)
        val cut = new java.sql.Timestamp(maxReal.getTime + 86400L * 1000)
        runAppend(hourly)
          .select(col("event_type"),
            col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("total"), col("peak"))
          .filter(col("hour_start") < lit(cut).cast("timestamp_ntz"))
          .orderBy("event_type", "hour_start")
      },
      Some("""WITH q AS (SELECT event_type,
             |    time_bucket(INTERVAL '15 minutes', ts) AS w, count(*) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type,
             |  CAST(time_bucket(INTERVAL '1 hour', w) AS TIMESTAMP) AS hour_start,
             |  CAST(SUM(n) AS BIGINT) AS total, CAST(MAX(n) AS BIGINT) AS peak
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q243 — STREAMING AS-OF JOIN via [[AsOfStreamProcessor]]: each
    // purchase matched to the user's latest click at or before it —
    // the operator Spark's streaming join surface lacks (interval joins
    // need a bounded window on BOTH sides; as-of wants unbounded
    // lookback with latest-wins). Built on transformWithState with
    // per-key event-time timers: rows buffer per user, the timer fires
    // once the watermark passes everything seen, and only
    // watermark-final purchases emit (later ones are retained and
    // re-armed — correct under out-of-order arrival, not just under
    // the bounded relay). The batch as-of family (q36/q187/q217/q220)
    // gets its streaming member; the oracle is the batch equivalent.
    // Sentinels are click/purchase typed, so they flow through the
    // type filter into the watermark (the q230 pushdown lesson) and
    // are excluded by the negative-id cut on the materialized result.
    QuerySpec("q243_stream_asof",
      (s0, dir) => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        // RocksDB store required: three named states (clicks, purchases,
        // timer value) are three column families, which the HDFS-backed
        // provider cannot host (q143's provider rationale applies).
        val s = graft.core.Tuned.session(s0,
          "spark.sql.shuffle.partitions" -> "8",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        val tmp = sentinelRelay(s, dir)
        val schema = Tables.schemaOf(s, tmp)
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp)
        val ev = src
          .filter(col("event_type").isin("click", "purchase"))
          .withWatermark("ts", "10 minutes")
          .select(col("user_id").cast("long").as("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("event_id").cast("long").as("event_id"),
            (col("event_type") === "click").as("is_click"))
          .as[(Long, Long, Long, Boolean)]
        val out = ev.groupByKey(_._1)
          .transformWithState(new AsOfStreamProcessor,
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "purchase_id", "click_id", "lag_us")
        runAppend(out)
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "purchase_id")
      },
      Some("""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             |  FROM events WHERE event_type = 'purchase'),
             |j AS (SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
             |    CASE WHEN c.ts IS NULL THEN -1
             |         ELSE date_diff('microseconds', c.ts, p.ts) END AS lag_us,
             |    row_number() OVER (PARTITION BY p.user_id, p.event_id
             |      ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) AS rn
             |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
             |SELECT user_id, purchase_id, COALESCE(click_id, -1) AS click_id,
             |  CAST(lag_us AS BIGINT) AS lag_us
             |FROM j WHERE rn = 1 ORDER BY user_id, purchase_id""".stripMargin)),

    // q143 — the Spark 4 `transformWithState` arbitrary-state operator
    // (§2.9's newest member, succeeding q46's mapGroupsWithState): a
    // [[RunningTotalsProcessor]] keeps one named ValueState per user in
    // a ROCKSDB state store — the disk-backed store a 100 TB/day
    // deployment runs, where keyed state outgrows the executor heap and
    // the default HDFS-backed in-memory provider stops scaling; the
    // provider is pinned per-query on the session clone. Update output
    // mode emits each key's running totals per batch; count and max are
    // order-insensitive, so the result is deterministic at any
    // partitioning. Oracle: the batch GROUP BY.
    QuerySpec("q143_stream_twstate",
      (s0, dir) => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val s = graft.core.Tuned.session(s0,
          "spark.sql.shuffle.partitions" -> "8",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        val src = eventStream(s, dir)
          .select(col("user_id").cast("long"), col("event_id").cast("long"))
          .as[(Long, Long)]
        val out = src.groupByKey(_._1)
          .transformWithState(new RunningTotalsProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n_events", "last_event_id")
        val mem = "stream_" + UUID.randomUUID().toString.replace("-", "")
        val ck = Scratch.streamCk()
        val q = out.writeStream.format("memory").queryName(mem)
          .option("checkpointLocation", ck)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        Scratch.release(ck)
        s.table(mem)
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  max(event_id) AS last_event_id
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),


    // q346 — STREAMING MATERIALIZED-VIEW MAINTENANCE: the summary table
    // q336's optimizer rule serves is here kept FRESH incrementally — the
    // lakehouse "streaming upkeep + instant serve" pair. Each micro-batch
    // folds its partial (event_type, hour) sums/counts into the previous
    // MV generation with a full-outer merge; because (DECIMAL sum, count)
    // is a commutative monoid, ANY micro-batch partition of the log folds
    // to the same table (the q280 associativity rule), so the result must
    // hash-match the one-shot batch aggregate the oracle computes — no
    // matter how the file source splits the 4 batches. Generation dirs
    // swap atomically; the serve read never sees a half-merged MV.
    QuerySpec("q346_stream_mv_maintain",
      (s0, dir) => {
        val s = stateSession(s0)
        val (_, gen) = maintainHourlyMv(s, dir)
        s.read.parquet(gen)
          .select(col("event_type"), col("hr"), col("n").as("n_events"),
            col("sv").cast("decimal(28,2)").cast("double").as("sum_value"))
          .orderBy("event_type", "hr")
      },
      Some("""SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             |  count(*) AS n_events,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q351 — stream-maintained MV SERVED through the optimizer rule:
    // the full lakehouse loop in one hash-checked query. The q346
    // maintenance runs first (micro-batch monoid folds into generation
    // dirs); then q336's MvRewriteRule is registered against the FINAL
    // generation — including the SUM(CAST(value AS DECIMAL(18,2)))
    // form, which the rule serves only because the MV declared that
    // exact cast (name-only matching would serve a different number) —
    // and a plain aggregate over the events table is REQUIRED to plan
    // as an MV-generation scan (no events scan survives). The oracle
    // recomputes from the raw events table: ingest → incremental fold →
    // rewrite → serve must equal one-shot batch SQL.
    QuerySpec("q351_stream_mv_serve",
      (s0, dir) => {
        val s = stateSession(s0)
        val (tmp, gen) = maintainHourlyMv(s, dir)
        val ns = graft.core.Tuned.session(s)
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val base = Tables.readStable(ns, tmp)
        val basePath = base.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.head.toString
        }.get
        val rule = graft.plans.MvRewriteRule(ns, basePath,
          ns.read.parquet(gen).queryExecution.analyzed,
          Set("event_type", "hr"),
          Map("value#decimal(18,2)" -> "sv"), "n")
        if (!ns.experimental.extraOptimizations.contains(rule))
          ns.experimental.extraOptimizations =
            ns.experimental.extraOptimizations :+ rule
        val q = Tables.readStable(ns, tmp)
          .groupBy("event_type")
          .agg(sum(col("value").cast("decimal(18,2)")).as("sum_value"),
            count(lit(1)).as("n_events"))
          .select(col("event_type"),
            col("sum_value").cast("decimal(28,2)").cast("double")
              .as("sum_value"),
            col("n_events"))
          .orderBy("event_type")
        val scans = q.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.head.toString
        }
        require(scans.nonEmpty && scans.forall(_ == "file:" + gen),
          s"MV serve did not hit the maintained generation; plan scans $scans")
        q
      },
      Some("""SELECT event_type,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value,
             |  count(*) AS n_events
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)))

  /** q346/q351's shared incremental-maintenance run: relay `events` as a
    * 4-file stream, fold each micro-batch's (event_type, hour) partial
    * (DECIMAL sum, count) into the previous MV generation with a
    * full-outer merge, write generation dirs. Returns (relaid events
    * parquet path, final MV generation path). */
  private def maintainHourlyMv(s: SparkSession, dir: String)
      : (String, String) = {
    import org.apache.spark.sql.SaveMode
    val tmp = fourFileRelay(s, dir)
    val schema = Tables.schemaOf(s, tmp)
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
      .select(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hr"),
        col("value").cast("decimal(18,2)").as("v"))
    val out = Scratch.tmp("graft_mvm_")
    @volatile var gen: Option[String] = None
    // checkpoint rides under `out` (set below) — deleted with the
    // sink dir by the exit hook
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val delta = batch.groupBy("event_type", "hr")
          .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        val merged = gen match {
          case None => delta
          case Some(g) =>
            batch.sparkSession.read.parquet(g)
              .select(col("event_type"), col("hr"),
                col("sv").as("cs"), col("n").as("cn"))
              .join(delta.select(col("event_type"), col("hr"),
                col("sv").as("ds"), col("n").as("dn")),
                Seq("event_type", "hr"), "full_outer")
              .select(col("event_type"), col("hr"),
                (coalesce(col("cs"), lit(0).cast("decimal(28,2)")) +
                  coalesce(col("ds"), lit(0).cast("decimal(28,2)"))).as("sv"),
                (coalesce(col("cn"), lit(0L)) +
                  coalesce(col("dn"), lit(0L))).as("n"))
        }
        val g = s"$out/mv_$batchId"
        merged.write.mode(SaveMode.Overwrite).parquet(g)
        gen = Some(g)
      }
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (tmp, gen.get)
  }


  /** The watermark-advance relay shared by q141/q203/q230: the events
    * table as one backfill file plus `sentinelBatches` strictly-later-
    * mtime files, each carrying two far-future sentinel rows (max ts +
    * 30/60 days, negative ids, one per join side). Under
    * `maxFilesPerTrigger=1` each sentinel file forms its own
    * micro-batch, advancing every watermark past every real event so
    * append-mode stateful operators flush completely before a bounded
    * AvailableNow run terminates. Sentinels carry negative
    * event_id/user_id so queries exclude them structurally.
    *
    * `sentinelBatches = 2` exists for CHAINED stateful pipelines
    * (q230): the downstream operator evicts one watermark advance
    * behind the upstream (late-record filtering uses the previous
    * batch's watermark), so one advance flushes level 1 but strands
    * level 2's final windows; the second, even-later batch carries
    * level 1's last emissions through level 2. Single-operator queries
    * stay on the 1-sentinel relay — the extra micro-batch is pure cost
    * for them (~2 s/query at sf0.1 measured in r7).
    *
    * Memoized in [[Memo.dir]] per (dir, batches); a regenerated events
    * table invalidates the relay (ADVICE r04). */
  private def sentinelRelay(s: SparkSession, dir: String,
      sentinelBatches: Int = 1): String = {
    import org.apache.spark.sql.SaveMode
    Memo.dir(dir, "events", s"sentinel$sentinelBatches") { t =>
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      ev.coalesce(1).write.mode(SaveMode.Overwrite).parquet(t)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      import s.implicits._
      for (b <- 1 to sentinelBatches) {
        val sentTs = new java.sql.Timestamp(maxTs.getTime + b * 30L * 86400 * 1000)
        val id1 = -(2L * b - 1); val id2 = -(2L * b)
        Seq((id1, sentTs, id1, "click"), (id2, sentTs, id2, "purchase"))
          .toDF("event_id", "ts", "user_id", "event_type")
          .coalesce(1).write.mode(SaveMode.Append).parquet(t)
      }
      // the file source orders new files by modification time: pin
      // each sentinel file strictly AFTER its predecessor so each
      // forms its own micro-batch at any filesystem timestamp
      // granularity
      val files = java.nio.file.Files.list(Paths.get(t))
      try {
        val parts = files.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          .sortBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
        val t0 = java.nio.file.Files.getLastModifiedTime(parts.head).toMillis
        parts.zipWithIndex.tail.foreach { case (p, i) =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t0 + 60000L * i))
        }
      } finally files.close()
    }
  }

  /** q143's processor — the Spark 4 `transformWithState` arbitrary-state
    * API (the successor to mapGroupsWithState q46 uses): an explicit
    * named [[org.apache.spark.sql.streaming.ValueState]] handle per key,
    * updated per input batch, emitting the running (count, max event id)
    * for the key. Per-row math is order-insensitive (count + max), so
    * partition-internal iterator order can't affect the result. */
  private[streaming] class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, mx) = if (st.exists()) st.get() else (0L, Long.MinValue)
      rows.foreach { case (_, eid) => n += 1; if (eid > mx) mx = eid }
      st.update((n, mx))
      Iterator.single((key, n, mx))
    }
  }

  /** Event-time AS-OF join as a custom stateful operator — the stream-
    * stream join Spark does NOT ship (its interval join needs a bounded
    * two-sided window; as-of wants "the LATEST left row at or before
    * each right row", unbounded lookback). Both sides buffer in
    * per-key ListState; a per-key event-time timer at max-seen-ts + 1
    * fires when the watermark passes everything buffered, and only
    * purchases with ts below the firing watermark emit — later ones are
    * retained with a re-registered timer, so the operator is
    * production-correct under out-of-order arrival, not just under the
    * bounded relay. State is bounded by per-key activity inside the
    * watermark horizon, the same bound the built-in joins carry.
    * Match rule: greatest click ts ≤ purchase ts, ties to the larger
    * event_id — mirrored exactly by the oracle's ORDER BY. */
  private[graft] class AsOfStreamProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Boolean), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var clicks: ListState[(Long, Long)] = _
    @transient private var purchases: ListState[(Long, Long)] = _
    @transient private var tmr: ValueState[Long] = _
    // The unbounded-lookback floor: the LATEST watermark-final click per
    // key, kept after the click buffer is compacted at each firing. All
    // buffered clicks are below the watermark when the timer fires, so
    // for any FUTURE purchase (ts ≥ watermark) only the greatest of them
    // can ever be the as-of match — one value of state carries the whole
    // history, and a purchase arriving in a later micro-batch still sees
    // the clicks that were finalized before it.
    @transient private var lastClick: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      clicks = getHandle.getListState[(Long, Long)]("clicks",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      purchases = getHandle.getListState[(Long, Long)]("purchases",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      tmr = getHandle.getValueState[Long]("tmr", Encoders.scalaLong, TTLConfig.NONE)
      lastClick = getHandle.getValueState[(Long, Long)]("lastClick",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    }
    private def arm(atMs: Long): Unit = {
      val prev = if (tmr.exists()) tmr.get() else 0L
      if (atMs > prev) {
        if (prev > 0L) getHandle.deleteTimer(prev)
        getHandle.registerTimer(atMs)
        tmr.update(atMs)
      }
    }
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Boolean)],
        tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var mxMs = 0L
      rows.foreach { case (_, tsUs, eid, isClick) =>
        if (isClick) clicks.appendValue((tsUs, eid))
        else purchases.appendValue((tsUs, eid))
        val ms = tsUs / 1000 + 1
        if (ms > mxMs) mxMs = ms
      }
      arm(mxMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val wmMs = tv.getCurrentWatermarkInMs()
      // prepend the floor: buffered clicks all arrived after the last
      // compaction, so they are ≥ the floor and the sorted scan's
      // "greatest ts ≤ pts, ties to larger id" rule is unchanged
      val fl = if (lastClick.exists()) Array(lastClick.get()) else Array.empty[(Long, Long)]
      val cs = (fl ++ clicks.get()).sortBy(t => (t._1, t._2))
      val ps = purchases.get().toArray.sortBy(t => (t._1, t._2))
      val (ready, hold) = ps.partition(p => p._1 / 1000 < wmMs)
      val out = ready.iterator.map { case (pts, pid) =>
        var best = (-1L, -1L) // (click_id, lag_us)
        var i = 0
        while (i < cs.length && cs(i)._1 <= pts) {
          best = (cs(i)._2, pts - cs(i)._1); i += 1
        }
        (key, pid, best._1, best._2)
      }
      // compact only the watermark-FINAL clicks into the floor: a click
      // at or above the watermark may still be undercut by a later
      // arrival between it and a future purchase, so it stays in the
      // list (this batch's inputs can re-arm the timer past it). cs is
      // sorted, so the last final element is the greatest (ts, id).
      val (finalCs, liveCs) = cs.partition(c => c._1 / 1000 < wmMs)
      if (finalCs.nonEmpty) lastClick.update(finalCs.last)
      clicks.clear()
      liveCs.filterNot(fl.contains).foreach(clicks.appendValue)
      if (hold.nonEmpty) {
        purchases.clear()
        hold.foreach(purchases.appendValue)
        tmr.clear()
        arm(hold.map(_._1 / 1000).max + 1)
      } else {
        purchases.clear(); tmr.clear()
      }
      out
    }
  }

  /** Append-mode variant of [[runComplete]] for flatMapGroupsWithState. */
  private def runAppend(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val mem = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val ck = Scratch.streamCk()
    val q = df.writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Scratch.release(ck)
    s.table(mem)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.Tables

/** Event value projected to the portable millisecond domain. */
case class EventRow(user_id: Long, ts_ms: Long, value: Double)

/** EventRow variant that keeps the watermarked event-time column (required
  * by event-time-timeout stateful operators).
  */
case class EventRowTs(user_id: Long, ts: java.sql.Timestamp, ts_ms: Long, value: Double)

/** One (user -> item) edge observation from the event stream. */
case class EdgeEvent(user_id: Long, item: Long, ts_ms: Long, value: Double)

/** Folded edge state: weight accumulators per (user, item) pair. */
case class EdgeState(n: Long, sumScaled: Long, maxTs: Long)

/** Running per-user fold state — the event-sourcing fold that rebuilds the
  * reference's node-actor state from its journal (SURVEY.md §2.8). Sums are
  * scale-to-integer so the fold is order-independent and exact.
  */
case class UserState(n: Long, sumScaled: Long, maxTs: Long)

case class CompactEv(user_id: Long, ts_ms: Long, event_id: Long,
                     event_type: String, value: Double)

case class CompactState(ms: Long, eid: Long, ty: String, vScaled: Long)

/** One view/purchase observation for the CEP sequence fold. */
case class CepEv(user_id: Long, ts_ms: Long, event_id: Long,
                 event_type: String)

/** CEP fold state: latest view ts + running pattern counters (O(1) per
  * user — the whole point of streaming CEP vs journal re-scans).
  */
case class CepState(lastView: Long, nV: Long, nP: Long, nM: Long,
                    sumGap: Long)

/** Streaming surface (SURVEY.md §2.8), modeled on Structured Streaming over
  * the `events` table. Each windowing/dedup/stateful operator exists twice:
  *
  *   - a batch form (this file's `queries` entries) using the SAME windowing
  *     primitives (`window`, `session_window`, `flatMapGroupsWithState` in
  *     batch mode) — deterministic, DuckDB-oracle-checked;
  *   - a `readStream` form (the `*Stream` builders) driven by
  *     StreamingSpec with processAllAvailable(), asserted ≡ the batch twin.
  *
  * Batch/stream sharing one code path is the point: at 100 TB the same
  * query graph runs incrementally with watermark-bounded state instead of
  * as a full re-scan.
  */
object StreamingOps {

  type Q = (SparkSession, String) => DataFrame

  private val SessionGapMs = 1800000L // 30 minutes

  // ===== shared transform cores (batch DataFrame in, result out) =====

  /** 5-minute tumbling count+sum by event_type; window keyed by epoch-ms
    * start (the only portable form of the ns-precision source timestamps).
    */
  private def tumblingCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), Relational.msum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type", $"n", $"sum_value")
  }

  /** EXACT distinct users per 10-minute tumbling window — the streaming-
    * legal spelling: `countDistinct` cannot run incrementally, so the core
    * is dropDuplicates(window, user) → count, which Structured Streaming
    * executes as watermark-expired dedup state + a windowed count (two
    * chained stateful operators — bounded state, the exact twin of
    * [[stream_distinct_approx]]'s HLL sketch). Batch and stream share
    * this one dataflow.
    */
  private def distinctExactCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select(window($"ts", "10 minutes").as("w"), $"user_id")
      .dropDuplicates("w", "user_id")
      .groupBy($"w").agg(count(lit(1)).as("n_users"))
      .select(unix_millis($"w.start").as("ws_ms"), $"n_users")
  }

  /** 10-minute windows sliding every 5 — each event lands in 2 windows. */
  private def slidingCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type", $"n")
  }

  /** Per-user session windows, 30-minute gap: start, end(+gap), count, span. */
  private def sessionCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_millis($"w.start").as("start_ms"),
        unix_millis($"w.end").as("end_ms"), $"n_events")
  }

  // ===== registry entries (batch twins, oracle-checked) =====

  val streamTumbling: Q = (s, dir) => {
    import s.implicits._
    tumblingCore(Tables.events(s, dir)).orderBy($"ws_ms", $"event_type")
  }

  val streamSliding: Q = (s, dir) => {
    import s.implicits._
    slidingCore(Tables.events(s, dir)).orderBy($"ws_ms", $"event_type")
  }

  val streamSession: Q = (s, dir) => {
    import s.implicits._
    sessionCore(Tables.events(s, dir)).orderBy($"user_id", $"start_ms")
  }

  val streamDistinctExact: Q = (s, dir) => {
    import s.implicits._
    distinctExactCore(Tables.events(s, dir)).orderBy($"ws_ms")
  }

  /** Watermarked-dedup batch twin: one row per (user_id, event_type) with
    * first-seen time and the count of duplicates that dedup would drop
    * (dropDuplicates keeps an arbitrary row, so the twin reduces to
    * order-independent aggregates — SURVEY.md §2.8).
    */
  val streamDedup: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", $"event_type")
      .agg(min(unix_millis($"ts")).as("first_ts_ms"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy($"user_id", $"event_type")
  }

  /** Event-sourcing fold via flatMapGroupsWithState in BATCH mode (each
    * group gets one invocation over all its events — identical semantics to
    * the incremental streaming run asserted in StreamingSpec). The fold is
    * commutative (count / scaled-sum / max), so executor iteration order
    * cannot change the result.
    */
  val streamStatefulFold: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, (Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, events, state) =>
        val init = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
        val folded = events.foldLeft(init) { (st, e) =>
          UserState(st.n + 1, st.sumScaled + math.round(e.value * 10000), math.max(st.maxTs, e.ts_ms))
        }
        state.update(folded)
        Iterator((uid, folded.n, folded.sumScaled / 10000.0, folded.maxTs))
      }
      .toDF("user_id", "n_events", "sum_value", "last_ts_ms")
      .orderBy($"user_id")
  }

  /** The reference's write path, relationalized: the event journal folds
    * into graph EDGE state — (user -(interacts)-> item) weights accumulated
    * per pair via flatMapGroupsWithState keyed on the edge. This is exactly
    * how the actor DB materializes adjacency from its journal, as an
    * incremental stream (streaming variant) or a one-shot batch replay
    * (this registry entry — same code path, oracle-checked).
    */
  val streamEdgeUpsert: Q = (s, dir) => {
    import s.implicits._
    edgeEvents(Tables.events(s, dir))
      .groupByKey(e => (e.user_id, e.item))
      .flatMapGroupsWithState[EdgeState, (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(edgeFold)
      .toDF("user_id", "item", "n_events", "weight", "last_ts_ms")
      .orderBy($"user_id", $"item")
  }

  private def edgeEvents(e: DataFrame): org.apache.spark.sql.Dataset[EdgeEvent] = {
    import e.sparkSession.implicits._
    e.select($"user_id",
      get_json_object($"props", "$.k").cast("long").as("item"),
      unix_millis($"ts").as("ts_ms"), $"value")
      .as[EdgeEvent]
  }

  private val edgeFold: ((Long, Long), Iterator[EdgeEvent],
      org.apache.spark.sql.streaming.GroupState[EdgeState]) =>
      Iterator[(Long, Long, Long, Double, Long)] = { (key, events, state) =>
    val init = state.getOption.getOrElse(EdgeState(0L, 0L, Long.MinValue))
    val folded = events.foldLeft(init) { (st, e) =>
      EdgeState(st.n + 1, st.sumScaled + math.round(e.value * 10000),
        math.max(st.maxTs, e.ts_ms))
    }
    state.update(folded)
    Iterator((key._1, key._2, folded.n, folded.sumScaled / 10000.0, folded.maxTs))
  }

  /** Streaming-maintained GRAPH metric — the reference's event-sourced
    * adjacency made live, then READ: the journal folds into (user → item)
    * edge state through the [[streamEdgeUpsert]] core, and the top-20
    * users by DEGREE (distinct items touched) are read from the STATE,
    * never the raw journal — per user: degree, event count, exact summed
    * edge weight (each edge's scale-to-integer accumulator recovered and
    * summed as BIGINT, one divide at the end — no float-sum order), and
    * latest activity; ties to the smaller user_id. The incremental twin
    * is [[edgeStateStoreRun]]: StreamingSpec drives the SAME fold through
    * a multi-micro-batch foreachBatch upsert into a keyed delta store and
    * asserts the store read ≡ this batch replay — incremental ≡ replay
    * for a graph metric. At 100 TB the read costs |state| (bounded by
    * active pairs), not |journal|.
    */
  val streamDegreeTopk: Q = (s, dir) =>
    degreeTopkRead(foldEdgeState(Tables.events(s, dir)))

  /** Degree top-k over an edge-state frame (shared by the batch replay
    * and the incremental store read).
    */
  private[graft] def degreeTopkRead(state: DataFrame): DataFrame = {
    import state.sparkSession.implicits._
    state.groupBy($"user_id")
      .agg(count(lit(1)).as("degree"), sum($"n_events").as("n_events"),
        (sum(round($"weight" * lit(10000)).cast("long")).cast("double") /
          lit(10000.0)).as("weight"),
        max($"last_ts_ms").as("last_ts_ms"))
      .orderBy($"degree".desc, $"user_id").limit(20)
  }

  /** Incremental graph-state maintenance, MATERIALIZED: the journal is
    * split into `chunks` files and streamed through the
    * [[streamEdgeUpsert]] fold one micro-batch per file
    * (maxFilesPerTrigger=1); every micro-batch APPENDS its emitted edge
    * rows — each touched key's CUMULATIVE state, which is what
    * flatMapGroupsWithState emits — to a keyed delta store stamped with
    * the batch id. Keep-latest-per-(user_id, item) at read time IS the
    * upsert merge (the LSM / merge-on-read pattern every streaming
    * upsert sink uses; compaction is [[streamCompactLatest]]'s job). At
    * 100 TB the store is a keyed table and each batch is a MERGE INTO on
    * (user_id, item) — same contract, bigger sink. Returns the store
    * path.
    */
  def edgeStateStoreRun(s: SparkSession, dir: String, chunks: Int = 3): String = {
    import s.implicits._
    val base = graft.Scratch.dir("stream_degree_topk")
    val src = s"$base/journal"
    val store = s"$base/state"
    Tables.events(s, dir).repartition(chunks)
      .write.mode("overwrite").parquet(src)
    val es = s.readStream.schema(Tables.events(s, dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = edgeEvents(es)
      .groupByKey(e => (e.user_id, e.item))
      .flatMapGroupsWithState[EdgeState, (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(edgeFold)
      .toDF("user_id", "item", "n_events", "weight", "last_ts_ms")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          batch.withColumn("batch_seq", lit(id))
            .write.mode("append").parquet(store)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    store
  }

  /** Merge-on-read over an [[edgeStateStoreRun]] delta store: the latest
    * write per (user_id, item) is the current edge state. The window is
    * keyed on the edge — state-sized partitions, never a global sort.
    */
  def edgeStateStoreRead(s: SparkSession, store: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"item").orderBy($"batch_seq".desc)
    s.read.parquet(store)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"item", $"n_events", $"weight", $"last_ts_ms")
  }

  /** Point-in-time state reconstruction — the event-sourced store's
    * signature capability: rebuild the (user → item) edge state AS OF a
    * cutoff T by replaying only journal entries with ts ≤ T through the
    * SAME fold core as [[streamEdgeUpsert]] (edgeEvents → edgeFold).
    *
    * T is a PUBLIC runtime parameter ([[edgeStateAsOf]]); the registry
    * entry instantiates it at max event time − 1 hour. T is resolved with
    * a metadata-cheap one-row collect (an agg over the single ts column)
    * and injected as a LITERAL: a literal bound on the scan column is the
    * only form Catalyst can push into the parquet reader (the previous
    * broadcast-scalar formulation kept the semantics but scanned the full
    * journal — a runtime scalar can't prune at planning time). With the
    * 100 TB date-partitioned journal layout ([[writeJournal]] /
    * [[replayJournalAsOf]]) the same literal also becomes a
    * PartitionFilter, so whole date directories are skipped before any
    * fold work runs — both pushdowns are pinned by StreamingSpec.
    */
  val stateAsof: Q = (s, dir) => {
    import s.implicits._
    val tMs = Tables.events(s, dir)
      .agg(max(unix_millis($"ts"))).first().getLong(0) - 3600000L
    edgeStateAsOf(s, dir, tMs).orderBy($"user_id", $"item")
  }

  /** Public as-of API over the flat parquet journal: edge state at ANY
    * epoch-ms cutoff `tMs`. The bound is applied by [[Tables.journal]] in
    * the file's OWN unit (`unix_millis(ts) <= tMs` semantics, keeping every
    * sub-ms tail of the boundary ms), so it reaches the scan as a
    * PushedFilter instead of dying on a derived projection.
    */
  def edgeStateAsOf(s: SparkSession, dir: String, tMs: Long): DataFrame =
    foldEdgeState(Tables.journal(s, s"$dir/events.parquet", upToMs = Some(tMs)))

  /** Snapshot DIFF — "what changed between T1 and T2": the CDC question an
    * event-sourced store answers for incremental rebuild planning. Both
    * snapshots replay through the SAME fold core as [[stateAsof]]
    * (T1 = max − 2 h, T2 = max − 1 h, both literal-pushed into the scan),
    * then a key join emits only edges whose state moved (new edges report
    * n_t1 = 0). Exactness note: the registry op rebuilds both snapshots so
    * every output double is the fold of its full prefix — bit-identical to
    * the oracle's two GROUP BYs; at 100 TB, where the sink stores the
    * SCALED-LONG accumulator instead of the divided double, the fold's
    * monoid structure lets the same diff come from scanning only the
    * (T1, T2] window of the date-partitioned journal (changed keys = keys
    * in the window; new state = old ⊕ window).
    */
  val stateDiff: Q = (s, dir) => {
    import s.implicits._
    val mx = Tables.events(s, dir)
      .agg(max(unix_millis($"ts"))).first().getLong(0)
    val a = edgeStateAsOf(s, dir, mx - 7200000L)
      .select($"user_id", $"item", $"n_events".as("n_t1"), $"weight".as("w_t1"))
    val b = edgeStateAsOf(s, dir, mx - 3600000L)
      .select($"user_id", $"item", $"n_events".as("n_t2"), $"weight".as("w_t2"))
    b.join(a, Seq("user_id", "item"), "left")
      .filter($"n_t1".isNull || $"n_t2" =!= $"n_t1")
      .select($"user_id", $"item",
        coalesce($"n_t1", lit(0L)).as("n_t1"), $"n_t2",
        coalesce($"w_t1", lit(0.0)).as("w_t1"), $"w_t2")
      .orderBy($"user_id", $"item")
  }

  /** Temporal GRAPH delta — "whose neighborhood changed in the last
    * hour": [[stateDiff]]'s snapshot pair read as a graph METRIC. Both
    * snapshots (T1 = max − 2 h, T2 = max − 1 h, literal-pushed prefix
    * replays through the [[streamEdgeUpsert]] fold) roll up to per-user
    * distinct-item DEGREE and event counts; emit only users whose degree
    * or event count moved (new users report zeros), with the deltas.
    * At 100 TB the same monoid argument as state_diff applies: the
    * date-partitioned journal serves this from the (T1, T2] window plus
    * the stored T1 state. One fold per snapshot + two user-keyed aggs.
    */
  val graphDegreeDelta: Q = (s, dir) => {
    import s.implicits._
    val mx = Tables.events(s, dir)
      .agg(max(unix_millis($"ts"))).first().getLong(0)
    def degOf(tMs: Long): DataFrame =
      edgeStateAsOf(s, dir, tMs)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("d"), sum($"n_events").as("n"))
    val a = degOf(mx - 7200000L).select($"user_id", $"d".as("d_t1"), $"n".as("n_t1"))
    val b = degOf(mx - 3600000L).select($"user_id", $"d".as("d_t2"), $"n".as("n_t2"))
    b.join(a, Seq("user_id"), "left")
      .filter($"d_t1".isNull || $"d_t2" =!= $"d_t1" || $"n_t2" =!= $"n_t1")
      .select($"user_id",
        coalesce($"d_t1", lit(0L)).as("d_t1"), $"d_t2",
        ($"d_t2" - coalesce($"d_t1", lit(0L))).as("d_delta"),
        coalesce($"n_t1", lit(0L)).as("n_t1"), $"n_t2")
      .orderBy($"user_id")
  }

  /** SCD-2 dimension build from the event journal — "track each user's
    * event-type history as validity intervals": change detection (an event
    * opens a new version only when its type differs from the previous
    * event's) followed by interval assembly (valid_from = change ts,
    * valid_to = next change ts, −1 marks the open current version),
    * version = per-user change ordinal. The standard warehouse SCD-2
    * materialization, here as two window passes over ONE user-keyed
    * shuffle — no state store needed in batch; (tms, event_id) makes the
    * order total so both engines see identical intervals.
    */
  val stateScd2: Q = (s, dir) => {
    import s.implicits._
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"tms", $"event_id")
    val chg = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("tms"), $"event_id")
      .withColumn("prev", lag($"event_type", 1).over(byUser))
      .filter($"prev".isNull || $"event_type" =!= $"prev")
    chg.select($"user_id", $"event_type",
        $"tms".as("valid_from"),
        coalesce(lead($"tms", 1).over(byUser), lit(-1L)).as("valid_to"),
        row_number().over(byUser).cast("long").as("version"))
      .orderBy($"user_id", $"version")
  }

  /** CDC log compaction — the keep-latest-per-key pass every changelog
    * store runs before serving point lookups: latest event per user under
    * the deterministic (ms, event_id) version order, spelled as ONE
    * max-struct aggregation (the struct comparison IS the version
    * comparator) — map-side combinable, no window, no sort, no shuffle
    * beyond the key agg; the version counter rides the same agg. The
    * 100 TB posture of compaction: one exchange on the key, partials
    * folded before the shuffle.
    */
  val stateCompactLatest: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id",
        $"event_type", round($"value" * lit(10000)).cast("long").as("v"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_versions"),
        max(struct($"ms", $"event_id", $"event_type", $"v")).as("m"))
      .select($"user_id", $"n_versions", $"m.ms".as("last_ms"),
        $"m.event_id".as("last_event_id"), $"m.event_type".as("last_type"),
        ($"m.v".cast("double") / lit(10000.0)).as("last_value"))
      .orderBy($"user_id")
  }

  /** State-GC tombstone audit — what a stateful store's retention sweep
    * would reclaim: per-user last-active day against the observed horizon,
    * bucketed into live (≤3 idle days) / idle (4-7) / tombstone (>7 —
    * evict and archive). Exact integer day arithmetic off one key agg +
    * a broadcast horizon scalar; the summary a state-TTL policy is tuned
    * from.
    */
  val stateGcTombstones: Q = (s, dir) => {
    import s.implicits._
    val last = Tables.events(s, dir)
      .select($"user_id",
        (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .groupBy($"user_id").agg(max($"d").as("last_d"))
    val horizon = last.agg(max($"last_d").as("maxd"))
    last.crossJoin(broadcast(horizon))
      .withColumn("idle", $"maxd" - $"last_d")
      .groupBy(when($"idle" <= 3, "live").when($"idle" <= 7, "idle")
        .otherwise("tombstone").as("bucket"))
      .agg(count(lit(1)).as("n_users"), max($"idle").as("max_idle_days"))
      .orderBy($"bucket")
  }

  /** The keep-latest fold shared by [[streamCompactLatest]]'s batch and
    * streaming faces: the state IS the winning (ms, event_id)-max row, so
    * the fold is commutative/idempotent per event — executor iteration
    * order and micro-batch boundaries cannot change the survivor.
    */
  private def compactFold(uid: Long, events: Iterator[CompactEv],
      state: org.apache.spark.sql.streaming.GroupState[CompactState])
      : Iterator[(Long, Long, Long, String, Double)] = {
    val init = state.getOption.getOrElse(
      CompactState(Long.MinValue, Long.MinValue, "", 0L))
    val folded = events.foldLeft(init) { (st, e) =>
      if (e.ts_ms > st.ms || (e.ts_ms == st.ms && e.event_id > st.eid))
        CompactState(e.ts_ms, e.event_id, e.event_type,
          math.round(e.value * 10000))
      else st
    }
    state.update(folded)
    Iterator((uid, folded.ms, folded.eid, folded.ty, folded.vScaled / 10000.0))
  }

  private def compactEvents(e: DataFrame): org.apache.spark.sql.Dataset[CompactEv] = {
    import e.sparkSession.implicits._
    e.select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
      col("event_id"), col("event_type"), col("value")).as[CompactEv]
  }

  /** [[stateCompactLatest]]'s STATEFUL-FOLD twin — the same keep-latest
    * compaction driven through flatMapGroupsWithState (batch mode here;
    * the incremental face is [[compactLatestStream]], equality asserted
    * in StreamingSpec): how a live CDC consumer maintains the serving
    * view the batch op rebuilds from scratch.
    */
  val streamCompactLatest: Q = (s, dir) => {
    import s.implicits._
    compactEvents(Tables.events(s, dir))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CompactState, (Long, Long, Long, String, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(compactFold)
      .toDF("user_id", "last_ms", "last_event_id", "last_type", "last_value")
      .orderBy($"user_id")
  }

  /** Incremental face of [[streamCompactLatest]] (StreamingSpec). */
  def compactLatestStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    compactEvents(eventsStream(s, dir))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CompactState, (Long, Long, Long, String, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(compactFold)
      .toDF("user_id", "last_ms", "last_event_id", "last_type", "last_value")
  }

  /** The shared journal→state fold ([[streamEdgeUpsert]]'s core). */
  private def foldEdgeState(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    edgeEvents(e)
      .groupByKey(ev => (ev.user_id, ev.item))
      .flatMapGroupsWithState[EdgeState, (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(edgeFold)
      .toDF("user_id", "item", "n_events", "weight", "last_ts_ms")
  }

  /** Write the events journal in the 100 TB layout: parquet partitioned by
    * event DATE (UTC), µs timestamps preserved. One directory per day
    * means an as-of replay reads only the prefix of directories ≤ the
    * cutoff date — O(journal prefix), not O(journal).
    */
  def writeJournal(s: SparkSession, dir: String, path: String): Unit =
    Tables.journal(s, s"$dir/events.parquet")
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(path)

  /** Replay a [[writeJournal]] journal as of `tMs`: the literal date bound
    * prunes whole day partitions at planning time (PartitionFilters) and
    * the literal ts bound prunes row groups within the boundary day
    * (PushedFilters). Identical state to [[edgeStateAsOf]] by
    * construction — StreamingSpec pins both the equality and the pruning.
    */
  def replayJournalAsOf(s: SparkSession, path: String, tMs: Long): DataFrame = {
    require(tMs >= 0, s"replayJournalAsOf needs a non-negative epoch-ms cutoff (got $tMs)")
    val cutDate = java.time.Instant.ofEpochMilli(tMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    foldEdgeState(
      Tables.journal(s, path, withDate = true, upToMs = Some(tMs))
        .filter(col("event_date") <= lit(java.sql.Date.valueOf(cutDate))))
  }

  /** Attribution pairs — the stream-stream twin of `join_asof`'s domain:
    * every (purchase, click) pair of the same user with the click in the
    * 30 minutes at-or-before the purchase. Timestamps are ms-truncated
    * BEFORE the range condition so the batch twin, the streaming variant,
    * and the epoch-ms DuckDB oracle all evaluate the identical predicate
    * (the raw ns-precision tails would make the 30-minute boundary drift
    * between engines).
    */
  private def attributionCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val ms = e.withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val clicks = ms.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    val purchases = ms.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"))
    purchases.join(clicks,
      $"user_id" === $"c_user" &&
        $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"))
      .select($"purchase_id", $"click_id", $"user_id",
        unix_millis($"p_ts").as("purchase_ts_ms"), unix_millis($"c_ts").as("click_ts_ms"))
  }

  /** Batch twin of the stream-stream attribution join (oracle-checked). */
  val streamJoin: Q = (s, dir) => {
    import s.implicits._
    attributionCore(Tables.events(s, dir))
      .orderBy($"purchase_id", $"click_id")
  }

  /** Streaming variant: a genuine stream-stream inner join with watermarks
    * on both sides and a time-interval condition — Spark keeps only the
    * watermark-bounded window of each side in the state store, which is
    * what makes this run incrementally over an unbounded feed (at 100 TB/
    * day: RocksDB state store + event-time watermarks bound state size;
    * set spark.sql.streaming.stateStore.providerClass to the RocksDB
    * provider in production).
    *
    * Both sides re-read the SAME events stream (filtered differently), as
    * the reference's journal fan-out does. Asserted ≡ the batch twin in
    * StreamingSpec.
    */
  /** Left-outer twin of [[attributionCore]]: every purchase emits, the
    * unattributed ones with NULL click columns — the shape that answers
    * "which conversions have no campaign touch". */
  private def attributionOuterCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val ms = e.withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val clicks = ms.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    val purchases = ms.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"))
    purchases.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select($"purchase_id", $"click_id", $"user_id",
        unix_millis($"p_ts").as("purchase_ts_ms"),
        unix_millis($"c_ts").as("click_ts_ms"))
  }

  /** Batch twin of the stream-stream LEFT OUTER attribution (oracle-checked). */
  val streamOuterJoin: Q = (s, dir) => {
    import s.implicits._
    attributionOuterCore(Tables.events(s, dir))
      .orderBy($"purchase_id", $"click_id")
  }

  /** Streaming variant: stream-stream LEFT OUTER join — the semantics
    * only watermarks make possible on unbounded feeds: a purchase's NULL
    * row can be emitted only once the click-side watermark PROVES no
    * match can still arrive, so the unmatched results trail the matched
    * ones by the watermark delay (state eviction = emission). Same
    * interval condition and watermarks as [[attributionStream]];
    * StreamingSpec pins equality with the batch twin.
    */
  def attributionOuterStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ms = (df: DataFrame) => df.withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val c = ms(eventsStream(s, dir)).withWatermark("ts", "40 minutes")
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    val p = ms(eventsStream(s, dir)).withWatermark("ts", "10 minutes")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"))
    p.join(c,
        $"user_id" === $"c_user" &&
          $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"),
        "leftOuter")
      .select($"purchase_id", $"click_id", $"user_id",
        unix_millis($"p_ts").as("purchase_ts_ms"),
        unix_millis($"c_ts").as("click_ts_ms"))
  }

  def attributionStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ms-truncate BEFORE the watermark: replacing the event-time column
    // after withWatermark would drop the watermark tag
    val ms = (df: DataFrame) => df.withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val c = ms(eventsStream(s, dir)).withWatermark("ts", "40 minutes")
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    val p = ms(eventsStream(s, dir)).withWatermark("ts", "10 minutes")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"))
    p.join(c,
      $"user_id" === $"c_user" &&
        $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"))
      .select($"purchase_id", $"click_id", $"user_id",
        unix_millis($"p_ts").as("purchase_ts_ms"), unix_millis($"c_ts").as("click_ts_ms"))
  }

  /** Dimension-enrichment core: events joined to the customer dim on
    * user_id = c_custkey and rolled up per (segment, event_type, 1-hour
    * window). The dim side is broadcast — the map-side enrichment every
    * event pipeline needs; in streaming the static side re-resolves per
    * micro-batch with NO state store involved (a stream-static join keeps
    * zero streaming state), which is why this shape scales to any event
    * rate: state cost is the windowed agg only.
    */
  private def enrichCore(e: DataFrame, dim: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.join(broadcast(dim), $"user_id" === $"c_custkey")
      .groupBy(window($"ts", "1 hour").as("w"), $"c_mktsegment", $"event_type")
      .agg(count(lit(1)).as("n"), Relational.msum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("ws_ms"),
        $"c_mktsegment".as("segment"), $"event_type", $"n", $"sum_value")
  }

  /** Windowed approximate distinct users (HLL++ sketch, rsd 2%) — the
    * mergeable-sketch shape of streaming cardinality at 100 TB: per-window
    * HLL state is O(KB) and merges across partitions/micro-batches, where
    * exact distinct would hold every user id in state. Sketch internals
    * have no DuckDB twin ⇒ no oracle; StreamingSpec asserts the streaming
    * run ≡ this batch twin and both within 5% of exact.
    */
  private def distinctApproxCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.groupBy(window($"ts", "1 hour").as("w"))
      .agg(approx_count_distinct($"user_id", rsd = 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(unix_millis($"w.start").as("ws_ms"), $"approx_users", $"n_events")
  }

  val streamDistinctApprox: Q = (s, dir) => {
    import s.implicits._
    distinctApproxCore(Tables.events(s, dir)).orderBy($"ws_ms")
  }

  def distinctApproxStream(s: SparkSession, dir: String): DataFrame =
    distinctApproxCore(eventsStream(s, dir))

  private def customerDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
  }

  /** Batch twin of the stream-static enrichment join (oracle-checked). */
  val streamEnrich: Q = (s, dir) => {
    import s.implicits._
    enrichCore(Tables.events(s, dir), customerDim(s, dir))
      .orderBy($"ws_ms", $"segment", $"event_type")
  }

  /** Streaming variant: same core over the event stream; asserted ≡ the
    * batch twin in StreamingSpec.
    */
  def enrichStream(s: SparkSession, dir: String): DataFrame =
    enrichCore(eventsStream(s, dir), customerDim(s, dir))

  /** Streaming variant of [[streamEdgeUpsert]] for incremental ingestion. */
  def edgeUpsertStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    edgeEvents(eventsStream(s, dir))
      .groupByKey(e => (e.user_id, e.item))
      .flatMapGroupsWithState[EdgeState, (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(edgeFold)
      .toDF("user_id", "item", "n_events", "weight", "last_ts_ms")
  }

  /** Watermark semantics, demonstrated with a real two-micro-batch streaming
    * run: batch 1 = the newer half of events (advances the watermark to
    * max - 10 min), batch 2 = events >1 h older than that watermark — all
    * dropped, so the result is exactly batch 1's windows. Returns the
    * memory-sink table (no DuckDB oracle — the driver records rows>0;
    * StreamingSpec asserts the late rows really were dropped).
    */
  val streamLateData: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select($"event_id", $"ts", $"user_id", $"value")
    val cut = e.agg(expr("percentile(unix_millis(ts), 0.5D)")).head().getDouble(0).toLong
    val inDir = s"${graft.Scratch.dir("stream_late_data")}/in"
    // 4 staging files, not one per core: the streaming source re-lists and
    // re-plans the directory every micro-batch, and 32 shards of a ~MB
    // batch are pure task/file overhead at any scale
    e.filter(unix_millis($"ts") >= cut).coalesce(4).write.parquet(inDir)

    // the windowed agg's STATE STORE count = shuffle partitions at query
    // start; at the bench's 32 that is 32 state stores for a handful of
    // window groups — so the stream runs on its own session (shared
    // SparkContext, own SQLConf) with 4, and the caller's conf is never
    // written; its memory table is that session's temp view
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val stream = ss.readStream.schema(e.schema).parquet(inDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), Relational.msum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("ws_ms"), $"n", $"sum_value")
    val name = s"late_${System.nanoTime()}"
    val query = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try {
      query.processAllAvailable() // batch 1: watermark -> maxTs - 10 min
      e.filter(unix_millis($"ts") < cut - 3600000L).coalesce(4)
        .write.mode("append").parquet(inDir)
      query.processAllAvailable() // batch 2: everything late, dropped
    } finally query.stop()
    ss.table(name).orderBy($"ws_ms")
  }

  // ===== readStream builders (library surface; driven by StreamingSpec) =====

  /** The events journal as a replayable stream, already in the normalized
    * shape (`ts` a µs TimestampType — the [[graft.sources.EventBus]]
    * contract). Ingestion goes through the pluggable bus seam — the default
    * replays the parquet journal unit-aware; a broker-equipped deployment
    * swaps a Kafka bus in via `-Dgraft.eventbus.class` and every downstream
    * operator is unchanged (they only ever see the normalized frame).
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    graft.sources.EventBus.active.events(s, dir)

  def tumblingStream(s: SparkSession, dir: String): DataFrame =
    tumblingCore(eventsStream(s, dir).withWatermark("ts", "10 minutes"))

  /** foreachBatch parquet sink: the streaming materialized-view write path
    * (the reference's serving tables, rebuilt incrementally). Each
    * micro-batch delivers the UPDATED window rows; foreachBatch upserts
    * them into a parquet dir partitioned by window start, overwriting only
    * the partitions the batch touched (dynamic partition overwrite — the
    * idempotent replay-safe upsert at any scale). Returns the sink path;
    * StreamingSpec asserts the final table equals the batch twin.
    */
  def tumblingToParquet(s: SparkSession, dir: String): String = {
    val out = s"${graft.Scratch.dir("stream_mview")}/tumbling"
    val q = tumblingStream(s, dir).writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("ws_ms").parquet(out)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    out
  }

  def slidingStream(s: SparkSession, dir: String): DataFrame =
    slidingCore(eventsStream(s, dir).withWatermark("ts", "10 minutes"))

  def distinctExactStream(s: SparkSession, dir: String): DataFrame =
    distinctExactCore(eventsStream(s, dir).withWatermark("ts", "10 minutes"))

  def sessionStream(s: SparkSession, dir: String): DataFrame =
    sessionCore(eventsStream(s, dir).withWatermark("ts", "30 minutes"))

  def dedupStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")
      .select($"user_id", $"event_type")
  }

  def statefulFoldStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, dir)
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, (Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, events, state) =>
        val init = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
        val folded = events.foldLeft(init) { (st, e) =>
          UserState(st.n + 1, st.sumScaled + math.round(e.value * 10000), math.max(st.maxTs, e.ts_ms))
        }
        state.update(folded)
        Iterator((uid, folded.n, folded.sumScaled / 10000.0, folded.maxTs))
      }
      .toDF("user_id", "n_events", "sum_value", "last_ts_ms")
  }

  /** State-TTL fold — the reference's actor PASSIVATION pattern: per-user
    * running state with an EVENT-TIME TIMEOUT. While a user stays active
    * the fold accumulates silently; once the watermark passes 30 idle
    * minutes the state is evicted and EMITTED, then rebuilt from scratch if
    * the user returns. This is what bounds stateful-operator memory on an
    * unbounded feed (the unbounded-state fold keeps every user forever).
    * Streaming-only library surface; StreamingSpec asserts evicted rows
    * equal the batch fold for those users.
    */
  def ttlFoldStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      // the watermarked ts column must SURVIVE the projection — event-time
      // timeout resolves against it
      .select($"user_id", $"ts", unix_millis($"ts").as("ts_ms"), $"value")
      .as[EventRowTs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, (Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (uid, events, state) =>
        if (state.hasTimedOut) {
          val st = state.get
          state.remove() // passivate: evict + emit the folded state
          Iterator((uid, st.n, st.sumScaled / 10000.0, st.maxTs))
        } else {
          val init = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          val folded = events.foldLeft(init) { (st, e) =>
            UserState(st.n + 1, st.sumScaled + math.round(e.value * 10000),
              math.max(st.maxTs, e.ts_ms))
          }
          state.update(folded)
          state.setTimeoutTimestamp(folded.maxTs + 1800000L) // 30-min idle TTL
          Iterator.empty
        }
      }
      .toDF("user_id", "n_events", "sum_value", "last_ts_ms")
  }

  /** Top-k event types per tumbling window — the streaming "trending now"
    * serving query. The WINDOWED COUNT is the incremental (streaming)
    * stage — StreamingSpec runs it live and pins equality — and the per-
    * window rank is a batch finish over the sink table (ranking is not
    * incrementally maintainable in append mode; the standard split is
    * stream-aggregate → rank-at-read). Batch twin: one shuffle for the
    * count agg, one window sort over the tiny (window × 5 types) frame.
    */
  private def topkCore(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val byWin = org.apache.spark.sql.expressions.Window
      .partitionBy($"ws_ms").orderBy($"n".desc, $"event_type")
    counts
      .withColumn("rnk", row_number().over(byWin).cast("long"))
      .filter($"rnk" <= 3)
      .select($"ws_ms", $"rnk", $"event_type", $"n")
  }

  /** The incremental stage of [[streamTopk]] as a live stream (windowed
    * counts; the rank is a batch finish — see [[topkFinish]]).
    */
  def topkCountsStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, dir).withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type", $"n")
  }

  val streamTopk: Q = (s, dir) => {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type", $"n")
    topkCore(counts).orderBy($"ws_ms", $"rnk")
  }

  /** The streaming stage of [[streamTopk]] exposed for the live spec: the
    * rank finish over an already-materialized windowed-count table.
    */
  private[graft] def topkFinish(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    topkCore(counts).orderBy($"ws_ms", $"rnk")
  }

  /** Fixed-window rate-limit accounting — the API-gateway admission
    * contract "≤3 events per user per minute" scored over the feed: the
    * windowed per-user count is the INCREMENTAL stage (plain streaming
    * agg — watermark-compatible, no per-event state), admitted =
    * least(n, 3) is a stateless finish, and the per-user rollup reports
    * what a token bucket would have passed/shed. Two shuffles total
    * (window agg, user rollup), both partial-combining.
    */
  private def throttleCore(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    counts.groupBy($"user_id")
      .agg(sum($"n").as("n_events"),
        sum(least($"n", lit(3L))).as("n_admitted"),
        count(lit(1)).as("n_windows"))
      .select($"user_id", $"n_events", $"n_admitted",
        ($"n_events" - $"n_admitted").as("n_rejected"), $"n_windows")
  }

  /** The incremental (streaming) stage of [[streamThrottle]]: per-user
    * 1-minute tumbling counts on the live feed.
    */
  def throttleCountsStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, dir).withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 minute").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("ws_ms"), $"user_id", $"n")
  }

  /** The stateless finish of [[streamThrottle]] exposed for the live
    * spec, mirroring [[topkFinish]].
    */
  private[graft] def throttleFinish(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    throttleCore(counts).orderBy($"user_id")
  }

  val streamThrottle: Q = (s, dir) => {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .groupBy(window($"ts", "1 minute").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("ws_ms"), $"user_id", $"n")
    throttleCore(counts).orderBy($"user_id")
  }

  /** Windowed-count anomaly alerts — the detector every on-call feed
    * runs over its stream sink: per-type 5-minute counts (the SAME
    * incremental stage [[topkCountsStream]] already proves live) scored
    * against the per-type window-count distribution; a window alerts
    * when |n − mean| > 2σ, decided by the EXACT integer
    * cross-multiplication A² > 4·B (A = n·W − Σn, B = W·Σn² − (Σn)²) —
    * no float touches the alert decision; z is display-only.
    */
  private def anomalyCore(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    // per-type stats as a PARTITIONED window (frame = observed windows
    // per type — time-bounded at any volume), not a self-join: a memory
    // -sink view joined with its own aggregate trips Spark's conflicting
    // -reference resolution, and the window spelling is one pass anyway
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
    counts
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sn", sum($"n").over(w))
      .withColumn("qn", sum($"n" * $"n").over(w))
      .withColumn("a", $"n" * $"nw" - $"sn")
      .withColumn("b", $"nw" * $"qn" - $"sn" * $"sn")
      .filter($"a" * $"a" > $"b" * 4 && $"b" > 0)
      .select($"ws_ms", $"event_type", $"n",
        graft.ops.LlmOps.pround4($"a".cast("double") /
          sqrt($"b".cast("double"))).as("z"))
  }

  /** The stateless finish of [[streamAnomaly]] exposed for the live
    * spec, mirroring [[topkFinish]].
    */
  private[graft] def anomalyFinish(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    anomalyCore(counts).orderBy($"event_type", $"ws_ms")
  }

  val streamAnomaly: Q = (s, dir) => {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type", $"n")
    anomalyFinish(counts)
  }

  /** Point-in-time lookup over the SCD2 dimension — the feature-store /
    * warehouse "as the world looked at T" read (training-serving skew
    * dies here): the [[stateScd2]] interval frame filtered to the
    * version whose [valid_from, valid_to) covers 2024-01-15T00:00Z, open
    * intervals included. Pure composition of a graded frame + one
    * pushdown-able predicate — no extra shuffle beyond the SCD2 build.
    */
  val statePitLookup: Q = (s, dir) => {
    import s.implicits._
    val T = 1705276800000L // 2024-01-15T00:00:00Z, inside the feed window
    stateScd2(s, dir)
      .filter($"valid_from" <= T && ($"valid_to" === -1L || $"valid_to" > T))
      .select($"user_id", $"event_type", $"version", $"valid_from")
      .orderBy($"user_id")
  }

  /** CEP sequence detection — "view followed by purchase within 30
    * minutes", per user: the complex-event-pattern read every funnel
    * alerting system runs on the live stream. One stateful fold keyed on
    * user carries only the LATEST view timestamp across events (state is
    * O(1) per user — the CEP point: no journal retention); each purchase
    * matches iff a view precedes it within the window, in strict
    * (ts, event_id) order. The fold SORTS its per-invocation slice (order
    * sensitivity is inherent to sequence patterns; per-user event counts
    * are bounded), so batch replay ≡ incremental run — asserted in
    * StreamingSpec via [[cepSequenceStream]] — UNDER THE DECLARED
    * IN-ORDER-ACROSS-BATCHES ASSUMPTION: the sort is per-invocation only,
    * so micro-batch BOUNDARIES must respect (ts, event_id) order per user
    * (true for the journal-replay bus, which feeds batches in journal
    * order; a reordering broker would need an event-time watermark +
    * buffer stage before this fold, at the cost of bounded emission
    * delay). An event arriving in a later micro-batch with an earlier
    * timestamp would match against a newer lastView than a batch replay
    * would use. Emission is CUMULATIVE per user per invocation (Append
    * mode re-emits the updated counters each touched micro-batch);
    * consumers take the LAST row per user — the batch≡stream spec does
    * exactly that. Gap sums stay exact BIGINT milliseconds.
    */
  private def cepCore(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"event_type".isin("view", "purchase"))
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id",
        $"event_type")
      .as[CepEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, events, state) =>
        val init = state.getOption
          .getOrElse(CepState(Long.MinValue, 0L, 0L, 0L, 0L))
        val folded = events.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          .foldLeft(init) { (st, e) =>
            if (e.event_type == "view")
              st.copy(lastView = e.ts_ms, nV = st.nV + 1)
            else {
              val hit = st.lastView != Long.MinValue &&
                e.ts_ms - st.lastView <= 1800000L
              st.copy(nP = st.nP + 1,
                nM = if (hit) st.nM + 1 else st.nM,
                sumGap =
                  if (hit) st.sumGap + (e.ts_ms - st.lastView) else st.sumGap)
            }
          }
        state.update(folded)
        Iterator((uid, folded.nV, folded.nP, folded.nM, folded.sumGap))
      }
      .toDF("user_id", "n_views", "n_purchases", "n_matched", "sum_gap_ms")
  }

  val streamCepSequence: Q = (s, dir) => {
    import s.implicits._
    cepCore(Tables.events(s, dir)).orderBy($"user_id")
  }

  def cepSequenceStream(s: SparkSession, dir: String): DataFrame =
    cepCore(eventsStream(s, dir))

  /** Bitemporal as-of read — the axis [[statePitLookup]] doesn't have:
    * VALID time (when the fact was true: `ts`) × TRANSACTION time (when
    * the system learned it: arrival order, stamped by `event_id` — the
    * journal's monotone sequence). The 2×2 cutoff grid (tx = half/full of
    * the id domain, valid = 14d/7d before the horizon) broadcasts as 4
    * rows onto the journal (a bounded BNLJ — the sanctioned tiny-frame
    * pattern); per cell: visible events, users with state, and the exact
    * scaled sum of each user's LATEST-valid value. Reading the tx=half
    * column next to tx=full at the same valid cutoff shows late-arriving
    * revisions — the readout bitemporal stores exist for.
    */
  val stateBitemporal: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
        round($"value" * 10000).cast("long").as("vs"))
    val grid = ev
      .agg(max($"event_id").as("mid"), max($"ms").as("mms"))
      .select(explode(array(
        struct(lit("tx_half").as("txl"), expr("mid div 2").as("txc")),
        struct(lit("tx_full").as("txl"), $"mid".as("txc")))).as("tx"),
        $"mms")
      .select($"tx.txl", $"tx.txc", explode(array(
        struct(lit("v_14d").as("vl"), ($"mms" - 1209600000L).as("vc")),
        struct(lit("v_7d").as("vl"), ($"mms" - 604800000L).as("vc"))))
        .as("v"))
      .select($"txl", $"txc", $"v.vl", $"v.vc")
    ev.join(broadcast(grid), $"event_id" <= $"txc" && $"ms" <= $"vc")
      .groupBy($"txl", $"vl", $"user_id")
      .agg(count(lit(1)).as("n"),
        max(struct($"ms", $"event_id", $"vs")).getField("vs").as("lastv"))
      .groupBy($"txl", $"vl")
      .agg(count(lit(1)).as("n_users"), sum($"n").as("visible_events"),
        (sum($"lastv").cast("double") / lit(10000.0)).as("sum_last_value"))
      .orderBy($"txl", $"vl")
  }

  // ===== streaming-maintained MinHash dedup index =====

  /** JVM-wide memo for the incrementally-built signature store, the
    * [[graft.ops.LlmOps.minhashSigPath]] discipline: keyed on
    * dir + data fingerprint so a regenerated corpus forces a rebuild.
    */
  private val streamIdxPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build the MinHash signature store INCREMENTALLY: the corpus staged as
    * 4 files, a file stream with maxFilesPerTrigger=1 (4 genuine
    * micro-batches), each batch upserted into the bucket-partitioned
    * store via [[graft.api.TextPipeline.upsertSignatures]] — the
    * continuous-ingestion dedup path ([[streamEdgeUpsert]]'s delta-store
    * discipline married to the persisted index of llm_dedup_minhash_idx).
    * Returns the store path; StreamingSpec pins store ≡ the one-shot
    * batch signature build and upsert replay-idempotency.
    */
  private[graft] def minhashStreamIdxPath(s: SparkSession, dir: String): String =
    streamIdxPaths.computeIfAbsent(
      dir + "#" + graft.Scratch.fingerprint(s"$dir/documents.parquet"), _ => {
        import s.implicits._
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val in = graft.Scratch.dir(s"minhash_stream_in_$digest")
        val idx = s"${graft.Scratch.dir(s"minhash_stream_idx_$digest")}/sig"
        val docs = Tables.documents(s, dir).select($"doc_id", $"text")
        docs.repartition(4, $"doc_id").write.mode("overwrite").parquet(in)
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(in)
          .writeStream.outputMode(OutputMode.Append)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              graft.api.TextPipeline.upsertSignatures(
                batch, col("doc_id"), col("text"), idx)
          }
          .start()
        try q.processAllAvailable() finally q.stop()
        idx
      })

  /** Near-dup pairs served from the STREAMING-maintained signature store —
    * bit-identical to llm_dedup_minhash / llm_dedup_minhash_idx (same
    * signatures, same band join, same exact verification; the store just
    * arrived one micro-batch at a time), so it shares their oracle.
    */
  val streamMinhashIdx: Q = (s, dir) => {
    import s.implicits._
    val sig = graft.api.TextPipeline.loadSignatures(
      s, minhashStreamIdxPath(s, dir))
    graft.api.TextPipeline.nearDupFromSignatures(
        sig, Tables.documents(s, dir), $"doc_id", $"text", minJ = 0.5)
      .orderBy($"d1", $"d2")
  }

  val queries: Map[String, Q] = Map(
    "state_bitemporal" -> stateBitemporal,
    "stream_cep_sequence" -> streamCepSequence,
    "state_pit_lookup" -> statePitLookup,
    "stream_anomaly" -> streamAnomaly,
    "stream_throttle" -> streamThrottle,
    "stream_topk" -> streamTopk,
    "stream_tumbling" -> streamTumbling,
    "stream_sliding" -> streamSliding,
    "stream_session" -> streamSession,
    "stream_dedup" -> streamDedup,
    "stream_stateful_fold" -> streamStatefulFold,
    "stream_edge_upsert" -> streamEdgeUpsert,
    "stream_degree_topk" -> streamDegreeTopk,
    "state_asof" -> stateAsof,
    "state_compact_latest" -> stateCompactLatest,
    "stream_compact_latest" -> streamCompactLatest,
    "state_gc_tombstones" -> stateGcTombstones,
    "state_diff" -> stateDiff,
    "graph_degree_delta" -> graphDegreeDelta,
    "state_scd2" -> stateScd2,
    "stream_join" -> streamJoin,
    "stream_outer_join" -> streamOuterJoin,
    "stream_enrich" -> streamEnrich,
    "stream_distinct_approx" -> streamDistinctApprox,
    "stream_distinct_exact" -> streamDistinctExact,
    "stream_late_data" -> streamLateData,
    "stream_minhash_idx" -> streamMinhashIdx
  )

}

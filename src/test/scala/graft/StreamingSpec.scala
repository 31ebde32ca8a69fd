package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.StreamingOps

/** Batch ≡ stream equivalence for every §2.8 operator: the readStream
  * variant replayed over the same parquet (processAllAvailable) must produce
  * the batch twin's rows.
  */
class StreamingSpec extends SparkSpec {

  private def runStream(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"t${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("stream_tumbling: streaming run equals batch twin") {
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf)
    val stream = runStream(StreamingOps.tumblingStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_sliding: streaming run equals batch twin") {
    val batch = SparkEntry.queries("stream_sliding")(spark, sf)
    val stream = runStream(StreamingOps.slidingStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_session: streaming run equals batch twin") {
    val batch = SparkEntry.queries("stream_session")(spark, sf)
    val stream = runStream(StreamingOps.sessionStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_distinct_exact: Append-mode run equals batch twin on closed windows") {
    import spark.implicits._
    // Append is the mode the op's docstring claims for production (the
    // multi-stateful dedup→agg chain Spark documents FOR append); Complete
    // leaned on engine behavior only the finite replay validated (ADVICE
    // r12). Append emits exactly the windows the watermark closed, so:
    // emitted ⊆ batch twin, and the only missing rows are trailing windows
    // whose end is still past max(ts) − the 10-minute watermark delay.
    val batch = SparkEntry.queries("stream_distinct_exact")(spark, sf)
    val stream = runStream(
      StreamingOps.distinctExactStream(spark, sf), OutputMode.Append)
    val got = sortedRows(stream).toSet
    val want = sortedRows(batch).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(want))
    val wmMs = Tables.events(spark, sf)
      .agg(max(unix_millis($"ts"))).first().getLong(0) - 600000L
    val stillOpen = (want -- got).map(_.split('|')(0).toLong)
    assert(stillOpen.forall(_ + 600000L > wmMs),
      s"closed windows missing from the Append output: $stillOpen (wm=$wmMs)")
  }

  test("stream_dedup: streaming dedup keeps exactly the twin's key set") {
    val batch = SparkEntry.queries("stream_dedup")(spark, sf)
      .select("user_id", "event_type")
    val stream = runStream(StreamingOps.dedupStream(spark, sf), OutputMode.Append)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_cep_sequence: streaming CEP run equals batch twin") {
    val batch = SparkEntry.queries("stream_cep_sequence")(spark, sf)
    val stream = runStream(StreamingOps.cepSequenceStream(spark, sf), OutputMode.Append)
    assert(sortedRows(stream) === sortedRows(batch))
    // the pattern must actually fire on real data, and every match is a
    // purchase (matched <= purchases per user)
    import spark.implicits._
    val rows = batch.collect()
    assert(rows.map(_.getLong(3)).sum > 0)
    assert(rows.forall(r => r.getLong(3) <= r.getLong(2)))
  }

  test("stream_stateful_fold: incremental fold equals batch fold") {
    val batch = SparkEntry.queries("stream_stateful_fold")(spark, sf)
    val stream = runStream(StreamingOps.statefulFoldStream(spark, sf), OutputMode.Append)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_compact_latest: incremental keep-latest equals batch compaction") {
    val batch = SparkEntry.queries("stream_compact_latest")(spark, sf)
    val stream = runStream(StreamingOps.compactLatestStream(spark, sf), OutputMode.Append)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_edge_upsert: incremental edge fold equals batch replay") {
    val batch = SparkEntry.queries("stream_edge_upsert")(spark, sf)
    val stream = runStream(StreamingOps.edgeUpsertStream(spark, sf), OutputMode.Append)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_degree_topk: incremental multi-batch store read equals batch replay") {
    // the event-sourced graph metric made live: the SAME edge fold runs
    // once as a batch replay (the oracle-checked registry entry) and once
    // incrementally — 3 micro-batches foreachBatch-upserted into a keyed
    // delta store — and the degree top-k read must agree exactly
    val batch = SparkEntry.queries("stream_degree_topk")(spark, sf)
    val store = StreamingOps.edgeStateStoreRun(spark, sf, chunks = 3)
    val incremental = StreamingOps.degreeTopkRead(
      StreamingOps.edgeStateStoreRead(spark, store))
    assert(sortedRows(incremental) === sortedRows(batch))
    // and it really ran incrementally: >1 micro-batch reached the store
    assert(spark.read.parquet(store).select("batch_seq")
      .distinct().count() >= 2)
  }

  test("stream_degree_topk: store upsert is idempotent under batch replay") {
    import spark.implicits._
    // exactly-once-on-top-of-at-least-once: re-delivering a micro-batch
    // (same batch_seq — the foreachBatch replay case after a sink retry)
    // must not change the merge-on-read state
    val store = StreamingOps.edgeStateStoreRun(spark, sf, chunks = 2)
    val before = sortedRows(StreamingOps.edgeStateStoreRead(spark, store))
    val last = spark.read.parquet(store)
    val maxSeq = last.agg(max($"batch_seq")).first().getLong(0)
    last.filter($"batch_seq" === maxSeq)
      .write.mode("append").parquet(store)
    val after = sortedRows(StreamingOps.edgeStateStoreRead(spark, store))
    assert(after === before)
  }

  test("state_asof: prefix replay equals a declarative prefix aggregation") {
    import spark.implicits._
    val asof = SparkEntry.queries("state_asof")(spark, sf)
    // independent twin: no stateful fold, plain groupBy over the ts ≤ T prefix
    val e = Tables.events(spark, sf)
    val mxMs = e.agg(max(unix_millis($"ts"))).first().getLong(0)
    val twin = e.filter(unix_millis($"ts") <= mxMs - 3600000L)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item"),
        unix_millis($"ts").as("ts_ms"),
        expr("cast(round(value * 10000) as bigint)").as("vs"))
      .groupBy($"user_id", $"item")
      .agg(count(lit(1)).as("n_events"),
        (sum($"vs") / 10000.0).as("weight"),
        max($"ts_ms").as("last_ts_ms"))
    assert(sortedRows(asof) === sortedRows(twin))
    // the literal cutoff must reach the parquet reader: Tables.journal
    // applies the bound in the file's own unit, so it shows up as a
    // PushedFilter (the old broadcast-scalar T scanned the full journal)
    val p = asof.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(ts"),
      s"as-of cutoff not pushed into the journal scan:\n$p")
    // the cutoff must actually truncate the journal: strictly fewer events
    // fold into the as-of state than into the full replay (groups may
    // survive the cutoff intact at tiny sf, so compare folded-event totals)
    val full = SparkEntry.queries("stream_edge_upsert")(spark, sf)
    def totalEvents(df: DataFrame): Long =
      // coalesce: an empty as-of frame must fail the < assertion below with
      // a readable message, not NPE on a null sum
      df.agg(coalesce(sum($"n_events"), lit(0L))).first().getLong(0)
    assert(totalEvents(asof) < totalEvents(full))
  }

  test("asOf(T) API: date-partitioned journal replay prunes partitions and pushes the ts bound") {
    import spark.implicits._
    // the 100 TB journal layout: one parquet directory per event date
    val dir = java.nio.file.Files.createTempDirectory("graft_journal_").toString + "/journal"
    StreamingOps.writeJournal(spark, sf, dir)
    val mxMs = Tables.events(spark, sf).agg(max(unix_millis($"ts"))).first().getLong(0)
    val tMs = mxMs - 7L * 24 * 3600000L // a week back: whole day directories must drop
    val pruned = StreamingOps.replayJournalAsOf(spark, dir, tMs)
    // T is a real runtime parameter: journal replay ≡ the flat-file as-of
    // API at the same cutoff
    val flat = StreamingOps.edgeStateAsOf(spark, sf, tMs)
    assert(sortedRows(pruned) === sortedRows(flat))
    assert(pruned.count() > 0)
    // planning-time proof (the sink_partitioned treatment): the literal
    // date bound is a PartitionFilter, the literal ts bound (in the
    // journal's own unit) a PushedFilter — neither was possible with the
    // old in-plan scalar T
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("event_date"),
      s"journal replay does not prune date partitions:\n$p")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(ts"),
      s"raw ts bound not pushed to the journal scan:\n$p")
    // behavioral proof: planning-time file listing under the partition
    // filters selects strictly fewer journal files than a full replay
    val full = StreamingOps.replayJournalAsOf(spark, dir, mxMs)
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .map(_.files.size.toLong).sum
      }.sum
    assert(filesPlanned(pruned) < filesPlanned(full),
      s"pruned replay plans ${filesPlanned(pruned)} files vs full ${filesPlanned(full)}")
  }

  test("foreachBatch parquet materialized view equals the batch twin") {
    val out = StreamingOps.tumblingToParquet(spark, sf)
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf)
    val sunk = spark.read.parquet(out)
      .select(batch.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(sortedRows(sunk) === sortedRows(batch))
  }

  test("RocksDB state store: windowed agg runs on the production provider, same rows") {
    // at 100 TB/day the in-memory HDFS-backed state store OOMs; RocksDB
    // spills state to local disk and is the provider a real deployment
    // sets. Prove the engine's streaming ops run unmodified on it.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = SparkEntry.queries("stream_tumbling")(spark, sf)
      val stream = runStream(StreamingOps.tumblingStream(spark, sf), OutputMode.Complete)
      assert(sortedRows(stream) === sortedRows(batch))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream_distinct_approx: sketch equals batch twin and is within 5% of exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val batch = SparkEntry.queries("stream_distinct_approx")(spark, sf)
    val stream = runStream(StreamingOps.distinctApproxStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(stream) === sortedRows(batch))
    val exact = Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour")).agg(countDistinct($"user_id").as("n"))
      .select(unix_millis($"window.start").as("ws_ms"), $"n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    batch.collect().foreach { r =>
      val (ws, approx) = (r.getLong(0), r.getLong(1))
      val ex = exact(ws).toDouble
      assert(math.abs(approx - ex) / ex <= 0.05, s"window $ws: approx=$approx exact=$ex")
    }
  }

  test("stream_enrich: stream-static broadcast enrichment equals batch twin") {
    val batch = SparkEntry.queries("stream_enrich")(spark, sf)
    val stream = runStream(StreamingOps.enrichStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_join: stream-stream attribution join equals batch twin") {
    val batch = SparkEntry.queries("stream_join")(spark, sf)
    val stream = runStream(StreamingOps.attributionStream(spark, sf), OutputMode.Append)
    assert(stream.count() > 0, "attribution stream produced no pairs")
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("stream_outer_join: watermarked left-outer equals batch twin up to the final-watermark tail") {
    import spark.implicits._
    val batch = SparkEntry.queries("stream_outer_join")(spark, sf)
    val stream = runStream(StreamingOps.attributionOuterStream(spark, sf),
      OutputMode.Append)
    assert(stream.count() > 0, "outer attribution stream produced no rows")
    // the OUTER part is exercised: some purchases have no click in window
    assert(batch.filter(batch("click_id").isNull).count() > 0,
      "fixture has no unattributed purchases — outer semantics untested")
    // end-of-stream semantics: a NULL row can only emit once the click
    // watermark (40 min) proves its 30-min lookback closed — state for
    // the final tail is never flushed when the source is exhausted, so
    // the stream may lawfully MISS null rows inside the last 70 minutes
    val s = sortedRows(stream).toSet
    val b = sortedRows(batch).toSet
    assert(s.subsetOf(b), "stream emitted a row the batch twin does not have")
    // the GLOBAL watermark at end of stream = min over inputs of
    // (max event time − delay); the click side (40 min) is the binding
    // one. NULL rows above it are lawfully still in state at shutdown.
    val maxClickMs = Tables.events(spark, sf)
      .filter($"event_type" === "click")
      .agg(org.apache.spark.sql.functions.max(unix_millis($"ts")))
      .head().getLong(0)
    val cutoff = maxClickMs - 40L * 60000L
    val missed = b -- s
    val lateNulls = batch
      .filter(batch("click_id").isNull && batch("purchase_ts_ms") > cutoff)
    assert(missed.subsetOf(sortedRows(lateNulls).toSet),
      s"rows missing from the stream are not all final-tail nulls: $missed")
    // everything strictly before the tail matches exactly
    val batchStable = batch.filter(batch("purchase_ts_ms") <= cutoff)
    assert(sortedRows(batchStable).toSet.subsetOf(s))
  }

  test("state-TTL fold: evicted users carry the exact batch-fold state") {
    val evicted = runStream(StreamingOps.ttlFoldStream(spark, sf), OutputMode.Append)
    assert(evicted.count() > 0, "no state was evicted — TTL never fired")
    // every evicted row must equal the full batch fold for that user
    // (all of the user's events arrived before the eviction)
    val batch = SparkEntry.queries("stream_stateful_fold")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toSeq.map(String.valueOf)).toMap
    evicted.collect().foreach { r =>
      assert(batch(r.getLong(0)) === r.toSeq.map(String.valueOf),
        s"evicted state diverges for user ${r.getLong(0)}")
    }
  }

  test("stream_late_data: rows behind the watermark are dropped") {
    import spark.implicits._
    val result = SparkEntry.queries("stream_late_data")(spark, sf)
    val gotN = result.agg(sum($"n")).head().getLong(0)
    val e = Tables.events(spark, sf)
    val cut = e.agg(expr("percentile(unix_millis(ts), 0.5D)")).head().getDouble(0).toLong
    val onTime = e.filter(unix_millis($"ts") >= cut).count()
    val late = e.filter(unix_millis($"ts") < cut - 3600000L).count()
    assert(late > 0, "fixture must contain late rows for this test to mean anything")
    assert(gotN === onTime, s"windows should count only on-time rows ($onTime), got $gotN")
  }

  test("stream_late_data and upsertSignatures never change the caller session's conf while they run") {
    import graft.api.TextPipeline
    // a caller session of its own, its shuffle partition count unlike the
    // 4 the late-data stream runs with
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    import caller.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.sources.partitionOverwriteMode")
    val own = keys.map(k => k -> caller.conf.get(k)).toSet
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!stop.get()) keys.foreach(k => seen.add(k -> caller.conf.get(k))))
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_")
    val idx = s"$dir/idx"
    val docs = Tables.documents(caller, sf)
    val (d0, d1) = (docs.filter($"doc_id" % 16 === 0), docs.filter($"doc_id" % 16 === 1))
    poller.start()
    val late = try {
      val rows = SparkEntry.queries("stream_late_data")(caller, sf).collect()
      TextPipeline.upsertSignatures(d0, $"doc_id", $"text", idx)
      TextPipeline.upsertSignatures(d1, $"doc_id", $"text", idx)
      rows
    } finally { stop.set(true); poller.join() }
    try {
      assert(late.nonEmpty)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSet === own)
      // the overwrite is still dynamic: the second upsert replaced only
      // its own bucket, so the first batch's rows are all still there
      def sigs(d: DataFrame) = TextPipeline.minhashSignatures(d, $"doc_id", $"text").count()
      assert(TextPipeline.loadSignatures(caller, idx).count() === sigs(d0) + sigs(d1))
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("session windows respect the 30-minute gap invariant") {
    val rows = SparkEntry.queries("stream_session")(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, sess) =>
      val sorted = sess.sortBy(_.getLong(sess.head.fieldIndex("start_ms")))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts at or after the previous session's end
          assert(b.getLong(b.fieldIndex("start_ms")) >= a.getLong(a.fieldIndex("end_ms")))
        case _ =>
      }
    }
  }

  test("state_diff: changed keys are exactly the keys in the (T1, T2] window") {
    import spark.implicits._
    val rows = SparkEntry.queries("state_diff")(spark, sf).collect()
    assert(rows.nonEmpty)
    // events only accumulate: every emitted edge strictly grew
    assert(rows.forall(r =>
      r.getLong(r.fieldIndex("n_t2")) > r.getLong(r.fieldIndex("n_t1"))))
    // the monoid claim in the docstring: the changed-key set IS the set of
    // keys with at least one event inside the window
    val e = Tables.events(spark, sf)
      .select($"user_id", get_json_object($"props", "$.k").cast("long").as("item"),
        unix_millis($"ts").as("t"))
    val mx = e.agg(max($"t")).first().getLong(0)
    val windowKeys = e.filter($"t" > mx - 7200000L && $"t" <= mx - 3600000L)
      .select($"user_id", $"item").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === windowKeys)
  }

  test("state_scd2: per-user intervals tile the timeline and versions mark real changes") {
    import spark.implicits._
    val byUser = SparkEntry.queries("state_scd2")(spark, sf).collect()
      .groupBy(_.getLong(0))
    val events = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts").as("t"), $"event_id", $"event_type")
      .collect().groupBy(_.getLong(0))
    assert(byUser.keySet === events.keySet)
    for ((u, rows) <- byUser) {
      val sorted = rows.sortBy(_.getLong(rows.head.fieldIndex("version")))
      // versions are 1..n, intervals are gapless, and the LAST one is open
      assert(sorted.map(_.getLong(sorted.head.fieldIndex("version"))).toSeq ===
        (1L to sorted.length))
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getLong(a.fieldIndex("valid_to")) === b.getLong(b.fieldIndex("valid_from")))
        // a new version exists ONLY on an actual type change
        assert(a.getString(a.fieldIndex("event_type")) !=
          b.getString(b.fieldIndex("event_type")))
      }
      assert(sorted.last.getLong(sorted.last.fieldIndex("valid_to")) === -1L)
      // the first interval opens at the user's first event
      val firstEvent = events(u).map(r => (r.getLong(1), r.getLong(2))).min
      assert(sorted.head.getLong(sorted.head.fieldIndex("valid_from")) === firstEvent._1)
    }
  }

  test("stream_topk: incremental counts + rank finish equal the batch twin") {
    val batch = SparkEntry.queries("stream_topk")(spark, sf)
    val live = runStream(StreamingOps.topkCountsStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(StreamingOps.topkFinish(live)) === sortedRows(batch))
  }

  test("stream_anomaly: live windowed counts + alert finish equal the batch twin") {
    val batch = SparkEntry.queries("stream_anomaly")(spark, sf)
    val live = runStream(StreamingOps.topkCountsStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(StreamingOps.anomalyFinish(live)) === sortedRows(batch))
  }

  test("stream_throttle: incremental windowed counts + stateless finish equal the batch twin") {
    val batch = SparkEntry.queries("stream_throttle")(spark, sf)
    val live = runStream(StreamingOps.throttleCountsStream(spark, sf), OutputMode.Complete)
    assert(sortedRows(StreamingOps.throttleFinish(live)) === sortedRows(batch))
  }

  test("stream_minhash_idx: incremental signature store equals the batch build; upsert is replay-idempotent") {
    import spark.implicits._
    import graft.api.TextPipeline
    // 1) the streaming-built store (4 micro-batch upserts) holds exactly
    //    the one-shot batch signatures
    val idxPath = StreamingOps.minhashStreamIdxPath(spark, sf)
    val stored = TextPipeline.loadSignatures(spark, idxPath)
    val batch = TextPipeline.minhashSignatures(
      Tables.documents(spark, sf), $"doc_id", $"text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("doc_id", "n", "h0", "h3", "h7").collect()
        .map(_.toString).sorted.toSeq
    assert(rows(stored) === rows(batch))
    // the store really is bucket-partitioned (the upsert's dynamic-
    // overwrite granularity)
    assert(new java.io.File(idxPath).listFiles()
      .count(_.getName.startsWith("bucket=")) >= 2)
    // 2) and the pairs read from it equal the one-shot index op
    assert(sortedRows(SparkEntry.queries("stream_minhash_idx")(spark, sf)) ===
      sortedRows(SparkEntry.queries("llm_dedup_minhash_idx")(spark, sf)))
    // 3) replay idempotency: re-upserting an already-ingested batch (the
    //    foreachBatch at-least-once reality) leaves the store unchanged
    val replay = Tables.documents(spark, sf).filter($"doc_id" % 4 === 0)
    TextPipeline.upsertSignatures(replay, $"doc_id", $"text", idxPath)
    assert(rows(TextPipeline.loadSignatures(spark, idxPath)) === rows(batch))
    // 4) a genuine NEW document lands incrementally and only its row moves
    val extra = Seq((999999L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    TextPipeline.upsertSignatures(extra, $"doc_id", $"text", idxPath)
    try {
      val after = TextPipeline.loadSignatures(spark, idxPath)
      assert(after.count() === batch.count() + 1)
      assert(after.filter($"doc_id" === 999999L).count() === 1L)
      assert(rows(after.filter($"doc_id" =!= 999999L)) === rows(batch))
    } finally {
      // restore the memoized store (other tests/queries share the JVM memo)
      import graft.api.Ckpt._
      val clean = TextPipeline.loadSignatures(spark, idxPath)
        .filter($"doc_id" =!= 999999L).cp()
      clean.write.mode("overwrite").partitionBy("bucket").parquet(idxPath)
    }
  }

  test("EventBus seam: default is the parquet replay; property swaps the source in") {
    import graft.sources.EventBus
    assert(EventBus.active.isInstanceOf[graft.sources.ParquetReplayBus])
    val before = runStream(StreamingOps.tumblingStream(spark, sf), OutputMode.Complete)
    System.setProperty(EventBus.ClassProp, classOf[CountingTestBus].getName)
    try {
      assert(EventBus.active.isInstanceOf[CountingTestBus])
      CountingTestBus.calls.set(0)
      // the same §2.8 operator, untouched, now ingests via the swapped bus
      val after = runStream(StreamingOps.tumblingStream(spark, sf), OutputMode.Complete)
      assert(CountingTestBus.calls.get() > 0, "swapped bus was never consulted")
      assert(sortedRows(after) === sortedRows(before))
    } finally System.clearProperty(EventBus.ClassProp)
  }
}

/** A swap-in bus for the seam spec: delegates to the replay source but
  * counts resolutions — proves operators reach the configured bus without
  * changing rows. Top-level with a no-arg constructor, as the reflection
  * contract requires.
  */
class CountingTestBus extends graft.sources.EventBus {
  override def events(s: org.apache.spark.sql.SparkSession, locator: String): DataFrame = {
    CountingTestBus.calls.incrementAndGet()
    new graft.sources.ParquetReplayBus().events(s, locator)
  }
}

object CountingTestBus {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

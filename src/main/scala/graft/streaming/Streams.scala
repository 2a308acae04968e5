package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Structured Streaming operators — the streaming analogs of
  * [[graft.operators.Events]] and the watermark-windowed shape the
  * reference's CET/LSET batch protocol approximates (SURVEY §2.7).
  *
  * All operators take an unbounded DataFrame (`readStream` source) and
  * return a streaming DataFrame; sinks/triggers are the caller's choice.
  * Event-time watermarks bound state: at 100 TB/day the state store only
  * holds open windows/sessions, not history.
  */
object Streams {

  /** Tumbling 1-hour counts per event type with a late-data watermark. */
  def tumblingHourly(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding 1-hour/30-minute windows. */
  def slidingHourly(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("n_events"))

  /** Stream-static enrichment: join the unbounded stream against a
    * static dimension (broadcast — no stream state, no shuffle of the
    * stream side). The standard shape for decorating events with slowly
    * changing reference data at any scale.
    */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Streaming exact dedup on a key with bounded state: any later event
    * with an already-seen key arriving within the watermark horizon is
    * dropped — even a redelivery carrying a different event-time (the
    * streaming form of [[graft.operators.Dedup.exact]]). State for a key
    * expires one watermark horizon after its first occurrence.
    */
  def dedupByKey(events: DataFrame, keyCols: Seq[String], watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Windowed KMV distinct-count sketch: approximate distinct users per
    * tumbling window and event type — the streaming analog of the
    * `sketch_kmv_distinct` batch query. The k-bounded
    * [[graft.functions.KmvAgg]] buffer is exactly the state a streaming
    * aggregation wants: fixed-size per key, lossless to merge across
    * micro-batches, identical estimates to the batch sketch on the same
    * rows (proven in StreamsSpec).
    */
  def kmvDistinctUsers(
      events: DataFrame,
      k: Int = 32,
      watermark: String = "2 hours"): DataFrame = {
    val kmv = udaf(new graft.functions.KmvAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    val h = graft.functions.mixed_hash32(
      concat_ws(":", lit("kmv"), col("user_id").cast("string")))
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"), h.as("__h"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(kmv(col("__h")).as("mins"))
      .select(col("window.start").as("w_start"), col("event_type"),
        size(col("mins")).as("n_kept"),
        when(size(col("mins")) < k, size(col("mins")).cast("bigint"))
          .otherwise(expr(s"CAST(${(k - 1).toLong * 4294967296L}L DIV element_at(mins, -1) AS BIGINT)"))
          .as("est_distinct"))
  }

  /** Windowed HLL register table on a stream: the streaming analog of
    * [[graft.operators.Sketches.hllRegisters]]. `max` is a plain
    * streaming aggregation, so the register maxes ARE the streaming
    * state — exactly `open-windows × groups × m` integer rows,
    * independent of traffic volume, merged across micro-batches by the
    * same elementwise max that merges batch sketches (StreamsSpec
    * proves stream == batch on identical rows). Watermark-expired
    * windows evict their registers.
    */
  def hllRegistersHourly(
      events: DataFrame,
      m: Int = 64,
      watermark: String = "2 hours"): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, "m must be a power of two")
    val restBits = 32 - Integer.numberOfTrailingZeros(m)
    val h = graft.functions.mixed_hash32(
      concat_ws(":", lit("hll"), col("user_id").cast("string")))
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"), h.as("__h"))
      .withColumn("__reg", expr(s"__h % $m"))
      .withColumn("__rest", expr(s"__h div $m"))
      .withColumn("__rho",
        expr(s"${restBits + 1} - ${graft.OracleSql.bitLenSum("__rest", restBits)}"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("__reg"))
      .agg(max(col("__rho")).cast("int").as("max_rho"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("__reg").as("reg"), col("max_rho"))
  }

  /** Windowed heavy hitters on a stream: the Misra-Gries summary
    * ([[graft.functions.HeavyHittersAgg]]) as the windowed aggregation
    * state — bounded at `capacity` counters per (window, group) across
    * micro-batches, merged with the same mergeable-summaries rule as
    * the batch partial aggregation. Watermark-expired windows evict,
    * so state is `open-windows × groups × capacity`, never the stream.
    */
  def heavyHittersHourly(
      events: DataFrame,
      termCol: String,
      capacity: Int = 64,
      watermark: String = "2 hours"): DataFrame = {
    val hh = udaf(new graft.functions.HeavyHittersAgg(capacity),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(hh(col(termCol)).as("hist"))
      .select(col("window.start").as("w_start"), explode(col("hist")).as(Seq("term", "n")))
  }

  /** Native session windows (gap-based), the streaming analog of
    * [[graft.operators.Events.sessionize]].
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming SCD-1 upsert sink: every micro-batch merges into a
    * warehouse table through the same join-based [[graft.operators
    * .Merge.scd1]] the batch pipeline uses, then atomically swaps the
    * table — the `foreachBatch` upsert pattern for engines without a
    * transactional MERGE sink. Idempotent per batch (re-running an
    * unchanged batch only moves the audit columns), so exactly-once
    * table state follows from the source's replay tracking plus the
    * atomic overwrite.
    *
    * Returns the started query; caller picks the trigger via
    * `.writeStream` options upstream if needed (default AvailableNow).
    */
  def upsertStream(
      stream: DataFrame,
      warehouseDir: String,
      table: String,
      spec: graft.operators.MergeSpec,
      checkpointPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.Warehouse
    val schema = stream.schema
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // the stored table also holds the merge's audit columns, which the
        // stream's schema lacks: infer it, and use the stream's only when empty
        val target =
          if (Warehouse.exists(spark, warehouseDir, table)) Warehouse.read(spark, warehouseDir, table)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val merged = graft.operators.Merge.scd1(
          target, batch, spec, current_timestamp())
        Warehouse.overwrite(merged, warehouseDir, table)
      }
      .start()
  }

  /** [[upsertStream]] over a merge-on-read table
    * ([[graft.sources.MergeOnRead]]): each micro-batch lands as a
    * COMPACT delta append — write I/O per trigger is O(batch's touched
    * keys), never a table or partition rewrite, which is what keeps a
    * continuously-upserting stream sustainable on a large fact table
    * (the swap/pointer variants rewrite the whole table every
    * trigger). Exactly-once comes from Spark's monotone batch id
    * riding the MoR manifest stamp: a replayed batch after a crash is
    * recognized and skipped, so the delta chain never double-applies.
    * Readers resolve the manifest atomically and reconcile
    * base+deltas; after each commit the stream runs BOTH maintenance
    * knobs as metadata-only checks — the major fold behind the
    * `maxDeltaRatio` row guard and the minor chain fold
    * ([[graft.sources.MergeOnRead.compactMinor]]) behind
    * `maxChainLength` — so read amplification (rows AND file fan-in)
    * stays bounded without a separate maintenance job.
    *
    * The table must exist ([[graft.sources.MergeOnRead.init]]) before
    * the stream starts — the base load is a batch concern. The
    * CHECKPOINT AND TABLE ARE COUPLED: batch ids are monotone per
    * checkpoint, so restarting against a fresh checkpoint (ids restart
    * at 0) would stamp-skip real batches — point a new checkpoint at a
    * new table (or re-init), the same coupling every batch-id-stamped
    * fold in this file carries.
    *
    * A micro-batch must end up UNIQUE on the merge keys (deltaMerge's
    * contract — duplicate key images inside one delta have no
    * deterministic winner). Real upsert streams routinely carry several
    * updates per key per trigger, so pass `dedupOrderCol` — a column
    * whose value is strictly increasing per key, e.g. the event time or
    * a source sequence number — and each batch is reduced to the
    * last-image-per-key before merging. Without it, a duplicate-keyed
    * batch fails loudly in deltaMerge rather than committing
    * nondeterministic state.
    */
  def upsertStreamMor(
      stream: DataFrame,
      warehouseDir: String,
      table: String,
      spec: graft.operators.MergeSpec,
      checkpointPath: String,
      maxDeltaRatio: Double = 0.2,
      dedupOrderCol: Option[String] = None,
      maxChainLength: Int = 8,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldUpsertMorBatch(batch, batchId, warehouseDir, table, spec,
          current_timestamp(), maxDeltaRatio, dedupOrderCol, maxChainLength)
      }
      .start()

  /** One [[upsertStreamMor]] micro-batch, exposed for batch-replay
    * verification (the `stream_mor_replay` gate) and crash-replay
    * testing: dedup to last-image-per-key (when `dedupOrderCol` is
    * given), delta-merge under the batch-id stamp, then the
    * metadata-only compaction check.
    */
  def foldUpsertMorBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      spec: graft.operators.MergeSpec,
      now: org.apache.spark.sql.Column,
      maxDeltaRatio: Double = 0.2,
      dedupOrderCol: Option[String] = None,
      maxChainLength: Int = 8): Unit = {
    import graft.sources.MergeOnRead
    val spark = batch.sparkSession
    val deduped = dedupOrderCol match {
      case None => batch
      case Some(oc) =>
        // last image per key; remaining columns break order-column ties
        // deterministically (identical full rows tie harmlessly), so
        // the survivor is a function of the batch CONTENT, never of
        // partitioning or arrival order
        val tiebreak = batch.columns.toSeq
          .filterNot(c => c == oc || spec.keys.contains(c)).map(col(_).desc)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(spec.keys.map(col): _*)
          .orderBy(col(oc).desc +: tiebreak: _*)
        batch.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
    }
    MergeOnRead.deltaMerge(spark, warehouseDir, table, deduped, spec, now, batchId)
    // two maintenance knobs, both metadata-only checks: the MAJOR fold
    // when the chain's rows outgrow the base ratio, else the MINOR fold
    // when small per-trigger deltas grow the read fan-in past the cap
    MergeOnRead.compact(spark, warehouseDir, table, maxDeltaRatio)
    MergeOnRead.compactMinor(spark, warehouseDir, table, maxChainLength)
  }

  /** TRANSACTIONAL streaming sink over a [[graft.sources.Warehouse.Txn]]
    * group: each micro-batch merges into the `facts` member and
    * recomputes the `rollup` member FROM the merged facts, and both
    * commit as ONE transaction — a dashboard racing the stream can
    * never join fresh facts against a stale rollup (the gap two
    * independent per-table sinks always leave open).
    *
    * Exactly-once rides the root's RECORDED batch stamp
    * ([[graft.sources.Warehouse.Txn.Snapshot.lastBatch]]): each
    * micro-batch commits with its batch id stamped into the root, and a
    * crash-replayed batch (id ≤ the stamp) no-ops — the MoR manifest-
    * stamp discipline, applied to the root pointer. The stamp is
    * explicit rather than derived from the txn counter, so an
    * out-of-band commit on the group (bootstrap re-run, ad-hoc fix-up)
    * shifts the counter WITHOUT silently skipping live batches. The
    * `expectedTxn` guard turns a racing writer into a loud failure
    * instead of a double-apply. Groups bootstrapped before the stamp
    * existed read as stamp −1, so their first stamped batch applies
    * and stamps from then on — a ONE-BATCH migration window in which
    * replay safety is only merge idempotence over byte-identical
    * content (a crash replay of that first batch whose recomputed
    * content differs would re-apply); the poisoned-replay guard holds
    * from the first stamped commit onward.
    *
    * Scale contract: Txn generations are FULL member rewrites, so this
    * sink fits dimension/rollup-sized members (the tables a dashboard
    * joins), not fact streams — route big facts through
    * [[upsertStreamMor]] and keep the transactional group for the
    * derived tables that must move in lockstep.
    *
    * Returns false on a replay skip, true on a commit.
    */
  def foldTxnBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      group: String,
      spec: graft.operators.MergeSpec,
      now: org.apache.spark.sql.Column,
      rollup: DataFrame => DataFrame,
      acceptPrestampSeed: Boolean = false): Boolean = {
    import graft.sources.Warehouse.Txn
    val spark = batch.sparkSession
    val snap = Txn.snapshot(spark, warehouseDir, group).getOrElse(
      throw new IllegalStateException(
        s"txn group $group has no bootstrap commit — commit the base facts+rollup first"))
    // a DERIVED replay stamp (pre-stamp root, lastBatch seeded txn−2)
    // rests on an assumption the filesystem cannot verify — that the
    // group followed the bootstrap+consecutive-batches convention with
    // no out-of-band commits. Trusting it for a group that violated
    // the convention silently SKIPS live batches (data loss), so the
    // resume REFUSES unless the operator opts in explicitly; the safe
    // alternative is one re-stamping commit with an explicit batchId.
    if (snap.seedDerived && snap.lastBatch > -1L && !acceptPrestampSeed)
      throw new IllegalStateException(
        s"txn group $group has a PRE-STAMP root (lastBatch seeded ${snap.lastBatch} " +
          "from the txn counter). Re-stamp with an explicit batchId commit, or pass " +
          "acceptPrestampSeed = true after confirming the group never took an " +
          "out-of-band commit")
    if (batchId <= snap.lastBatch) return false // crash replay: already committed
    val curFacts = Txn.readAt(spark, warehouseDir, group, snap, "facts")
    // persisted once, written twice (facts + rollup), released in the
    // finally below — deliberately NOT Caches.persisted: nothing drains
    // the process-wide fallback scope under a long-lived foreachBatch
    // loop, so a scope registration per trigger would accumulate
    val merged = graft.operators.Merge.scd1(curFacts, batch, spec, now)
      .select(curFacts.columns.map(col).toIndexedSeq: _*).persist()
    try
      Txn.commit(spark, warehouseDir, group,
        Map("facts" -> merged, "rollup" -> rollup(merged)),
        expectedTxn = snap.txn, batchId = batchId)
    finally
      // both member writes are materialized by commit's return (and a
      // failed commit abandons the plan) — release the batch's cache
      // here so the foreachBatch loop never accumulates one persisted
      // frame per trigger for the lifetime of the query
      merged.unpersist(false)
    true
  }

  /** [[upsertStream]] over a pointer-committed table
    * ([[graft.sources.Warehouse.Pointer]]): each micro-batch merges the
    * CURRENT generation with the batch and commits a new generation via
    * the atomic pointer replace. Dashboards and downstream jobs reading
    * the table concurrently with the stream always resolve a complete
    * generation — the swap protocol's between-renames blip is gone,
    * which matters exactly when a continuously-updating table is also
    * continuously read. A crash between the generation write and the
    * pointer commit leaves an invisible orphan; the checkpoint replays
    * the batch and the merge is idempotent, so the recommitted state is
    * identical.
    */
  def upsertStreamPointer(
      stream: DataFrame,
      warehouseDir: String,
      table: String,
      spec: graft.operators.MergeSpec,
      checkpointPath: String,
      keepGenerations: Int = 2,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldUpsertPointerBatch(batch, warehouseDir, table, spec,
          current_timestamp(), keepGenerations, batchId)
        ()
      }
      .start()

  /** One [[upsertStreamPointer]] micro-batch, exposed for batch-replay
    * verification (the `stream_pointer_replay` gate) and crash-replay
    * testing: merge the current pointer generation with the batch,
    * commit the result as a new generation via the atomic pointer
    * replace, STAMPED with the batch id in the pointer line
    * ([[graft.sources.Warehouse.Pointer.lastBatch]]). A crash-replayed
    * batch (id ≤ the stamp) no-ops — so a replay whose recomputed
    * content DIFFERS from the committed run (nondeterministic upstream,
    * the poisoned-replay case) skips instead of double-applying, the
    * same contract as the stamped [[foldTxnBatch]]. `batchId = −1`
    * (ad-hoc batch use) disables the stamp, and replay safety falls
    * back to merge idempotence over identical content. Pointer files
    * written before the stamp existed read as stamp −1, so their first
    * stamped batch applies — safe only for byte-identical replay
    * content, a one-batch migration window.
    *
    * Returns false on a replay skip, true on a commit.
    */
  def foldUpsertPointerBatch(
      batch: DataFrame,
      warehouseDir: String,
      table: String,
      spec: graft.operators.MergeSpec,
      now: org.apache.spark.sql.Column,
      keepGenerations: Int = 2,
      batchId: Long = -1L): Boolean = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    if (batchId >= 0 && batchId <= Warehouse.Pointer.lastBatch(spark, warehouseDir, table))
      return false // crash replay: already committed
    val target =
      if (Warehouse.Pointer.exists(spark, warehouseDir, table))
        Warehouse.Pointer.read(spark, warehouseDir, table)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val merged = graft.operators.Merge.scd1(target, batch, spec, now)
    Warehouse.Pointer.overwrite(merged, warehouseDir, table, keepGenerations, batchId)
    true
  }

  /** Streaming corpus ingest with near-dup admission control — the
    * streaming composition of [[graft.operators.Dedup.buildMinHashIndex]]
    * / [[graft.operators.Dedup.dedupDeltaAgainstIndex]]: each
    * micro-batch of documents is deduplicated against the corpus
    * ingested SO FAR through its persisted MinHash index, survivors are
    * admitted, and their index rows appended — corpus and index grow
    * together behind pointer commits, so concurrent readers always see
    * a consistent (corpus, index) pair and crashes never double-admit.
    *
    * Per batch: documents already in the corpus (replays) no-op via an
    * id anti-join; the rest probe the index (O(batch) signature work,
    * corpus text touched only for candidates); a new doc is REJECTED
    * when it near-dups an admitted corpus doc or a smaller-id batch
    * peer (keep-first). The index commits before the corpus: a crash
    * between the two leaves transient index rows that the next replay
    * overwrites (index rows for the batch are rebuilt from scratch),
    * while the reverse order would lose index rows forever.
    */
  def dedupIngestStream(
      stream: DataFrame,
      warehouseDir: String,
      checkpointPath: String,
      corpusTable: String = "corpus",
      indexTable: String = "dedup_index",
      numHashes: Int = 16,
      numBands: Int = 4,
      threshNum: Int = 1,
      threshDen: Int = 20,
      keepGenerations: Int = 2,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    import graft.sources.Warehouse.Pointer
    val docSchema = stream.schema
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
        val corpus =
          if (Pointer.exists(spark, warehouseDir, corpusTable))
            Pointer.read(spark, warehouseDir, corpusTable)
          else empty
        val batchD = batch.dropDuplicates("doc_id")
        // replayed docs are already admitted — idempotence by id
        val newDocs = graft.operators.Caches.persisted(
          batchD.join(corpus.select("doc_id"), Seq("doc_id"), "left_anti"))
        // a crash after the index commit can leave THIS batch's rows in
        // the index; drop them before probing (they would self-match)
        val index0 =
          if (Pointer.exists(spark, warehouseDir, indexTable))
            Pointer.read(spark, warehouseDir, indexTable)
              .join(newDocs.select("doc_id"), Seq("doc_id"), "left_anti")
          else Dedup.buildMinHashIndex(empty, numHashes, numBands)
        val index = graft.operators.Caches.persisted(index0)
        val pairs = Dedup.dedupDeltaAgainstIndex(
          newDocs, corpus, index, numHashes, numBands, threshNum, threshDen)
        val newIds = newDocs.select(col("doc_id"))
        // reject: near-dup of an admitted corpus doc (either pair side
        // outside the batch), or of a smaller-id batch peer
        val drops = pairs
          .join(newIds.toDF("id_a").withColumn("__a_new", lit(1)), Seq("id_a"), "left")
          .join(newIds.toDF("id_b").withColumn("__b_new", lit(1)), Seq("id_b"), "left")
          .select(
            when(col("__a_new").isNotNull && col("__b_new").isNotNull,
              greatest(col("id_a"), col("id_b")))
              .when(col("__a_new").isNotNull, col("id_a"))
              .otherwise(col("id_b")).as("doc_id"))
          .distinct()
        val survivors = newDocs.join(drops, Seq("doc_id"), "left_anti")
        Pointer.overwrite(
          index.unionByName(Dedup.buildMinHashIndex(survivors, numHashes, numBands)),
          warehouseDir, indexTable, keepGenerations)
        Pointer.overwrite(corpus.unionByName(survivors),
          warehouseDir, corpusTable, keepGenerations)
        graft.operators.Caches.release()
      }
      .start()
  }

  // ---- custom state: running per-user aggregates via mapGroupsWithState

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, sum_value: Double,
      last_seen: Timestamp)

  /** Per-user running totals maintained in the state store — the custom
    * stateful-processing shape (`mapGroupsWithState`) for aggregations
    * the built-in windows can't express.
    *
    * `expireAfter` (processing-time timeout) bounds state for unbounded
    * key spaces; note that a timeout makes the engine trigger continuous
    * empty microbatches to fire timers — leave it None for
    * deterministic, data-driven batches.
    */
  def runningTotals(
      events: Dataset[Event],
      expireAfter: Option[String] = None): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (expireAfter.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](timeoutConf) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val evs = batch.toSeq
            val prev = state.getOption.getOrElse(
              UserRunning(userId, 0L, 0.0, new Timestamp(0L)))
            val next = UserRunning(
              userId,
              prev.n_events + evs.size,
              prev.sum_value + evs.map(_.value).sum,
              evs.map(_.ts).maxByOption(_.getTime).getOrElse(prev.last_seen))
            state.update(next)
            expireAfter.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  case class SessionClosed(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)
  case class SessionAcc(start: Long, end: Long, n: Long, total: Double)

  /** Closed-session emission via `flatMapGroupsWithState` with an
    * EVENT-TIME timeout — the custom-state shape `session_window` can't
    * express: a session is emitted exactly once, only when the
    * watermark proves no more events can extend it, carrying a custom
    * per-session payload (count + value sum here; any fold in general).
    *
    * Mechanics: per user the state holds the open session; each batch's
    * events fold in event-time order, closing (and emitting) any
    * session whose gap to the next event exceeds `gapMs` — so multiple
    * sessions can close in one batch — and the timer re-arms at
    * `open.end + gapMs`. When the watermark crosses the timer,
    * `hasTimedOut` fires and the final session flushes. State is one
    * record per ACTIVE user — the 100 TB/day story: bounded by open
    * sessions, not history; keys partition across executors and the
    * state store checkpoints incrementally.
    *
    * Late events older than the armed timer are folded if they arrive
    * before the timeout fires (watermark semantics make that window
    * `watermark` wide); the output stream is append-only, so downstream
    * sinks get exactly-once closed sessions under replay.
    */
  def closedSessions(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "1 hour"): Dataset[SessionClosed] = {
    import events.sparkSession.implicits._
    def close(uid: Long, s: SessionAcc) = SessionClosed(
      uid, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionClosed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(close(userId, last))
          } else {
            val evs = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[SessionClosed]
            var cur = state.getOption
            for (ev <- evs) {
              val t = ev.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  // a late cross-batch event may precede the open
                  // session's start (watermark admits it); it must
                  // lower session_start, not just fold into the sums
                  cur = Some(SessionAcc(math.min(s.start, t), math.max(s.end, t),
                    s.n + 1, s.total + ev.value))
                case Some(s) =>
                  closed += close(userId, s)
                  cur = Some(SessionAcc(t, t, 1L, ev.value))
                case None =>
                  cur = Some(SessionAcc(t, t, 1L, ev.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timer must sit strictly past the current watermark
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.result().iterator
          }
      }
  }

  case class TouchState(tsMs: Long, eventId: Long, channel: String)
  case class Attributed(user_id: Long, event_id: Long, ts: Timestamp,
      channel: String, cents: Long)

  /** Streaming twin of
    * [[graft.operators.Events.lastTouchAttribution]]: per-user state
    * holds only the MOST RECENT touch (channel + its event-time
    * position), conversions emit immediately with the current credit.
    * Within a micro-batch, events sort by `(ts, event_id)` — the same
    * total order the batch window uses; across batches a late-arriving
    * touch OLDER than the stored one must NOT regress the state (the
    * guard is the monotonicity check, not arrival order). A
    * conversion whose preceding touch arrives in a LATER batch is
    * attributed `direct` — the streaming-vs-batch divergence inherent
    * to append-mode emission; bound it with the watermark.
    *
    * State is one small record per user, evicted by event-time
    * timeout once the watermark passes `ttlMs` beyond the user's last
    * touch — idle users leave the store (their next conversion is
    * `direct`, the attribution-window semantics marketers expect),
    * which is what keeps unbounded-cardinality user spaces viable.
    */
  def lastTouchStream(
      events: Dataset[Event],
      touches: Set[String],
      conversion: String,
      watermark: String = "1 hour",
      ttlMs: Long = 24L * 3600 * 1000): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    events
      .filter(e => touches.contains(e.event_type) || e.event_type == conversion)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attributed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val out = Seq.newBuilder[Attributed]
            var cur = state.getOption
            for (ev <- evs) {
              if (touches.contains(ev.event_type)) {
                val newer = cur.forall(s =>
                  ev.ts.getTime > s.tsMs ||
                    (ev.ts.getTime == s.tsMs && ev.event_id > s.eventId))
                if (newer)
                  cur = Some(TouchState(ev.ts.getTime, ev.event_id, ev.event_type))
              } else {
                out += Attributed(uid, ev.event_id, ev.ts,
                  cur.map(_.channel).getOrElse("direct"),
                  math.round(ev.value * 100))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(s.tsMs + ttlMs, state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Micro-batch fold for an HLL register table: merge the batch's
    * sketch into the materialized one by elementwise register max,
    * stamped with the batch id and committed in one atomic swap —
    * [[foldCountsBatch]]'s contract applied to SKETCH state.
    *
    * Sketches are the most forgiving streaming state there is: the
    * max-merge is idempotent BY ALGEBRA (re-merging the same batch
    * cannot raise any register), so the batch-id stamp guards only
    * cost, not correctness — a property count/sum folds do not have
    * and exactly why sketch state scales to at-least-once transports.
    */
  private[graft] def foldHllBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      groupCol: String,
      keyCol: String,
      m: Int): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val regs = graft.operators.Sketches.hllRegisters(batch, groupCol, keyCol, m)
    val prev =
      if (Warehouse.exists(spark, warehouseDir, table))
        Warehouse.read(spark, warehouseDir, table)
      else regs.withColumn("last_batch_id", lit(-1L)).limit(0)
    val lastId = prev.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId > lastId) {
      val updated = prev.drop("last_batch_id").unionByName(regs)
        .groupBy(col(groupCol), col("reg"))
        .agg(max(col("max_rho")).cast("int").as("max_rho"))
        .withColumn("last_batch_id", lit(batchId))
      Warehouse.overwrite(updated, warehouseDir, table)
    }
  }

  /** One micro-batch fold of grid-quantile-sketch state
    * ([[graft.functions.GridQuantileAgg]]): the batch's sketch merges
    * into the materialized (group, cell, count) table by count
    * ADDITION — the CRDT merge config-pinned cells buy — behind
    * [[foldCountsBatch]]'s batch-id stamp. Unlike the HLL fold's
    * register max, count addition is NOT idempotent by algebra, so the
    * stamp guards correctness here, exactly as for count/sum folds.
    */
  private[graft] def foldGridBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      groupCol: String,
      centsCol: String,
      lo: Long,
      width: Long,
      nBins: Int): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val gq = udaf(new graft.functions.GridQuantileAgg(lo, width, nBins),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    val regs = batch.groupBy(col(groupCol))
      .agg(gq(col(centsCol)).as("counts"))
      .select(col(groupCol), posexplode(col("counts")).as(Seq("b", "c")))
      .where(col("c") > 0)
      .select(col(groupCol), col("b").cast("long").as("b"), col("c").as("cnt"))
    val prev =
      if (Warehouse.exists(spark, warehouseDir, table))
        Warehouse.read(spark, warehouseDir, table)
      else regs.withColumn("last_batch_id", lit(-1L)).limit(0)
    val lastId = prev.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId > lastId) {
      val updated = prev.drop("last_batch_id").unionByName(regs)
        .groupBy(col(groupCol), col("b"))
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("last_batch_id", lit(batchId))
      Warehouse.overwrite(updated, warehouseDir, table)
    }
  }

  /** One micro-batch fold of a persisted
    * [[graft.functions.HashRankQuantileAgg]] state table — the
    * unbounded-domain quantile twin of [[foldGridBatch]]: the batch
    * aggregates to one k-bounded sketch per group, which merges into
    * yesterday's states by the EXACT multiset merge
    * ([[graft.operators.Quantiles.mergeHashRankStates]] — the sketch is
    * a pure function of the input multiset, so fold == full rebuild,
    * not an approximation of it). State is (group, level, n, items,
    * last_batch_id); the batch-id stamp guards replays, which count
    * addition-style state needs (a replayed batch would double-insert
    * its survivors).
    *
    * `batch` must already carry the group, trailing-zero (`tz`) and
    * value columns — the tz draw is ordinary SQL over a unique row id
    * (see the `q_kll_quantiles` gate), kept OUT of this fold so the
    * draw is pinned once at the pipeline edge.
    */
  private[graft] def foldKllBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      groupCol: String,
      tzCol: String,
      valueCol: String,
      k: Int): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val agg = udaf(new graft.functions.HashRankQuantileAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Long)]())
    val sk = batch.groupBy(col(groupCol))
      .agg(agg(col(tzCol), col(valueCol)).as("sk"))
      .select(col(groupCol), col("sk.level").as("level"),
        col("sk.n").as("n"), col("sk.items").as("items"))
    val prev =
      if (Warehouse.exists(spark, warehouseDir, table))
        Warehouse.read(spark, warehouseDir, table)
      else sk.withColumn("last_batch_id", lit(-1L)).limit(0)
    val lastId = prev.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId > lastId) {
      val merged = graft.operators.Quantiles.mergeHashRankStates(
          prev.drop("last_batch_id").unionByName(sk), groupCol, k)
        .withColumn("last_batch_id", lit(batchId))
      Warehouse.overwrite(merged, warehouseDir, table)
    }
  }

  /** One micro-batch fold of [[dedupIngestStream]]'s admission control,
    * replayed deterministically for the oracle gate: the batch
    * dedups against the corpus ingested SO FAR through its persisted
    * MinHash index, survivors append to the corpus, and their index
    * rows append to the index — the same candidate-generate-then-
    * verify path ([[graft.operators.Dedup.dedupDeltaAgainstIndex]]:
    * O(batch) signature work, corpus text touched only for
    * candidates), behind [[foldCountsBatch]]'s batch-id stamp so a
    * crash-replayed batch id is recognized and skipped.
    *
    * Rejection rule (identical to the stream): a new doc drops when it
    * near-dups an ADMITTED corpus doc (either pair side) or a
    * smaller-id batch peer (keep-first within the batch, regardless of
    * that peer's own fate — the pair-drop is computed on the raw pair
    * set). The index commits before the corpus; a crash between the
    * two leaves transient index rows for a batch whose corpus stamp
    * never advanced, which the replay heals by dropping THIS batch's
    * ids from the index before probing.
    */
  private[graft] def foldIngestBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      corpusTable: String,
      indexTable: String,
      numHashes: Int,
      numBands: Int,
      threshNum: Int,
      threshDen: Int,
      portable: Boolean = false): Unit = {
    import graft.operators.Dedup
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val stamped = batch.withColumn("last_batch_id", lit(-1L)).limit(0)
    val corpus =
      if (Warehouse.exists(spark, warehouseDir, corpusTable))
        Warehouse.read(spark, warehouseDir, corpusTable)
      else stamped
    val lastId = corpus.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId > lastId) {
      val corpusD = corpus.drop("last_batch_id")
      val newDocs = graft.operators.Caches.persisted(
        batch.dropDuplicates("doc_id")
          .join(corpusD.select("doc_id"), Seq("doc_id"), "left_anti"))
      // heal the index-committed/corpus-uncommitted crash window
      val index0 =
        if (Warehouse.exists(spark, warehouseDir, indexTable))
          Warehouse.read(spark, warehouseDir, indexTable)
            .join(newDocs.select("doc_id"), Seq("doc_id"), "left_anti")
        else Dedup.buildMinHashIndex(
          corpusD.limit(0), numHashes, numBands, portable = portable)
      val index = graft.operators.Caches.persisted(index0)
      val pairs = Dedup.dedupDeltaAgainstIndex(
        newDocs, corpusD, index, numHashes, numBands, threshNum, threshDen,
        portable = portable)
      val newIds = newDocs.select(col("doc_id"))
      val drops = pairs
        .join(newIds.toDF("id_a").withColumn("__a_new", lit(1)), Seq("id_a"), "left")
        .join(newIds.toDF("id_b").withColumn("__b_new", lit(1)), Seq("id_b"), "left")
        .select(
          when(col("__a_new").isNotNull && col("__b_new").isNotNull,
            greatest(col("id_a"), col("id_b")))
            .when(col("__a_new").isNotNull, col("id_a"))
            .otherwise(col("id_b")).as("doc_id"))
        .distinct()
      val survivors = graft.operators.Caches.persisted(
        newDocs.join(drops, Seq("doc_id"), "left_anti"))
      Warehouse.overwrite(
        index.unionByName(Dedup.buildMinHashIndex(
          survivors, numHashes, numBands, portable = portable)),
        warehouseDir, indexTable)
      Warehouse.overwrite(
        corpusD.unionByName(survivors).withColumn("last_batch_id", lit(batchId)),
        warehouseDir, corpusTable)
    }
  }

  /** One micro-batch fold for [[incrementalCountsStream]]: reads the
    * materialized aggregate, folds `batch` via
    * [[graft.operators.Incremental.updateCounts]], and atomically swaps
    * the table with `batchId` stamped on every row. The stamp makes the
    * fold idempotent under Spark's batch replay: the batch id and the
    * folded data commit in ONE atomic swap, so a replayed batch (same
    * id) is recognized and skipped — no double counting, no marker/data
    * crash window (a separate marker file would create one).
    */
  private[graft] def foldCountsBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      keys: Seq[String],
      valueUnits: org.apache.spark.sql.Column): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val emptyAgg = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"), sum(valueUnits).as("sum_units"))
      .withColumn("last_batch_id", lit(-1L))
      .limit(0)
    val prev =
      if (Warehouse.exists(spark, warehouseDir, table))
        Warehouse.read(spark, warehouseDir, table)
      else emptyAgg
    val lastId = prev.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId > lastId) {
      val updated = graft.operators.Incremental.updateCounts(
        prev.drop("last_batch_id"), batch, keys, valueUnits)
        .withColumn("last_batch_id", lit(batchId))
      Warehouse.overwrite(updated, warehouseDir, table)
    }
  }

  /** Watermark-aware variant of [[foldCountsBatch]] — the LATE-DATA
    * contract of Structured Streaming replayed deterministically: the
    * watermark is (max event time seen in PRIOR batches − `delayUs`),
    * rows with `ts` strictly BELOW it are dropped before folding
    * (ts == watermark survives, Spark's own boundary rule), and the
    * new watermark — advanced by THIS batch's full max, dropped rows
    * included, exactly as Spark's EventTimeWatermark observes pre-
    * filter data — commits in the SAME atomic swap as the folded
    * aggregate and the batch-id stamp. Crash replay therefore
    * reproduces both the skip AND the identical watermark sequence —
    * no marker/data window where a replay could re-admit late rows.
    */
  private[graft] def foldCountsWatermarkBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      keys: Seq[String],
      valueUnits: org.apache.spark.sql.Column,
      tsCol: String,
      delayUs: Long): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val emptyAgg = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"), sum(valueUnits).as("sum_units"))
      .withColumn("last_batch_id", lit(-1L))
      .withColumn("wm_us", lit(Long.MinValue))
      .limit(0)
    val prev =
      if (Warehouse.exists(spark, warehouseDir, table))
        Warehouse.read(spark, warehouseDir, table)
      else emptyAgg
    val head = prev.agg(max(col("last_batch_id")), max(col("wm_us")))
      .collect().headOption
    val lastId = head.flatMap(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).getOrElse(-1L)
    val wmPrev = head.flatMap(r =>
      if (r.isNullAt(1)) None else Some(r.getLong(1))).getOrElse(Long.MinValue)
    if (batchId > lastId) {
      val kept =
        if (wmPrev == Long.MinValue) batch
        else batch.filter(unix_micros(col(tsCol)) >= wmPrev)
      val mx = batch.agg(max(unix_micros(col(tsCol)))).collect().head
      val newWm =
        if (mx.isNullAt(0)) wmPrev
        else math.max(wmPrev, mx.getLong(0) - delayUs)
      val updated = graft.operators.Incremental.updateCounts(
        prev.drop("last_batch_id", "wm_us"), kept, keys, valueUnits)
        .withColumn("last_batch_id", lit(batchId))
        .withColumn("wm_us", lit(newWm))
      Warehouse.overwrite(updated, warehouseDir, table)
    }
  }

  /** Streaming incremental-aggregate maintenance: every micro-batch
    * folds into a materialized per-key count/sum table — the streaming
    * form of O(delta)-per-refresh view maintenance
    * ([[graft.operators.Incremental]]), with replayed batches skipped
    * via the batch-id stamp that commits atomically with the data.
    */
  def incrementalCountsStream(
      stream: DataFrame,
      warehouseDir: String,
      table: String,
      keys: Seq[String],
      valueUnits: org.apache.spark.sql.Column,
      checkpointPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldCountsBatch(batch, id, warehouseDir, table, keys, valueUnits)
      }
      .start()

  /** CDC-stream maintenance: like [[incrementalCountsStream]] but the
    * stream rows carry a signed `opCol` (+1 insert / −1 retract), so a
    * deletion event repairs the materialized aggregate in the same
    * O(micro-batch) fold — the streaming right-to-be-forgotten path
    * ([[graft.operators.Incremental.updateWithRetractions]]). Replayed
    * batches are skipped via the same atomically-committed batch-id
    * stamp; fully-retracted keys drop from the table at the fold that
    * zeroes them.
    */
  def retractionCountsStream(
      stream: DataFrame,
      warehouseDir: String,
      table: String,
      keys: Seq[String],
      valueUnits: org.apache.spark.sql.Column,
      opCol: org.apache.spark.sql.Column,
      checkpointPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldRetractionsBatch(batch, id, warehouseDir, table, keys,
          valueUnits, opCol)
      }
      .start()

  /** One micro-batch of the signed fold behind
    * [[retractionCountsStream]] — same idempotence contract as
    * [[foldCountsBatch]]: the batch id commits in the SAME atomic swap
    * as the folded data, so the crash window between the sink write
    * and the streaming commit log is safe — the replayed batch (same
    * id) is recognized and skipped, never double-retracted.
    */
  private[graft] def foldRetractionsBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      table: String,
      keys: Seq[String],
      valueUnits: org.apache.spark.sql.Column,
      opCol: org.apache.spark.sql.Column): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val emptyAgg = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"), sum(valueUnits).as("sum_units"))
      .withColumn("last_batch_id", lit(-1L))
      .limit(0)
    val prev =
      if (Warehouse.exists(spark, warehouseDir, table))
        Warehouse.read(spark, warehouseDir, table)
      else emptyAgg
    val lastId = prev.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId > lastId) {
      val updated = graft.operators.Incremental.updateWithRetractions(
        prev.drop("last_batch_id"), batch, keys, valueUnits, opCol)
        .withColumn("last_batch_id", lit(batchId))
      Warehouse.overwrite(updated, warehouseDir, table)
    }
  }

  /** One micro-batch fold of the SESSIONIZATION state machine behind
    * [[closedSessions]], expressed as set-oriented DataFrame ops over a
    * warehouse-persisted state table — the deterministic batch replay
    * that lets the DuckDB oracle gate the streaming semantics.
    *
    * Two tables: `openTable` holds one open session per active user
    * (the state store), `closedTable` accumulates emitted sessions (the
    * append sink). A batch folds in three moves: (1) sessionize the
    * batch alone with the gaps-and-islands window, (2) merge each
    * user's FIRST batch session into the stored open session when the
    * gap allows, closing the stored session otherwise, (3) keep each
    * user's LAST batch session open, close the rest. Batches must be
    * event-time-ordered splits (the arrival order a watermark
    * guarantees within its bound).
    *
    * Crash safety mirrors [[foldCountsBatch]]'s one-atomic-commit
    * discipline, extended to two tables: closed rows are stamped with
    * their `batch_id` and the closed fold FILTERS OUT any rows already
    * stamped with the current id before appending, so it is idempotent
    * on its own; the open-table swap (carrying `last_batch_id`) commits
    * the batch and is written LAST. A crash between the two swaps
    * replays the batch against the old open state and rewrites the
    * identical closed rows — no duplicates, no loss.
    *
    * Scale shape: per fold, one window over the DELTA (never history),
    * one broadcast-sized join against open state keyed by user, and a
    * closed-table rewrite. At 100 TB the closed sink would be an
    * append-only partitioned table (the rewrite here is the
    * small-warehouse stand-in; the idempotence stamp carries over
    * unchanged).
    */
  private[graft] def foldSessionsBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      openTable: String,
      closedTable: String,
      gapMs: Long,
      valueUnits: org.apache.spark.sql.Column): Unit = {
    import graft.sources.Warehouse
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val sessCols = Seq("user_id", "session_start", "session_end", "n_events", "total_units")
    val emptyOpen = batch
      .select(col("user_id"), col("ts").as("session_start"), col("ts").as("session_end"),
        lit(0L).as("n_events"), lit(0L).as("total_units"), lit(-1L).as("last_batch_id"))
      .limit(0)
    val prevOpen =
      if (Warehouse.exists(spark, warehouseDir, openTable))
        Warehouse.read(spark, warehouseDir, openTable)
      else emptyOpen
    val lastId = prevOpen.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId <= lastId) return

    val b = batch.select(col("user_id"), col("ts"), col("event_id"),
      valueUnits.cast("long").as("__units"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val marked = b.withColumn("__brk",
      when(lag(col("ts"), 1).over(w).isNull ||
        unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)) > gapMs, 1L)
        .otherwise(0L))
    val sess = marked.withColumn("__sid",
      sum(col("__brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agg = sess.groupBy(col("user_id"), col("__sid")).agg(
      min("ts").as("session_start"), max("ts").as("session_end"),
      count(lit(1)).as("n_events"), sum("__units").as("total_units"))
    val bounds = agg.groupBy("user_id")
      .agg(min("__sid").as("__minsid"), max("__sid").as("__maxsid"))
    val withB = agg.join(bounds, "user_id")

    val st = prevOpen.select(col("user_id"),
      col("session_start").as("__o_start"), col("session_end").as("__o_end"),
      col("n_events").as("__o_n"), col("total_units").as("__o_total"))
    // the stored open session can only extend the FIRST batch session:
    // batches are time-ordered splits, so __o_end precedes every batch ts
    val first = withB.filter(col("__sid") === col("__minsid"))
      .join(st, Seq("user_id"), "left")
      .withColumn("__merge", col("__o_end").isNotNull &&
        unix_millis(col("session_start")) - unix_millis(col("__o_end")) <= gapMs)
    val firstAdj = first.select(col("user_id"), col("__sid"), col("__maxsid"),
      when(col("__merge"), least(col("__o_start"), col("session_start")))
        .otherwise(col("session_start")).as("session_start"),
      when(col("__merge"), greatest(col("__o_end"), col("session_end")))
        .otherwise(col("session_end")).as("session_end"),
      when(col("__merge"), col("__o_n") + col("n_events"))
        .otherwise(col("n_events")).as("n_events"),
      when(col("__merge"), col("__o_total") + col("total_units"))
        .otherwise(col("total_units")).as("total_units"))
    val rest = withB.filter(col("__sid") =!= col("__minsid"))
      .select(col("user_id"), col("__sid"), col("__maxsid"),
        col("session_start"), col("session_end"), col("n_events"), col("total_units"))
    val allSess = firstAdj.unionByName(rest)

    val closedFromState = first
      .filter(col("__o_end").isNotNull && !col("__merge"))
      .select(col("user_id"), col("__o_start").as("session_start"),
        col("__o_end").as("session_end"), col("__o_n").as("n_events"),
        col("__o_total").as("total_units"))
    val closedFromBatch = allSess.filter(col("__sid") < col("__maxsid"))
      .select(sessCols.map(col): _*)
    val openFromBatch = allSess.filter(col("__sid") === col("__maxsid"))
      .select(sessCols.map(col): _*)
    val openCarried = prevOpen.join(bounds, Seq("user_id"), "left_anti")
      .select(sessCols.map(col): _*)

    val emptyClosed = emptyOpen.withColumnRenamed("last_batch_id", "batch_id")
    val prevClosed =
      if (Warehouse.exists(spark, warehouseDir, closedTable))
        Warehouse.read(spark, warehouseDir, closedTable)
      else emptyClosed
    val newClosed = prevClosed.filter(col("batch_id") =!= batchId).unionByName(
      closedFromState.unionByName(closedFromBatch).withColumn("batch_id", lit(batchId)))
    val newOpen = openFromBatch.unionByName(openCarried)
      .withColumn("last_batch_id", lit(batchId))
    // closed first (idempotent via the stamp filter), open LAST — the
    // open swap's last_batch_id is the batch's commit point
    Warehouse.overwrite(newClosed, warehouseDir, closedTable)
    Warehouse.overwrite(newOpen, warehouseDir, openTable)
  }

  /** One micro-batch fold of the bounded-state STREAM-STREAM JOIN
    * behind [[viewPurchaseJoin]]: the view-side state buffer lives in
    * `bufTable`, matches accumulate in `outTable`, and the event-time
    * horizon (max batch ts − joinWindow) evicts views that can no
    * longer match — exactly the state bound the watermark + two-sided
    * time condition gives the streaming form.
    *
    * Completeness under time-ordered batch splits: a purchase in batch
    * k only matches views with `v_ts ∈ [p_ts − window, p_ts]`, all of
    * which arrived in batches ≤ k; a view evicted at batch j < k had
    * `v_ts + window < maxTs_j < p_ts`, so it could not have matched.
    * Same two-swap idempotence as [[foldSessionsBatch]]: matches are
    * batch-stamped and re-filtered, the buffer swap commits.
    *
    * Scale shape: per fold the join probes `delta ⋈ (buffer ∪ delta)`
    * on the user key — state never exceeds one join-window of views per
    * key, and the single driver-side value is the 1-row max-ts
    * watermark read.
    */
  private[graft] def foldStreamJoinBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      bufTable: String,
      outTable: String,
      windowMs: Long): Unit = {
    import graft.sources.Warehouse
    val spark = batch.sparkSession
    val views = batch.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
    val purchases = batch.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("purchase_cents"))
    val emptyBuf = views.withColumn("last_batch_id", lit(-1L)).limit(0)
    val prevBuf =
      if (Warehouse.exists(spark, warehouseDir, bufTable))
        Warehouse.read(spark, warehouseDir, bufTable)
      else emptyBuf
    val lastId = prevBuf.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId <= lastId) return

    val allViews = prevBuf.drop("last_batch_id").unionByName(views)
    val matches = allViews.join(purchases, Seq("user_id"))
      .where(col("p_ts") >= col("v_ts") &&
        unix_millis(col("p_ts")) - unix_millis(col("v_ts")) <= windowMs)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("v_ts"), col("p_ts"), col("purchase_cents"))
    val emptyOut = matches.withColumn("batch_id", lit(-1L)).limit(0)
    val prevOut =
      if (Warehouse.exists(spark, warehouseDir, outTable))
        Warehouse.read(spark, warehouseDir, outTable)
      else emptyOut
    val newOut = prevOut.filter(col("batch_id") =!= batchId)
      .unionByName(matches.withColumn("batch_id", lit(batchId)))

    // event-time horizon: the 1-row watermark read (empty batch → keep all)
    val maxTsMs = batch.agg(max(unix_millis(col("ts")))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val newBuf = maxTsMs.fold(allViews)(m =>
        allViews.filter(unix_millis(col("v_ts")) + windowMs >= m))
      .withColumn("last_batch_id", lit(batchId))
    Warehouse.overwrite(newOut, warehouseDir, outTable)
    Warehouse.overwrite(newBuf, warehouseDir, bufTable)
  }

  /** One micro-batch fold of the LAST-TOUCH ATTRIBUTION state machine
    * behind [[lastTouchStream]]: per-user state is the single most
    * recent touch, conversions attribute against `state ∪ batch
    * touches` restricted to touches at-or-before the conversion in the
    * `(ts, event_id)` total order, and the state swap commits the
    * batch. Under event-time-ordered batch splits the fold is EXACT —
    * every preceding touch is either in this batch or summarized by the
    * stored state — so the accumulated output equals the from-scratch
    * batch attribution, which is what the DuckDB oracle checks.
    *
    * Same two-swap idempotence as [[foldSessionsBatch]]; state is one
    * row per user with a touch (the bound that keeps unbounded user
    * spaces viable), and the per-fold work is `delta ⋈ state` on the
    * user key plus one delta-sized window.
    */
  private[graft] def foldLastTouchBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      stateTable: String,
      outTable: String,
      touches: Set[String],
      conversion: String): Unit = {
    import graft.sources.Warehouse
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val bt = batch.filter(col("event_type").isin(touches.toSeq.map(lit): _*))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_id").as("t_event_id"), col("event_type").as("channel"))
    val emptyState = bt.withColumn("last_batch_id", lit(-1L)).limit(0)
    val prevState =
      if (Warehouse.exists(spark, warehouseDir, stateTable))
        Warehouse.read(spark, warehouseDir, stateTable)
      else emptyState
    val lastId = prevState.select(max(col("last_batch_id"))).collect()
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(-1L)
    if (batchId <= lastId) return

    val allTouches = prevState.drop("last_batch_id").unionByName(bt)
    val bc = batch.filter(col("event_type") === conversion)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    // rank preceding touches first, newest first: row 1 is the winning
    // touch when one exists, any non-preceding row otherwise → 'direct'
    val byConv = Window.partitionBy("event_id").orderBy(
      col("__before").desc, col("t_ts").desc_nulls_last,
      col("t_event_id").desc_nulls_last)
    val out = bc.join(allTouches, Seq("user_id"), "left")
      .withColumn("__before", col("t_ts").isNotNull &&
        (col("t_ts") < col("ts") ||
          (col("t_ts") === col("ts") && col("t_event_id") < col("event_id"))))
      .withColumn("__rk", row_number().over(byConv))
      .filter(col("__rk") === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("__before"), col("channel")).otherwise(lit("direct")).as("channel"),
        col("cents"))

    val emptyOut = out.withColumn("batch_id", lit(-1L)).limit(0)
    val prevOut =
      if (Warehouse.exists(spark, warehouseDir, outTable))
        Warehouse.read(spark, warehouseDir, outTable)
      else emptyOut
    val newOut = prevOut.filter(col("batch_id") =!= batchId)
      .unionByName(out.withColumn("batch_id", lit(batchId)))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("t_ts").desc, col("t_event_id").desc)
    val newState = allTouches.withColumn("__rk", row_number().over(byUser))
      .filter(col("__rk") === 1).drop("__rk")
      .withColumn("last_batch_id", lit(batchId))
    Warehouse.overwrite(newOut, warehouseDir, outTable)
    Warehouse.overwrite(newState, warehouseDir, stateTable)
  }

  /** Stream-stream inner join: views joined to purchases by the same
    * user within `[view.ts, view.ts + joinWindow]` — the online form of
    * the funnel/attribution join.
    *
    * Both sides carry watermarks and the join condition bounds event
    * time on BOTH ends, so the state store holds only rows inside the
    * watermark+window horizon and evicts everything older — without the
    * time bound a stream-stream join would buffer both streams forever.
    * State is partitioned by the equi key (user), exactly like the
    * batch shuffle, so it scales out with executors.
    */
  def viewPurchaseJoin(
      views: DataFrame,
      purchases: DataFrame,
      joinWindow: String = "1 hour",
      watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    v.join(p,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $joinWindow"),
      joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("v_ts"), col("p_ts"), col("purchase_value"))
  }

  /** LEFT OUTER form of [[viewPurchaseJoin]]: every view eventually
    * emits — matched views as soon as the purchase arrives, unmatched
    * views with NULL purchase columns once the watermark passes
    * `view.ts + joinWindow` and the engine can PROVE no match can still
    * arrive. The abandoned-funnel feed: downstream sees conversions and
    * non-conversions as one stream.
    *
    * Same state bounds as the inner join (both sides watermarked, event
    * time bounded on both ends); the only extra cost is that unmatched
    * view rows are held until watermark expiry instead of being dropped
    * at it — identical horizon, so state is still bounded. Null-padded
    * results arrive with watermark delay by construction; consumers
    * needing earlier signals lower the watermark, trading late-data
    * tolerance.
    */
  def viewPurchaseJoinOuter(
      views: DataFrame,
      purchases: DataFrame,
      joinWindow: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    viewPurchaseJoin(views, purchases, joinWindow, watermark, "left_outer")
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, MapState,
  OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues,
  Trigger, TTLConfig, ValueState}
import graft.ops.Scd

/** Structured-Streaming surface. The reference's incrementality is
  * scheduled batch (SURVEY §2.8) — these operators are the optional
  * stretch that reuses the batch operators unchanged under a stream:
  * file-arrival micro-batches run the same SCD merge via foreachBatch,
  * and the windowed aggregation is the streaming twin of q22.
  */
object StreamingEtl {

  /** Watermarked tumbling-window counts — append-mode-safe (late data
    * beyond 10 minutes is dropped; at scale the watermark bounds state).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_val"))

  /** Streaming gap-based sessionization — q23's batch semantics as an
    * unbounded stream, via Spark's native `session_window`: windows
    * extend while events arrive within `gap` of the session's end and
    * MERGE when late events bridge two open sessions; a session only
    * emits (Append mode) once the watermark passes its end, which is
    * also when its state expires — bounded state per (user, open
    * session), no custom state machine. The batch q23 lag/cumsum
    * formulation and this operator agree on closed sessions by
    * construction (same gap rule).
    */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_val"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"), col("n_events"), col("sum_val"))

  /** Streaming exact dedup — the training-data-pipeline shape: drop
    * rows whose fingerprint (e.g. md5 of normalized text) was already
    * seen within the watermark horizon. `dropDuplicatesWithinWatermark`
    * keeps one state entry per fingerprint and EXPIRES it once the
    * watermark passes — bounded state, unlike plain dropDuplicates
    * whose state grows forever on an unbounded stream. At 100 TB/day
    * the horizon is the dedup window a production pipeline would pick
    * (exact global dedup over all history belongs in the batch layer —
    * q28 — with the stream handling the recent horizon).
    */
  def dedupStream(src: DataFrame, fingerprintCol: String, tsCol: String,
      horizon: String): DataFrame =
    src.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(fingerprintCol)

  /** Streaming semantic decontamination — q129's gate at INGEST time:
    * each arriving embedding row gains `maxsim` (its max rounded
    * cosine against the held-out benchmark set) and a `contaminated`
    * flag. The benchmark set is inlined as a LITERAL array of
    * vectors, so the scorer is completely STATELESS — a map-only
    * projection that runs in append mode with no watermark, no state
    * store, and no shuffle (the batch q129 gets the same per-vector
    * result via broadcast + map-side max collapse; this form trades
    * the codegen'd BNLJ for per-row literal-array folds, the right
    * shape when rows arrive one micro-batch at a time). Bench norms
    * are precomputed on the driver once — kilobytes by the same
    * eval-suite contract as q129.
    */
  def semanticDecontamStream(src: DataFrame,
      bench: Seq[Seq[Float]], tau: Double): DataFrame = {
    import graft.sim.Similarity
    require(bench.nonEmpty, "benchmark set must be non-empty")
    val sims = bench.map { v =>
      // same left-to-right float→double fold as Similarity.norm, so
      // the stream scorer is bit-identical to the batch q129 path
      val bn = math.sqrt(v.foldLeft(0.0)((a, x) =>
        a + x.toDouble * x.toDouble))
      val be = array(v.map(lit): _*)
      round(Similarity.dot(col("embedding"), be)
        / (Similarity.norm(col("embedding")) * lit(bn)), 6)
    }
    val mx = if (sims.size == 1) sims.head else greatest(sims: _*)
    src.withColumn("maxsim", mx)
      .withColumn("contaminated", col("maxsim") > tau)
  }

  /** Streaming DSIR quality gate — q141's learned importance weights
    * applied at INGEST time: each arriving document is tokenized,
    * every token hashed to its 256-bucket feature (the same
    * md5-first-byte expression as the batch trainer), and the
    * per-doc score folded map-side against the weight table inlined
    * as a 256-element LITERAL array. Train offline (q141's
    * bucket-grain aggregation), apply online: the scorer is
    * completely stateless — append mode, no watermark, no state
    * store, no shuffle — and its integer micro-nat sums are
    * bit-identical to the batch q141 scoring pass by construction
    * (same hash, same weights, exact integer addition in any order).
    */
  def dsirScoreStream(src: DataFrame, ubits: Seq[Long],
      textCol: String = "text"): DataFrame = {
    require(ubits.length == 256, s"need 256 bucket weights, got ${ubits.length}")
    val warr = array(ubits.map(lit): _*)
    val toks = split(col(textCol), " ")
    val score = aggregate(
      transform(toks, w => element_at(warr,
        conv(substring(md5(w), 1, 2), 16, 10).cast("int") + 1)),
      lit(0L), (acc, x) => acc + x)
    src.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("score_ubits", score)
  }

  /** Streaming LANGUAGE-ID gate — q171's trained char-trigram NB
    * applied at INGEST time (train offline with
    * [[graft.queries.TextQueries.langidModel]], apply online): each
    * arriving document's 3-grams fold against the weight table inlined
    * as ONE literal map (`typedLit` — a single MapType literal, not
    * V×5 scalar literals, so the plan stays small at any vocabulary
    * the driver can hold); out-of-vocab grams take the per-language
    * floor, priors seed the folds, and the argmax uses q171's exact
    * alphabetical >= CASE chain. Completely STATELESS — append mode,
    * no watermark, no state store, no shuffle — and bit-identical to
    * the batch scorer by construction: identical integer micro-nat
    * weights, and integer addition is exact in any order.
    */
  def langidScoreStream(src: DataFrame, langs: Seq[String],
      weights: Map[String, Seq[Long]], floors: Seq[Long],
      priors: Seq[Long], textCol: String = "text"): DataFrame = {
    require(langs.nonEmpty && floors.length == langs.length &&
      priors.length == langs.length &&
      weights.values.forall(_.length == langs.length),
      "model arity mismatch")
    val wmap = typedLit(weights)
    // the ONE shared trigram definition — the stream scorer cannot
    // drift from the batch trainer's tokenization
    val grams = graft.queries.TextQueries.charTrigrams(col(textCol))
    val scored = langs.zipWithIndex.foldLeft(src) { case (df, (l, i)) =>
      df.withColumn(s"s_$l", aggregate(
        grams, lit(priors(i)),
        (acc, g) => acc + coalesce(
          element_at(element_at(wmap, g), i + 1), lit(floors(i)))))
    }
    // q171's decision chain verbatim: first language (alphabetical)
    // whose score is >= all others
    val pred = langs.init.zipWithIndex.foldLeft(
        org.apache.spark.sql.functions.when(lit(false), "")) {
      case (w, (l, i)) =>
        val beats = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o"))
          .reduce(_ && _)
        w.when(beats, l)
    }.otherwise(langs.last)
    scored.withColumn("pred_lang", pred)
  }

  /** File-arrival SCD1: each micro-batch of source rows is merged into
    * the parquet warehouse table with the SAME batch operator
    * (Scd.scd1Merge) — the reference's daily merge, continuously.
    *
    * The target is read back and materialized (persist + count) BEFORE
    * the overwrite starts — required when overwriting the directory
    * being read. A table format with atomic commit (e.g. Delta) would
    * replace this dance in production; the operator itself is
    * unchanged.
    */
  /** Typed event row for the stateful operators. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Running per-user totals across micro-batches. */
  final case class UserTotal(user_id: Long, n_events: Long,
      sum_value: Double)

  /** Custom keyed state via mapGroupsWithState: per-user running
    * totals, updated every micro-batch (Update output mode). State is
    * one small record per user — bounded, shuffle-partitioned on the
    * key, the canonical KeyValueGroupedDataset stateful shape.
    */
  def runningUserTotals(events: Dataset[Ev])
      : Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev],
         state: org.apache.spark.sql.streaming.GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n_events
          var sum = prev.sum_value
          evs.foreach { e => n += 1; sum += e.value }
          val next = UserTotal(uid, n, sum)
          state.update(next)
          next
      }
  }

  /** Spark-4-native stateful processor (`transformWithState`): the
    * same per-user running totals as [[runningUserTotals]], on the
    * StatefulProcessor API — typed per-key `ValueState` with a TTL
    * hook (state expiry is what bounds state over an unbounded
    * keyspace; `TTLConfig.NONE` here because totals are cumulative).
    * Requires the RocksDB state store provider (the API's contract),
    * which is also the store that scales state past executor memory.
    */
  class TotalsProcessor extends StatefulProcessor[Long, Ev, UserTotal] {
    @transient private var state: ValueState[UserTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserTotal]("totals",
        Encoders.product[UserTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserTotal] = {
      val prev = Option(state.get()).getOrElse(UserTotal(key, 0L, 0.0))
      var n = prev.n_events
      var sum = prev.sum_value
      rows.foreach { e => n += 1; sum += e.value }
      val next = UserTotal(key, n, sum)
      state.update(next)
      Iterator.single(next)
    }
  }

  def runningUserTotalsTws(events: Dataset[Ev]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** A token routed to its sketch bucket (`bucket` = hash(w) % B by
    * the caller — each distinct token always lands in ONE bucket).
    */
  final case class TokEvent(bucket: Long, w: String)

  /** A bucket's current lower-bound count for a surviving token. */
  final case class TokCount(bucket: Long, w: String, cnt: Long)

  /** Streaming heavy hitters — a distributed Misra-Gries sketch in
    * keyed `MapState` (the streaming twin of the batch two-pass
    * `Approx.heavyHitters`, q47). Each bucket keeps AT MOST `capacity`
    * counters: a known token increments; an unknown token inserts while
    * there is room, otherwise every counter decrements (zeros evicted)
    * and the arrival is absorbed — the classic guarantee follows: any
    * token with true bucket frequency > n_bucket/capacity is still
    * present, and each surviving count undercounts by at most
    * n_bucket/capacity. State is bounded at B·capacity entries FOREVER,
    * on an unbounded stream with an unbounded token vocabulary — the
    * property ValueState-per-token cannot give.
    */
  class HeavyHittersProcessor(capacity: Int)
      extends StatefulProcessor[Long, TokEvent, TokCount] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TokEvent],
        timerValues: TimerValues): Iterator[TokCount] = {
      // counter count loaded ONCE per batch and tracked locally —
      // counts.keys() is a full state-store scan, and paying it per
      // tail-token arrival (the common case) would dwarf the real work
      var size = counts.keys().size
      rows.foreach { t =>
        if (counts.containsKey(t.w))
          counts.updateValue(t.w, counts.getValue(t.w) + 1L)
        else if (size < capacity) {
          counts.updateValue(t.w, 1L)
          size += 1
        } else {
          // Misra-Gries step: decrement all, evict zeros, absorb arrival
          val entries = counts.iterator().toList
          entries.foreach { case (w, c) =>
            if (c <= 1L) { counts.removeKey(w); size -= 1 }
            else counts.updateValue(w, c - 1L)
          }
        }
      }
      counts.iterator().map { case (w, c) => TokCount(key, w, c) }
        .toList.iterator
    }
  }

  def streamingHeavyHitters(tokens: Dataset[TokEvent],
      capacity: Int): Dataset[TokCount] = {
    import tokens.sparkSession.implicits._
    tokens.groupByKey(_.bucket)
      .transformWithState(new HeavyHittersProcessor(capacity),
        TimeMode.None(), OutputMode.Update())
  }

  /** Watermarked stream-stream INTERVAL join — the attribution shape:
    * each left-side event (click) joins the right-side events
    * (impressions) for the same key within the preceding `gapSeconds`.
    * Both sides carry watermarks AND the join condition bounds both
    * event times — the combination is what lets Spark EXPIRE buffered
    * rows once the watermark passes; without the time bound a
    * stream-stream join must buffer both streams forever. Inner join,
    * append-mode-safe.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      watermark: String, gapSeconds: Long): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) <= col(leftTs) &&
          col(rightTs) >= col(leftTs) -
            expr(s"INTERVAL $gapSeconds SECONDS"))

  def scd1Sink(src: DataFrame, targetDir: String, keys: Seq[String],
      attrs: Seq[String], checkpointDir: String): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val tgt =
          if (new java.io.File(targetDir).exists())
            spark.read.parquet(targetDir)
          else batch.limit(0)
        val merged = Scd.scd1Merge(batch, tgt, keys, attrs).persist()
        merged.count() // materialize before overwriting the input dir
        merged.write.mode("overwrite").parquet(targetDir)
        merged.unpersist()
        ()
      }
      .start()

  /** Streaming MERGE-ON-READ ingestion — the O(delta) sink the
    * lazy-write warehouse tier exists for, and [[scd1Sink]]'s
    * scalable sibling: scd1Sink re-merges and OVERWRITES the whole
    * target every micro-batch (read-modify-write — correct, but the
    * batch cost is the TABLE size); this sink only APPENDS each
    * micro-batch to the upsert sidecar
    * ([[graft.sources.Warehouse.upsertRows]]) — per-batch cost is
    * the batch, the base is never rewritten — and readers resolve
    * latest-wins through `readMorUpsert` whenever they ask.
    * Correctness needs a total version order per key across batches:
    * rows must carry a caller-supplied monotone `ver` (an event
    * sequence/lamport stamp), NOT arrival order — a replayed batch
    * then resolves identically, which also makes checkpoint recovery
    * safe: re-appended duplicate (key, ver) rows are collapsed by
    * the max-struct resolution. Compaction (a
    * [[graft.sources.Warehouse.mergeOverwrite]] of the resolved
    * [[graft.sources.Warehouse.readMorUpsert]] read) amortizes the
    * sidecar when it grows.
    */
  def upsertSink(src: DataFrame, wh: graft.sources.Warehouse,
      table: String, checkpointDir: String): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        wh.upsertRows(batch, table)
      }
      .start()

  /** EXACTLY-ONCE CAS-committed streaming sink: each micro-batch
    * lands through [[graft.sources.Warehouse.casAppendBatch]], which
    * records the (stream, batchId) pair ON the commit line — a
    * replayed batch (Structured Streaming re-delivers the last
    * uncommitted batch after recovery) finds its id already committed
    * and is dropped, the idempotent-sink contract foreachBatch
    * requires for the end-to-end exactly-once guarantee. Unlike
    * [[upsertSink]]'s append (at-least-once; dedup deferred to the
    * read), duplicates never land AT ALL, and the CAS keeps the sink
    * safe alongside concurrent BATCH writers of the same table.
    */
  def casSink(src: DataFrame, wh: graft.sources.Warehouse,
      table: String, stream: String,
      checkpointDir: String): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        wh.casAppendBatch(batch, table, stream, batchId)
        ()
      }
      .start()

  /** STREAMING OPT-OUT PROPAGATION — a feed of forget keys (the
    * user-deletion queue every hosted corpus has) applied to a CAS
    * table as one merge-on-read tombstone commit per micro-batch
    * ([[graft.sources.Warehouse.casDeleteMoR]]): rows hide from every
    * snapshot/catalog reader at the NEXT read after the batch lands,
    * at O(forget-set) cost per batch regardless of table size;
    * physical erasure follows asynchronously via
    * [[graft.sources.Warehouse.casCompactDeletes]] + retention.
    *
    * Replay safety WITHOUT a dedup ledger — the structural contrast
    * to [[casSink]]: a re-delivered append batch would duplicate
    * ROWS (hence ADDB exactly-once), but a re-delivered DELETE batch
    * republishes the same key set as a second tombstone, and the
    * anti-join is idempotent over duplicate keys — the replayed
    * commit is redundant metadata, never wrong data (spec pins a
    * REAL crash-after-commit restart: two DEL commits, identical
    * snapshot). Empty micro-batches commit nothing. `afterDelete` is
    * the crash seam between the tombstone CAS and the checkpoint.
    */
  def optOutSink(keys: DataFrame, wh: graft.sources.Warehouse,
      table: String, keyCol: String, checkpointDir: String,
      afterDelete: () => Unit = () => ()): StreamingQuery =
    keys.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          wh.casDeleteMoR(batch.sparkSession, table, keyCol, batch)
          afterDelete()
        }
        ()
      }
      .start()

  /** STREAMING MERGE SINK — a CDC feed of whole-row upserts applied
    * to a MULTI-WRITER CAS table, one
    * [[graft.sources.Warehouse.casMergeBatch]] per micro-batch:
    * matched keys update in place inside extent-hit waves, new keys
    * land as tight-extent insert waves, and every batch commits
    * EXACTLY ONCE — the commit carries a (stream, batchId) TXN
    * marker, so the batch the engine re-delivers after a crash
    * between the merge CAS and the checkpoint write (the
    * `afterMerge` seam) dedups instead of rolling concurrently-
    * updated rows back to stale values. This is [[upsertSink]]
    * re-based from the single-writer MoR sidecar onto the CAS tier:
    * no sidecar read tax, concurrent writers safe, and the table
    * stays a plain CAS table every DML/OPTIMIZE/RESTORE operator
    * already handles. Batches must carry at most one row per key
    * (the CDC-compacted shape; [[casMergeBatch]] rejects ambiguous
    * batches loudly rather than guessing an order).
    *
    * 100 TB shape: per batch O(extent-hit waves + batch), metadata
    * commit; layout drift from many small insert waves is what
    * [[graft.sources.Warehouse.casClusterBy]] and the auto-OPTIMIZE
    * hook exist for.
    */
  def mergeSink(src: DataFrame, wh: graft.sources.Warehouse,
      table: String, keyCol: String, stream: String,
      checkpointDir: String,
      afterMerge: () => Unit = () => ()): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          wh.casMergeBatch(batch.sparkSession, table, keyCol, batch,
            stream, id)
          afterMerge()
        }
        ()
      }
      .start()

  /** STREAMING CDC APPLY — [[mergeSink]] for a Debezium-shaped feed
    * that carries DELETES too: each micro-batch (table columns + an
    * op column, `'D'` = delete, else upsert) applies atomically via
    * [[graft.sources.Warehouse.casApplyCdcBatch]] — a reader can
    * never see a batch's inserts without its deletes — with the same
    * (stream, batchId) exactly-once marker as the merge sink.
    * Batches must be key-compacted (one change per key); the apply
    * rejects ambiguous batches loudly.
    */
  def cdcSink(src: DataFrame, wh: graft.sources.Warehouse,
      table: String, keyCol: String, opCol: String, stream: String,
      checkpointDir: String,
      afterApply: () => Unit = () => ()): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          wh.casApplyCdcBatch(batch.sparkSession, table, keyCol,
            batch, opCol, stream, id)
          afterApply()
        }
        ()
      }
      .start()

  /** STREAMING MATERIALIZED VIEW — the end-to-end composition of the
    * round's devices, one micro-batch at a time: the batch lands in
    * the source's CAS log exactly-once
    * ([[graft.sources.Warehouse.casAppendBatch]]), then
    * [[graft.ops.CasIvm.maintainSumCountCat]] absorbs the tail-read
    * window into the rollup and pins (source@cursor, rollup@version)
    * as ONE catalog transaction. Every seam is individually
    * crash-safe, so the composition is: a replay after a crash
    * between the append and the maintenance dedups the append (ADDB)
    * and the maintenance simply absorbs the already-landed window; a
    * replay after the maintenance dedups the append AND the
    * maintenance no-ops (cursor at head) — the rollup can never
    * double-count whatever the checkpoint lost. `afterBatch` is the
    * crash seam the spec injects into.
    */
  def ivmSink(src: DataFrame, wh: graft.sources.Warehouse,
      srcTable: String, rollup: String, g: String, v: String,
      stream: String, checkpointDir: String,
      onMode: String => Unit = _ => (),
      afterBatch: () => Unit = () => ()): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          wh.casAppendBatch(batch, srcTable, stream, id)
          onMode(graft.ops.CasIvm.maintainSumCountCat(
            batch.sparkSession, wh, srcTable, rollup, g, v))
          afterBatch()
        }
        ()
      }
      .start()

  /** One micro-batch of the CATALOG-consistent two-table sink: land
    * the wave's detail and rollup APPENDS exactly-once in each
    * table's own CAS log ([[graft.sources.Warehouse.casAppendBatch]]
    * dedups a replay per table independently), then advance the
    * catalog pins to both heads in ONE commit. The pin is the
    * consistency device: it is published only after BOTH tables
    * contain the batch, so a catalog reader can never observe the
    * detail of batch N without its rollup — even across a crash
    * between the two appends (the replay dedups the landed half,
    * lands the missing half, and THEN pins; until then the catalog
    * still serves the previous consistent pair). This is
    * [[twoTableTxnSink]]'s guarantee re-based from the single-writer
    * journal onto the multi-writer CAS+catalog tier — concurrent
    * batch writers of the same tables stay safe, and direct casRead
    * readers see appends early (documented catalog-vs-direct
    * visibility split).
    *
    * The pin is each table's version FOR THIS BATCH (the append's
    * returned version; after a dedup'd replay, the version the
    * earlier landing is visible at —
    * [[graft.sources.Warehouse.casBatchVersion]]), NOT the raw
    * casHead: pinning the head would publish a CONCURRENT writer's
    * detail append before that writer's rollup lands — exactly the
    * detail-without-rollup state the pin exists to prevent. The
    * catalog commit goes through
    * [[graft.sources.Warehouse.catCommitMax]], which merges
    * max(own version, currently pinned) inside the CAS loop, so two
    * concurrent batch writers of the same table pair can never
    * regress each other's pins whatever the interleave.
    *
    * Exact concurrency contract (stated, not hand-waved): THIS
    * writer's batch is never observable half-landed, and no
    * interleave loses or regresses a pin. What concurrent writers of
    * the SAME pair do NOT get is pair-atomicity of each other's
    * in-flight batches: if writer B's detail version sorts below
    * writer A's, A's pin necessarily publishes B's detail rows
    * (version pins are prefixes) before B's own rollup pin lands —
    * transient, healed by B's commit, and inherent to per-table
    * version pins without cross-writer coordination. Single-writer
    * deployments (the streaming norm: one query owns one sink pair)
    * see strict pair-atomicity.
    */
  def catTxnBatch(wh: graft.sources.Warehouse, batch: DataFrame,
      batchId: Long, detailTable: String, rollupTable: String,
      stream: String,
      beforeRollup: () => Unit = () => ()): Unit = {
    val detail = batch.groupBy("source", "lang")
      .agg(count(lit(1)).as("n"))
    val rollup = detail.groupBy("source").agg(sum("n").as("src_n"))
    def land(df: DataFrame, table: String): Int =
      wh.casAppendBatch(df, table, stream, batchId)
        .orElse(wh.casBatchVersion(table, stream, batchId))
        .getOrElse(sys.error(s"catTxnBatch($table, $stream, " +
          s"$batchId): batch neither landed nor found committed"))
    val dv = land(detail, detailTable)
    beforeRollup() // test seam: the crash window between the appends
    val rv = land(rollup, rollupTable)
    wh.catCommitMax(Seq(detailTable -> dv, rollupTable -> rv))
    ()
  }

  /** EXACTLY-ONCE two-table streaming sink over the CAS + catalog
    * tier — every micro-batch runs [[catTxnBatch]]; read the pair
    * through [[graft.sources.Warehouse.catRead]] + aggregate (the
    * append-then-aggregate-on-read shape, vs [[twoTableTxnSink]]'s
    * merged-state rewrite).
    */
  def catTxnSink(src: DataFrame, wh: graft.sources.Warehouse,
      detailTable: String, rollupTable: String, stream: String,
      checkpointDir: String,
      beforeRollup: () => Unit = () => ()): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        catTxnBatch(wh, batch, batchId, detailTable, rollupTable,
          stream, beforeRollup)
      }
      .start()

  /** A document arriving on the curation stream. */
  final case class DocArrival(source: String, doc_id: Long, n_chars: Long)

  /** A document admitted by the quota gate; `seq` is its 1-based
    * admission number within its source. */
  final case class KeptDoc(source: String, doc_id: Long, seq: Long)

  /** Streaming per-source quota gate — the ingest-time twin of q148's
    * batch quota cap: admit at most `cap` documents per source over
    * the stream's lifetime, first-come-first-kept. State is ONE
    * counter per source (bounded by the source keyspace, not the
    * stream), shuffle-partitioned on the key; each micro-batch admits
    * its group's rows in deterministic doc_id order so replays of the
    * same batch boundaries reproduce the same kept set. Admission
    * cannot be reordered across batches (the counter is monotone), so
    * unlike the batch form there is no quality ranking — that is the
    * inherent batch/stream semantic gap, documented here rather than
    * papered over: a stream cannot rank arrivals it has not seen.
    */
  def quotaGateStream(docs: Dataset[DocArrival], cap: Long)
      : Dataset[KeptDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocArrival],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val kept = Vector.newBuilder[KeptDoc]
          rows.toVector.sortBy(_.doc_id).foreach { d =>
            if (used < cap) { used += 1; kept += KeptDoc(src, d.doc_id, used) }
          }
          state.update(used)
          kept.result().iterator
      }
  }

  /** A document arriving at a shard writer: `tok` is its token count
    * (computed upstream, stateless). */
  final case class ShardArrival(writer: String, doc_id: Long, tok: Long)

  /** A shard assignment: the arrival's 0-based shard under the
    * writer's running token total. */
  final case class ShardAssign(writer: String, doc_id: Long, shard: Long)

  /** Streaming twin of q182's shard packer — the WRITER-SIDE next-fit
    * sharder as a stateful stream: each writer key carries ONE long of
    * state (its running token total); an arrival's shard is
    * `total div cap` at the moment its first token lands, exactly the
    * batch rule. Rows within a micro-batch assign in doc_id order (the
    * quotaGateStream device — replays of the same batch boundaries
    * reproduce the same assignment).
    *
    * Parallelism is BY WRITER: shard numbering is a total order per
    * writer (the q182 scaladoc argument), so the stream form scales by
    * partitioning the feed across writer keys — one counter per key,
    * state bounded by the writer keyspace, never the stream. The
    * single-writer case (constant `writer`) is the global-manifest
    * builder and is inherently single-threaded — stated, not papered
    * over. Second honest gap: the stream equals the batch q182
    * assignment only when arrivals respect doc_id order ACROSS batches
    * (a stream cannot re-sort history); out-of-order cross-batch
    * arrivals get arrival-order packing — the same semantic gap every
    * ingest-order gate in this file documents.
    */
  def shardAssignStream(docs: Dataset[ShardArrival], cap: Long)
      : Dataset[ShardAssign] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.writer)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (w: String, rows: Iterator[ShardArrival],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = Vector.newBuilder[ShardAssign]
          rows.toVector.sortBy(_.doc_id).foreach { d =>
            out += ShardAssign(w, d.doc_id, cum / cap)
            cum += d.tok
          }
          state.update(cum)
          out.result().iterator
      }
  }

  /** Streaming twin of q167's exact-dup ingest gate: arrivals carrying
    * a precomputed `fp` column are admitted iff the fingerprint misses
    * the PERSISTED store (a stream-static left-anti join) and the
    * fingerprint has not already been admitted on this stream
    * (stateful `dropDuplicates` on fp).
    *
    * Static-side staleness, stated plainly: a parquet-backed static
    * DataFrame PINS its file listing when the DataFrame is created —
    * store appends made while the stream runs are NOT picked up, and
    * a compaction's renames would break the pinned listing outright.
    * The operational contract is therefore: run store maintenance
    * (append admitted fps) BETWEEN stream runs and restart
    * the query with a freshly-built `storeFps` — which is the same
    * fold-into-store cycle the dedup state already requires (below).
    *
    * Semantic gaps vs the batch q167, stated not papered over: the
    * in-stream first-holder is ARRIVAL order, not min doc_id (a stream
    * cannot rank arrivals it has not seen — the quotaGateStream
    * argument); and the dedup state holds one entry per admitted
    * fingerprint, which grows with the admitted set — a production
    * deployment either bounds it with `withWatermark` + horizon dedup
    * (the [[dedupStream]] contract) or periodically folds admitted
    * fps into the store and restarts the stream with fresh state,
    * which is the same append cycle the store already has.
    */
  def fpStoreGateStream(arrivals: DataFrame, storeFps: DataFrame)
      : DataFrame =
    arrivals.join(storeFps.select("fp"), Seq("fp"), "left_anti")
      .dropDuplicates("fp")

  /** Streaming JSONL INGEST GATE — the streaming twin of the batch
    * [[graft.sources.Jsonl.read]] quarantine (q189): each arriving
    * line parses through the SAME expression contract
    * ([[graft.sources.Jsonl.parseLine]] — `from_json` over the same
    * explicit schema, so batch and stream cannot drift), corrupt
    * lines flag instead of failing, and the raw line is preserved for
    * re-drive. A live tail of a JSONL dump directory is exactly this:
    * `spark.readStream.text(dir)` feeds `lines`. Stateless, no
    * watermark — a pure per-row parse, so restart/resume is trivially
    * safe and state never grows. (The file-source corrupt-column
    * restriction doesn't apply here: the parse is an expression over
    * a text relation, not the json source's pushed-down parse.)
    *
    * Output: `is_corrupt`, the raw line, then `schema`'s fields
    * (null-filled on corrupt rows) — the [[graft.sources.Jsonl.read]]
    * shape with the raw line in place of the corrupt column.
    */
  def jsonlGateStream(lines: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      lineCol: String = "value"): DataFrame = {
    val cc = graft.sources.Jsonl.corruptCol
    val parsed = lines.withColumn("_p",
      graft.sources.Jsonl.parseLine(col(lineCol), schema))
    val fields = schema.fieldNames.toSeq.map(f => col(s"_p.$f").as(f))
    parsed.select(
      ((col("_p").isNull || col(s"_p.$cc").isNotNull).as("is_corrupt") +:
        col(lineCol).as("raw") +: fields): _*)
  }

  /** Streaming SNAPSHOT-DIFF AUDIT — the arrival-side face of the
    * batch [[graft.ops.Cdc.snapshotDiff]] (q199): each arriving row
    * classifies against a STATIC target snapshot as
    * insert/update/unchanged via a stateless stream-static left join
    * (no watermark, no state store — restart-trivial). The one
    * honest semantic gap, stated not papered over: DELETES are
    * undetectable from an upsert stream — absence of a key that
    * never arrives is not an event; detecting deletions needs the
    * batch operator over a complete snapshot (or an explicit
    * tombstone feed). Attribute comparison is the same null-safe
    * `<=>` chain as the batch operator, so the two cannot drift on
    * null transitions. StreamingSpec pins: stream verdicts ≡ the
    * batch diff restricted to arrived keys, across micro-batch
    * boundaries.
    */
  def snapshotDiffStream(src: DataFrame, target: DataFrame,
      key: String, attrs: Seq[String]): DataFrame = {
    val t = attrs.foldLeft(
      target.select((key +: attrs).map(col): _*)) { (d, a) =>
      d.withColumnRenamed(a, s"tgt_$a")
    }.withColumn("tgt_present", lit(true))
    val anyChanged = attrs
      .map(a => !(col(a) <=> col(s"tgt_$a"))).reduce(_ || _)
    src.join(t, Seq(key), "left")
      .withColumn("change_type",
        when(!coalesce(col("tgt_present"), lit(false)), "insert")
          .when(anyChanged, "update")
          .otherwise("unchanged"))
      .select((col(key) +: attrs.map(col)) :+ col("change_type"): _*)
  }

  /** Streaming POINT-IN-TIME FEATURE LOOKUP — the serving-side twin
    * of the batch q201 join: each arriving event picks the feature
    * version whose validity window covers ITS event time, via a
    * stateless stream-static inner join against the dimension
    * (broadcast — a dim lookup never shuffles the stream). This is
    * the online-feature-store contract: the same validity semantics
    * as offline training assembly, so train and serve cannot skew
    * (the classic online/offline skew is exactly a current-flag
    * serve against a PIT-trained model). No watermark, no state —
    * a late event still picks its HISTORICALLY correct version, which
    * is the point. StreamingSpec pins stream ≡ the batch validity
    * join row-for-row across micro-batch boundaries.
    */
  def pitFeatureStream(events: DataFrame, dim: DataFrame,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    events.join(broadcast(dim),
      events(userCol) === dim("d_user") &&
        events(tsCol) >= dim("eff_ts") && events(tsCol) < dim("exp_ts"))
      .drop("d_user", "eff_ts", "exp_ts", "current_flag")

  /** Ingest-time MEDIA CURATION GATE — the streaming twin of the
    * batch [[graft.multimodal.Multimodal.mediaGate]] (q176): sniff
    * and header-decode each arriving payload
    * ([[graft.multimodal.Multimodal.decodeMixedMeta]], stateless per
    * row), then apply the SAME shared rule chains
    * ([[graft.multimodal.Multimodal.imageReason]]/`audioReason` —
    * one definition, so batch and stream cannot drift). Routing is
    * by CONTENT sniff, which is the one honest semantic gap vs the
    * batch gate and is stated, not papered over: a batch table knows
    * a garbage payload's intended modality from provenance, a mixed
    * stream does not — an unsniffable payload reports modality
    * `unknown` here (same `undecodable` reason either way; the spec
    * pins exactly this mapping). Zero state, no watermark needed —
    * the gate is a pure per-row function, so restart/resume is
    * trivially safe.
    */
  def mediaGateStream(media: DataFrame): DataFrame = {
    import graft.multimodal.Multimodal
    Multimodal.decodeMixedMeta(media)
      .select(col("modality"), col("media_id"),
        when(col("modality") === "image", Multimodal.imageReason)
          .when(col("modality") === "audio", Multimodal.audioReason)
          .when(col("modality") === "video", Multimodal.videoReason)
          .otherwise("undecodable").as("reason"))
  }

  /** Ingest-time PERCEPTUAL-DUP ALERT — the streaming face of the
    * q179 phash-store gate: each arriving payload's 60-bit code is
    * computed in-flight ([[graft.multimodal.Multimodal
    * .perceptualHash]], stateless), exploded to its 4 band keys, and
    * probed against the PERSISTED band store via a stream-static
    * join; candidates verify at Hamming ≤ `maxHamming` against the
    * stored full codes. Output is the DUP-HIT stream — one row per
    * verified (arrival, stored) match — not an admit stream: turning
    * hits into per-arrival verdicts needs a stream-side aggregate
    * (stateful) or the batch gate; the alert stream is the stateless
    * deliverable, and the spec pins its hit set equal to the batch
    * gate's. Same store table, same band layout, same verify — the
    * batch and stream probes cannot drift.
    */
  def phashDupAlertStream(media: DataFrame, storeBands: DataFrame,
      maxHamming: Int = 6): DataFrame = {
    import graft.multimodal.Multimodal
    val probe = Multimodal.phashBands(Multimodal.perceptualHash(media))
    val store = storeBands.select(col("media_id").as("store_id"),
      col("sh").as("ssh"), col("band"), col("key"))
    probe.join(store, Seq("band", "key"))
      .filter(bit_count(col("sh").bitwiseXOR(col("ssh")))
        <= maxHamming)
      .select(col("media_id"), col("store_id"),
        bit_count(col("sh").bitwiseXOR(col("ssh"))).cast("long")
          .as("hamming"))
      .dropDuplicates("media_id", "store_id")
  }

  /** Ingest-time CONTENT-FEATURE EXTRACTOR — the streaming twin of
    * the sample/pixel decode tier (q230's [[graft.multimodal
    * .Multimodal.bmpMeta]] and q234's `wavPcm`): each arriving
    * payload is content-sniffed and decoded STATELESS per row,
    * reporting (media_id, format, a, b, content_stat) — bmp →
    * (width, height, pixel sum); PCM wav → (channels, frames, sample
    * sum); anything else ('unknown', 0, 0, 0). The byte decoders are
    * the single batch definitions, so batch and stream cannot drift
    * (spec-pinned equal to the batch decode tables on a mixed feed
    * split across micro-batches). Zero state, no watermark — a pure
    * per-row function, restart-safe by construction; a production
    * deployment puts this exactly here, at ingest, so the expensive
    * content decode runs once per payload arrival rather than per
    * downstream consumer.
    */
  def contentDecodeStream(media: DataFrame): DataFrame = {
    import graft.multimodal.Multimodal
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        Multimodal.bmpMeta(p) match {
          case Some((w, h, ps, _)) => (id, "bmp", w, h, ps)
          case None => Multimodal.pngPixelMeta(p) match {
            case Some((w, h, ps, _)) => (id, "png", w, h, ps)
            case None => Multimodal.wavPcm(p) match {
              case Some((bits, ch, fr, sum, _)) =>
                (id, if (bits == 8L) "pcm8" else "pcm16", ch, fr, sum)
              case None => (id, "unknown", 0L, 0L, 0L)
            }
          }
        }
      })
      .toDF("media_id", "format", "a", "b", "content_stat")
  }

  /** Streaming twin of the q249/q250 metadata tier — EXIF and
    * voice-activity extraction AT INGEST: the same [[graft.multimodal
    * .Multimodal.jpegExif]] / [[graft.multimodal.Multimodal.wavVad]]
    * walks the batch queries run, applied per arriving payload.
    * Stateless by construction (each output row is a pure function
    * of one payload), so micro-batch boundaries cannot change any
    * row — the StreamingSpec twin pins stream ≡ batch on a mixed
    * jpeg+wav+garbage feed split across batches.
    */
  def metaExtractStream(media: DataFrame): DataFrame = {
    import graft.multimodal.Multimodal
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        Multimodal.jpegExif(p) match {
          case Some((bo, _, w, h, o)) => (id, "exif", bo, w, h, o)
          case None => Multimodal.wavVad(p) match {
            case Some((bits, nf, na, mr)) =>
              (id, "vad", if (bits == 8L) "pcm8" else "pcm16", nf, na,
                mr)
            case None => (id, "unknown", "none", 0L, 0L, 0L)
          }
        }
      })
      .toDF("media_id", "kind", "variant", "a", "b", "c")
  }

  /** Streaming twin of the q204 epoch shuffle — the ONLINE shard
    * router: an arriving doc's (epoch, shard) assignment is the SAME
    * keyed bijective permutation the batch plan computes
    * ([[graft.queries.Extras2.feistel32]], one shared definition —
    * the router cannot drift from the planner). Stateless by
    * construction: the permutation is a pure function of (doc_id,
    * epoch), so there is no running total to checkpoint, restarts
    * are trivially safe, and a doc's route never depends on arrival
    * order — the property that lets a preempted ingest resume
    * mid-epoch with identical placement.
    */
  def epochShuffleStream(docs: DataFrame, epoch: Long,
      nShards: Int = 8): DataFrame = {
    val y = graft.queries.Extras2.feistel32(col("doc_id"), lit(epoch))
    docs.withColumn("y", y)
      .withColumn("shard", col("y") % nShards)
  }

  /** A (window-end, user) credit — `day` in epoch days. */
  final case class DayUser(day: Long, user_id: Long)

  /** A window end's current distinct-user count. */
  final case class DayUsers(day: Long, users_7d: Long)

  /** Stateless expansion of raw events to the ≤7 trailing-window ends
    * each one credits — q262's explode trick as the map stage of the
    * stream (one shared algebra, so the online counter cannot drift
    * from the batch metric).
    */
  def toWindowEnds(events: DataFrame): DataFrame =
    events
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("d"), col("user_id"))
      .withColumn("off", explode(sequence(lit(0), lit(6))))
      .select((col("d") + col("off")).as("day"), col("user_id"))

  /** Streaming ROLLING-DISTINCT — q262's trailing-7-day engagement
    * metric computed ONLINE: after the stateless [[toWindowEnds]]
    * expansion, each window end keeps a `MapState` of users already
    * counted and a running total, emitting the updated count on every
    * new user (Update mode). This is the state/latency trade the batch
    * explode trick avoids: the stream materializes one user-set per
    * OPEN window (7 windows per active user population — bounded by
    * construction, and expirable via TTL once a window can no longer
    * grow) in exchange for a count that is current after every
    * micro-batch instead of once per batch job. The StreamingSpec twin
    * pins stream ≡ batch (q262) on the real corpus.
    */
  class RollingDistinctProcessor
      extends StatefulProcessor[Long, DayUser, DayUsers] {
    @transient private var seen: MapState[Long, Boolean] = _
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean]("seen",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("n",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[DayUser],
        timerValues: TimerValues): Iterator[DayUsers] = {
      var c = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { r =>
        if (!seen.containsKey(r.user_id)) {
          seen.updateValue(r.user_id, true)
          c += 1L
        }
      }
      cnt.update(c)
      Iterator.single(DayUsers(key, c))
    }
  }

  def rollingDistinctStream(hits: Dataset[DayUser]): Dataset[DayUsers] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(_.day)
      .transformWithState(new RollingDistinctProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** TRANSACTIONAL TWO-TABLE STREAMING SINK — each micro-batch lands
    * a detail table AND its rollup in one
    * [[graft.sources.Warehouse.transact]] commit: the wave's rows are
    * folded into both derived tables' NEW full state (read-merge-
    * rewrite; the MOR tier is the O(delta) variant — this sink is
    * about the cross-table commit), staged fully, then swapped under
    * one roll-forward journal. A crash mid-batch therefore leaves the
    * pair at the PREVIOUS consistent snapshot or carries both forward
    * on the next writer — never a detail/rollup mix, the invariant a
    * dashboard reading both tables needs. The StreamingSpec twin pins
    * the end state equal to the batch aggregation of all waves and
    * drives the torn-journal crash through a micro-batch boundary.
    */
  def twoTableTxnSink(src: DataFrame, wh: graft.sources.Warehouse,
      detailTable: String, rollupTable: String): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val waveDetail = batch.groupBy("source", "lang")
          .agg(count(lit(1)).as("n"))
        val merged =
          if (wh.exists(detailTable))
            wh.read(spark, detailTable).unionByName(waveDetail)
              .groupBy("source", "lang").agg(sum("n").as("n"))
          else waveDetail
        // both plans lazily read the CURRENT tables — safe, because
        // transact fully stages every new state before any rename
        val rollup = merged.groupBy("source").agg(sum("n").as("src_n"))
        wh.transact(Seq(detailTable -> merged, rollupTable -> rollup))
      }
      .start()
}

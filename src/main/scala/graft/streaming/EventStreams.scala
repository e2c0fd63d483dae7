package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Event/time-series operators over the `events` table shape
  * (`event_id, ts, user_id, event_type, value, props`), written so the
  * same transformations run in batch AND Structured Streaming (extension
  * tier — the reference has no streaming at all, SURVEY §1.1).
  *
  * Scale: windowed aggregations shuffle on (window, key) with map-side
  * partial aggregation; watermarks bound state for streaming;
  * sessionization uses `session_window` (streaming-capable) or a
  * lag-based batch formulation for exact oracle checks.
  *
  * The foreachBatch operators (CDC materialization and the admission
  * screens) all run on [[screen]], and every screen with a persisted
  * index writes through [[admit]]: the out-before-index write ordering
  * and its crash argument are defined there, once.
  */
object EventStreams {

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based event stream (works on a directory receiving parquet). */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(dir)

  /** Stream over a directory of driver-testdata `events` parquet files.
    * Streaming reads need an explicit schema, and the driver has shipped
    * `ts` as both TIMESTAMP(NANOS) and naive TIMESTAMP(MICROS) across
    * rounds — so peek at the batch-inferred schema of the directory and
    * pick the conversion: nanos-as-long is floor-divided to micros (the
    * same truncation DuckDB applies, matching [[graft.Tables.load]]);
    * micros (tz'd or naive under the UTC session) pass through. */
  def readStreamNanos(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // not-yet-populated directory (start-stream-then-feed pattern): no
    // file to peek → assume the plain-TIMESTAMP shape of EventSchema
    // (nanos-shaped feeds must pre-populate before starting the stream).
    // Only a PROVABLY empty directory falls back — a real peek failure
    // (corrupt footer, missing ts column) still fails fast.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(hPath) && fs.listStatus(hPath).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }
    val tsType =
      if (hasData) spark.read.parquet(path).schema("ts").dataType
      else TimestampType
    val readSchema = StructType(EventSchema.fields.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })
    val reader = spark.readStream.schema(readSchema)
    // bound files per micro-batch (e.g. 1 → one batch per staged file, so
    // cross-batch stateful merging is genuinely exercised by gates)
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).parquet(path)
    if (tsType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }

  /** Tumbling-window counts/sums per event type — identical code path
    * for batch DataFrames and streams. */
  def tumblingStats(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** Sliding-window stats. */
  def slidingStats(events: DataFrame, width: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming tumbling stats with a watermark bounding state. */
  def streamingTumblingStats(stream: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumblingStats(stream.withWatermark("ts", watermark), width)

  /** Streaming exact dedup by event_id within the watermark horizon. */
  def streamingDedup(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Running per-user state maintained across micro-batches. */
  final case class UserRunningState(
      user_id: Long, n_events: Long, total_value: Double, last_type: String)

  /** Custom stateful streaming via `mapGroupsWithState`: a running
    * per-user aggregate that survives across micro-batches (the shape
    * for bespoke state no built-in aggregation expresses — counters,
    * decaying scores, per-key ML features). State is partitioned by key
    * and checkpointed by the engine; memory is O(active keys). */
  def statefulUserStats(stream: DataFrame): Dataset[UserRunningState] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    stream.selectExpr("user_id", "event_type", "value", "unix_micros(ts) AS ts_us")
      .as[(Long, String, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunningState, UserRunningState](
        GroupStateTimeout.NoTimeout()) {
        case (userId, events, state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(userId, 0L, 0.0, ""))
          // the group iterator has NO guaranteed order — sort by event
          // time so last_type really is the temporally last event
          val batch = events.toSeq.sortBy(_._4)
          val updated = batch.foldLeft(prev) { (acc, e) =>
            UserRunningState(userId, acc.n_events + 1, acc.total_value + e._3, e._2)
          }
          state.update(updated)
          updated
      }
  }

  /** Stream-stream interval equi-join (batch DataFrames run the same
    * code path): left rows pair with right rows of equal `key` whose
    * `rightTs` lies in [leftTs - before, leftTs]. In streaming, pass
    * `watermark` so BOTH sides carry one — combined with the time-range
    * condition it lets the engine BOUND the join state it retains
    * (right-side state older than watermark + `before` is evicted),
    * which is what makes an unbounded stream-stream join runnable at
    * all; without the range condition state grows forever. Inner joins
    * emit matches immediately (no watermark wait — only outer joins
    * hold rows back).
    *
    * Column contract: `key`, `leftTs`, `rightTs` must be unambiguous —
    * rename the non-key right columns before joining (the duplicate
    * right `key` column is dropped from the output). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, before: String,
      watermark: Option[String] = None, joinType: String = "inner"): DataFrame = {
    val l = watermark.fold(left)(w => left.withWatermark(leftTs, w))
    val r = watermark.fold(right)(w => right.withWatermark(rightTs, w))
    val cond = l(key) === r(key) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $before") &&
      r(rightTs) <= l(leftTs)
    l.join(r, cond, joinType).drop(r(key))
  }

  /** Stream-stream LEFT OUTER interval join: like [[intervalJoin]] but
    * left rows with NO in-range right match are still emitted,
    * null-extended — the "every purchase, matched or not" shape.
    * Matched rows emit immediately (inner semantics); the null-extended
    * rows emit only once the watermark guarantees no further right row
    * can match (right side complete past the row's range), so in a
    * bounded run left rows YOUNGER than the final watermark stay
    * unemitted — callers compare below that cutoff. Both sides MUST be
    * watermarked: the delay is what lets the engine ever declare a left
    * row unmatched. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, before: String,
      watermark: String): DataFrame =
    intervalJoin(left, right, key, leftTs, rightTs, before,
      Some(watermark), "left_outer")

  /** The one streaming skeleton of this object's foreachBatch operators:
    * `body` runs on the driver for each micro-batch and its id, and the
    * checkpoint commits a batch only after `body` returns, so a batch
    * whose body threw (or whose JVM died mid-body) is REPLAYED on a
    * restart from the same checkpoint. Screens with a persisted index
    * order their writes through [[admit]]. */
  private[streaming] def screen(stream: DataFrame, checkpoint: String)(
      body: (Dataset[Row], Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** Admit a screened micro-batch: persist `admitted`, append
    * `project(admitted)` to the `outPath` parquet feed, THEN run `absorb`
    * (the screen's index append) on the full persisted frame, then
    * unpersist; a driver-resident `admitted`
    * ([[graft.ops.Lineage.isDriverResident]]) already holds its rows, so it
    * is written with no persist. This is the one place the screens' write
    * ordering is defined, and the order is load-bearing: a crash between
    * the two writes replays the batch ([[screen]]) against an index that
    * does not hold it yet, so the replay admits the same rows again —
    * at-least-once duplicates in `outPath`, never silently lost rows,
    * which the reverse order would produce (the index would screen out
    * rows that never reached the feed). Downstream reads dedup or
    * tolerate duplicates, as with every foreachBatch parquet sink. A
    * crash after `absorb` replays the batch too, so every screen's absorb
    * must be idempotent or exactly-once under replay; each screen's
    * scaladoc says which, and why. */
  private[streaming] def admit(admitted: DataFrame, outPath: String,
      project: DataFrame => DataFrame = identity)(absorb: DataFrame => Unit): Unit = {
    def write(a: DataFrame): Unit = {
      project(a).write.mode("append").parquet(outPath)
      absorb(a)
    }
    if (graft.ops.Lineage.isDriverResident(admitted.queryExecution.analyzed)) write(admitted)
    else persisted(admitted)(write)
  }

  private def persisted[A](df: DataFrame)(f: DataFrame => A): A = {
    val p = df.persist()
    try f(p) finally p.unpersist()
  }

  /** In-batch dominance of the media, entity and embedding screens: rows
    * whose `id` the index probe `matchedIds` names are rejected; of the
    * rest, a row drops iff `dominatedIds` (computed over those survivors)
    * names it because a SMALLER-id batch-mate matches it —
    * deterministic and engine-replayable. Dominance, not transitive
    * closure: in a chain a~b~c with a≁c both b and c drop although c's
    * dominator b died — a conservative bias; a screen may drop extra
    * near-dups but must never admit a matched one. What is left goes
    * through [[admit]]. */
  private def admitUndominated(rows: DataFrame, matchedIds: DataFrame,
      dominatedIds: DataFrame => DataFrame, outPath: String,
      project: DataFrame => DataFrame = identity)(absorb: DataFrame => Unit): Unit =
    // persist, not localCheckpoint: the survivors feed both the dominance
    // pairs and the admit anti-join (one probe, not two) and must stay
    // RECOMPUTABLE — a lineage cut before the two writes is the r4
    // executor-loss trap
    persisted(rows.join(matchedIds, Seq("id"), "left_anti")) { afterIndex =>
      admit(afterIndex.join(dominatedIds(afterIndex), Seq("id"), "left_anti"),
        outPath, project)(absorb)
    }

  /** Continuous CDC materialization: fold a change STREAM (target
    * columns + op I/U/D + monotone seq, the
    * [[graft.ops.Merge.applyChanges]] contract) into a parquet snapshot.
    * Each micro-batch merges against the current snapshot and swaps the
    * result in atomically ([[graft.ops.FsOps.swapDirs]]) — readers see
    * either the old or the new snapshot, never a mix.
    *
    * Delivery semantics: the swap is atomic per batch but not
    * transactional with the stream checkpoint, so a crash between swap
    * and checkpoint commit REPLAYS the batch — which is idempotent
    * here: re-applying a batch to the already-merged snapshot upserts
    * identical rows and re-deletes absent keys (the standard
    * foreachBatch at-least-once + idempotent-sink recipe). Cross-batch
    * ordering is the producer's contract: per-key changes must arrive
    * in seq order across batches (within a batch, any order).
    *
    * The snapshot must exist before the stream starts (write an initial
    * — possibly empty — parquet table); its schema defines the target
    * columns. */
  def streamingApplyChanges(changes: DataFrame, snapshotPath: String,
      keys: Seq[String], checkpoint: String, opCol: String = "op",
      seqCol: String = "seq"): StreamingQuery =
    screen(changes, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val tmpPath0 = snapshotPath + ".merging"
      // self-heal the swap's crash window (snapshot deleted, complete
      // new copy still at .merging) — otherwise a restarted stream
      // would throw on every replay and never recover
      graft.ops.FsOps.healSwap(spark, tmpPath0, snapshotPath)
      val target = spark.read.parquet(snapshotPath)
      val merged = graft.ops.Merge.applyChanges(target, batch, keys, opCol, seqCol)
      // materialize BEFORE the swap: merged still reads the old
      // snapshot lazily
      merged.write.mode("overwrite").parquet(tmpPath0)
      graft.ops.FsOps.swapDirs(spark, tmpPath0, snapshotPath)
    }

  /** Continuous first-occurrence screen over a persisted Bloom index
    * ([[graft.ops.Sketch.writeBloomIndex]]): each micro-batch's DISTINCT
    * (key, value) pairs probe the index, pairs that are
    * definitely-absent (not all bits set) append to the `outPath`
    * parquet feed, and exactly those passed pairs' bits append to the
    * index — so later batches (and later stream runs over the same
    * index) screen against everything previously admitted. The
    * streaming twin of the d10/e11 persisted-artifact pattern.
    *
    * Screen semantics: no previously-admitted (or seeded) value is ever
    * re-emitted — the Bloom no-false-negative guarantee; a small
    * deterministic fraction of genuinely-new values is falsely dropped
    * (classic Bloom false positives — size numBits for the tolerated
    * rate). Null values are dropped, and keys match null-safely.
    *
    * Two paths compute a batch's admissions. When the batch and the
    * index both [[graft.ops.Lineage.fitsOnDriver]] (estimated size at
    * most `spark.sql.autoBroadcastJoinThreshold`) and their key and value
    * types compare on the driver as Spark compares them,
    * [[bloomScreenOnDriver]] collects both and probes on the driver:
    * two collects and two one-file appends, no shuffle. Otherwise
    * [[bloomScreenOnSpark]] runs the probe and the sketch as Spark
    * plans. Both probe the same distinct non-null pairs against the
    * bitmap as it stood before the batch, with bit positions from the
    * one hash ([[graft.ops.Sketch.cmBucket]], evaluated by Spark on both
    * paths), so they admit the same pairs and append the same
    * `(key, word_idx, bits)` rows. Both write through [[admit]], so the
    * out-before-index ordering and the replay argument are the same; the
    * absorb is idempotent because bits are appended and combined by
    * bit_or. */
  def streamingBloomScreen(stream: DataFrame, keyCol: String, valueCol: String,
      indexPath: String, outPath: String,
      checkpoint: String): StreamingQuery =
    screen(stream, checkpoint) { (batch, _) =>
      val (fresh, absorb) = bloomScreenOnDriver(batch, keyCol, valueCol, indexPath)
        .getOrElse(bloomScreenOnSpark(batch, keyCol, valueCol, indexPath))
      admit(fresh, outPath)(absorb)
    }

  /** A Bloom-screened batch's admissions and the absorb that appends
    * their bits to the index, as [[admit]] takes them. */
  private[streaming] type BloomAdmission = (DataFrame, DataFrame => Unit)

  /** [[streamingBloomScreen]]'s distributed path. */
  private[streaming] def bloomScreenOnSpark(batch: DataFrame, keyCol: String,
      valueCol: String, indexPath: String): BloomAdmission = {
    // null VALUES are dropped to mirror the index build side (which
    // never stores them): a null probe reports definitely-absent,
    // so without this filter a (key, null) pair would be re-admitted
    // in EVERY batch — its bits can never be stored
    val pairs = batch.select(col(keyCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    // probeBloomIndex heals the index's swap crash window first
    val fresh = graft.ops.Sketch
      .probeBloomIndex(batch.sparkSession, indexPath, pairs, keyCol, valueCol)
      .filter(!col("may_contain"))
      .select(col("key").as(keyCol), col("value").as(valueCol))
    (fresh, graft.ops.Sketch.appendToBloomIndex(_, keyCol, valueCol, indexPath))
  }

  /** [[streamingBloomScreen]]'s driver path, or None when the batch or
    * the index does not fit on the driver, or a key or value type does
    * not compare there as Spark compares it. Collects the index rows
    * once, `bit_or`ing them per `(key, word_idx)`, and the batch's
    * non-null `(key, value, positions)` once; the fresh pairs and their
    * bits come back as local relations, each appended as one file. */
  private[streaming] def bloomScreenOnDriver(batch: DataFrame, keyCol: String,
      valueCol: String, indexPath: String): Option[BloomAdmission] = {
    val spark = batch.sparkSession
    val (numBits, numHashes) = graft.ops.Sketch.readBloomMeta(spark, indexPath)
    val index = graft.ops.Sketch.readBloomRows(spark, indexPath)
    val probes = batch.filter(col(valueCol).isNotNull).select(col(keyCol), col(valueCol),
      array((0 until numHashes).map(i => graft.ops.Sketch.cmBucket(col(valueCol), i, numBits)): _*))
    val (keyType, valueType) = (probes.schema(0).dataType, probes.schema(1).dataType)
    if (index.schema("key").dataType != keyType || !driverComparable(keyType) ||
        !driverComparable(valueType) ||
        !graft.ops.Lineage.fitsOnDriver(batch) || !graft.ops.Lineage.fitsOnDriver(index)) None
    else {
      def word(k: Any, p: Long) = (k, (p / 63).toInt)
      def bit(p: Long) = 1L << (p % 63)
      val before = mutable.Map.empty[(Any, Int), Long].withDefaultValue(0L)
      index.collect().foreach(r => before((r.get(0), r.getInt(1))) |= r.getLong(2))
      // distinct pairs; a pair is fresh unless ALL its bits were set
      val fresh = probes.collect().map(r => (r.get(0), r.get(1)) -> r.getSeq[Long](2)).toMap
        .filterNot { case ((k, _), ps) => ps.forall(p => (before(word(k, p)) & bit(p)) != 0) }
      val bits = mutable.Map.empty[(Any, Int), Long].withDefaultValue(0L)
      for (((k, _), ps) <- fresh; p <- ps) bits(word(k, p)) |= bit(p)
      val admitted = spark.createDataFrame(
        fresh.keys.map { case (k, v) => Row(k, v) }.toSeq.asJava,
        StructType(Seq(StructField(keyCol, keyType), StructField(valueCol, valueType))))
      val absorbed = spark.createDataFrame(
        bits.map { case ((k, w), b) => Row(k, w, b) }.toSeq.asJava, index.schema)
      Some((admitted.coalesce(1),
        _ => absorbed.coalesce(1).write.mode("append").parquet(indexPath)))
    }
  }

  /** Types whose collected values are equal exactly when Spark's
    * grouping and null-safe join call them equal. Not floating point
    * (Spark folds -0.0 into 0.0 and every NaN into one value), collated
    * strings, binary or nested values. */
  private def driverComparable(t: DataType): Boolean = t match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Continuous EXACT first-occurrence screen over a persisted digest
    * index ([[graft.ops.Dedup.writeDigestIndex]]) — the
    * [[streamingBloomScreen]]'s exact twin: each micro-batch is cleaned
    * by [[graft.ops.Dedup.probeDigestIndex]] (in-batch min-id dedup +
    * one narrow anti-join against every digest previously admitted),
    * survivors append to the `outPath` feed and THEN their digests to
    * the index. Exact semantics — no false drops — at the cost of the
    * full digest set (~32 B/doc) instead of a bitmap; pick by whether a
    * deterministic small loss rate is acceptable.
    *
    * Ordering and replay: [[admit]]; digest re-append is harmless:
    * membership is idempotent under duplicate digest rows
    * ([[graft.ops.Dedup.compactDigestIndex]] restores
    * one-row-per-digest). Null content is dropped, mirroring the index
    * build side — a null digest never matches the anti-join, so an
    * admitted null row would be re-admitted every batch. */
  def streamingExactDedupScreen(stream: DataFrame, contentCol: String,
      idCol: String, indexPath: String, outPath: String,
      checkpoint: String): StreamingQuery =
    screen(stream, checkpoint) { (batch, _) =>
      val fresh = graft.ops.Dedup.probeDigestIndex(batch.sparkSession, indexPath,
        batch.filter(col(contentCol).isNotNull), contentCol, idCol)
      admit(fresh, outPath)(
        graft.ops.Dedup.appendToDigestIndex(_, contentCol, indexPath))
    }

  /** Continuous PERCEPTUAL media admission screen over a persisted
    * phash index ([[graft.ops.Dedup.writePhashIndex]]) — the image-
    * crawl dedup loop: each micro-batch's payloads are hashed ONCE,
    * screened against the index (any band-match within the index's
    * `max_distance` → a re-encode of already-ingested media →
    * rejected), then screened IN-batch by pairwise dominance
    * ([[admitUndominated]]: a row drops iff a SMALLER-id batch-mate
    * band-matches it within distance). Survivors append `(id, ph)` to
    * the admitted feed and THEN their signatures to the index. Later
    * batches screen against the GROWN index, so a re-encode of media
    * admitted two batches ago is rejected. Ordering and replay:
    * [[admit]]; signature re-append is inert because probes
    * `distinct()` the index. Null payloads / null hashes are dropped
    * (nothing to perceive). */
  def streamingMediaScreen(stream: DataFrame, idCol: String,
      payloadCol: String, indexPath: String, outPath: String,
      checkpoint: String,
      maxBucket: Int = Int.MaxValue): StreamingQuery =
    screen(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      persisted(batch.filter(col(payloadCol).isNotNull)
          .select(col(idCol).as("id"),
            graft.functions.PngDecode.dhashDecoded(col(payloadCol)).as("ph"))
          .filter(col("ph").isNotNull)) { hashed =>
        // ONE meta value per screen (memoized per path — the
        // sidecar read happens once per JVM, not per micro-batch;
        // the getter heals the swap crash window before its first
        // read): the in-batch dominance pass below must band with
        // the SAME distance the index probe uses
        val maxDistance =
          graft.ops.Dedup.phashIndexMaxDistance(spark, indexPath)
        // `maxBucket` defaults to UNLIMITED: an admission screen must
        // not trade recall silently — a dropped hot bucket would
        // ADMIT matched media, and each wrong admission grows that
        // bucket further (self-reinforcing). The cost of the default
        // is per-batch probe work ∝ batch size × the HOTTEST index
        // bucket, which grows with the ingested corpus under
        // boilerplate-alike media: a long-lived screen facing that
        // skew should pass a bound here (accepting the documented
        // recall trade on those buckets) or route such media through
        // exact dedup first.
        // no distinct: left_anti ignores build-side duplicates, and the
        // probe's per-id fan-out is banding-bounded — the dedup was one
        // whole exchange+aggregate per micro-batch for nothing (r13)
        val matchedIds = graft.ops.Dedup
          .probePhashSignaturesAt(spark, indexPath, hashed, maxDistance,
            maxBucket = maxBucket, hashKind = graft.ops.Dedup.DhashHashKind)
          .select(col("batch_id").as("id"))
        // pairwise dominance via the band pair machinery: every (a < b)
        // within-distance pair dominates b (same maxBucket policy as the
        // index probe above)
        admitUndominated(hashed, matchedIds, afterIndex => graft.ops.Dedup
            .simhashPairs(afterIndex, "id", "ph", maxDistance, maxBucket = maxBucket)
            .select(col("id_b").as("id")), outPath)(
          graft.ops.Dedup.appendPhashSignatures(_, indexPath,
            graft.ops.Dedup.DhashHashKind))
      }
    }

  /** Continuous ENTITY-RESOLUTION admission screen over a persisted
    * deletion-variant index ([[graft.ops.FuzzyJoin.writeFuzzyIndex]]) —
    * the master-data ingest loop: each micro-batch's names probe the
    * index at the STORED depth (any match within Levenshtein ≤ depth →
    * a spelling of an already-known entity → rejected), then screen
    * IN-batch by pairwise dominance ([[admitUndominated]]: a row drops
    * iff a SMALLER-id batch-mate is within depth). Survivors append
    * `(id, name)` to the admitted feed and THEN their deletion variants
    * to the index. Later batches screen against the GROWN catalog, so a
    * typo of an entity admitted two batches ago is rejected. Ordering
    * and replay: [[admit]]; a replay after the absorb is rejected, not
    * re-admitted: its probe matches the survivors' own appended rows
    * (the r12 screen self-match semantics). Null names are dropped
    * (nothing to resolve). */
  def streamingEntityScreen(stream: DataFrame, idCol: String,
      nameCol: String, indexPath: String, outPath: String,
      checkpoint: String): StreamingQuery =
    screen(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      persisted(batch.filter(col(nameCol).isNotNull)
          .select(col(idCol).as("id"), col(nameCol).as("name"))) { named =>
        // stored depth is memoized per JVM (one sidecar read per
        // screen, not per micro-batch) and the getter heals the swap
        // crash windows before its first read
        val depth = graft.ops.FuzzyJoin.readFuzzyMeta(spark, indexPath)
        // no distinct: left_anti ignores build-side duplicates (the
        // media-screen rationale — one fewer exchange per micro-batch)
        val matched = graft.ops.FuzzyJoin
          .probeFuzzyIndex(spark, indexPath, named, "id", "name", depth)
          .select(col("id"))
        admitUndominated(named, matched, afterIndex => graft.ops.FuzzyJoin.fuzzyJoin(
              afterIndex.select(col("id").as("__ida"), col("name").as("__na")),
              afterIndex.select(col("id").as("__idb"), col("name").as("__nb")),
              "__ida", "__na", "__idb", "__nb", maxDist = depth)
            .filter(col("__ida") < col("__idb"))
            .select(col("__idb").as("id")), outPath)(
          graft.ops.FuzzyJoin.appendToFuzzyIndex(spark, indexPath, _, "id", "name"))
      }
    }

  /** Continuous distribution-drift telemetry over a persisted histogram
    * index ([[graft.ops.Sketch.writeHistIndex]]): each micro-batch is
    * sketched with the index's OWN stored subBits, scored against the
    * CURRENT index content via [[graft.ops.Sketch.histDistance]]
    * (per-key total-variation — exact, transcendental-free), the
    * `(run_id, batch_id, key, tv)` rows append to the telemetry feed,
    * and THEN the batch's sketch is absorbed into the index — so batch
    * k scores against seed + batches 0..k−1: the production "alert when
    * today's corpus stops looking like yesterday's" loop. Keys absent
    * from the batch but present in the reference (and vice versa) score
    * 1.0 — vanishing is drift too.
    *
    * Ordering and replay: [[admit]], with the telemetry as the feed.
    * The absorb is EXACTLY-once ([[graft.ops.Sketch.publishSegmentOnce]]
    * with tag `runId-batchId`): histogram counts are not idempotent
    * under re-append, and a replay that had first folded the batch into
    * its own reference would bias tv toward 0, the one failure a drift
    * alarm must not have. A crash between the two writes replays as a
    * duplicate telemetry row with IDENTICAL content (same batch scored
    * against the same pre-absorb reference) — downstream dedups by
    * (run_id, batch_id, key). A replayed batch whose segment is already
    * in the index skips the WHOLE body: re-scoring against a reference
    * that holds the batch's own counts would emit a conflicting
    * biased-low telemetry row, so a crash after both writes replays as a
    * pure no-op. Empty micro-batches are skipped: "no data arrived" is
    * not "a corpus where every key vanished".
    *
    * `runId` must be unique per stream RUN (it prefixes segment tags):
    * restarting from the same checkpoint reuses batch ids, which the
    * exactly-once guard requires; a NEW run over a new checkpoint
    * restarts batch ids at 0 and needs a fresh runId to not collide. */
  def streamingDriftScreen(stream: DataFrame, keyCol: String, valueCol: String,
      indexPath: String, telemetryPath: String, checkpoint: String,
      runId: String): StreamingQuery =
    screen(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val tag = s"$runId-$batchId"
      if (!graft.ops.Sketch.segmentPublished(spark, indexPath, tag) &&
          !batch.isEmpty) {
        val subBits = graft.ops.Sketch.readHistMeta(spark, indexPath) // heals
        // the telemetry write runs — and fully materializes its lazy
        // read of the index — BEFORE the absorb, so tv always scores
        // against the pre-absorb reference
        admit(graft.ops.Sketch.histSketch(
            batch.select(col(keyCol), col(valueCol)), keyCol, valueCol, subBits),
          telemetryPath,
          sketch => graft.ops.Sketch.histDistance(sketch, spark.read.parquet(indexPath))
            .select(lit(runId).as("run_id"), lit(batchId).as("batch_id"),
              col("key"), col("tv"))) { sketch =>
          val _ = graft.ops.Sketch.publishSegmentOnce(sketch, indexPath, tag)
        }
      }
    }

  /** Continuous CROSS-CORPUS quality screen over a persisted LM index
    * ([[graft.ops.Lm.writeLmIndex]]): each micro-batch's docs are
    * scored against the REFERENCE bigram model (mean P(w2|w1) under
    * reference counts, unseen → 0 — [[graft.ops.Lm.scoreWithLm]]) and
    * docs reading sufficiently like the reference (`lm_score ≥
    * minScore`) append to the admitted feed with their scores. This is
    * the CCNet crawl loop's production shape: the reference corpus is
    * paid for once at index-write time; each crawl batch costs two
    * joins against the bounded model rows.
    *
    * The model is STATIC by design — folding admitted docs back into
    * the reference would make admission order-dependent across batches
    * and replay-biased (the e17 suppressed-alarm class; an adaptive
    * variant needs per-batch exactly-once segment machinery the
    * one-table LM artifact deliberately doesn't have). With a static
    * model the screen is a pure per-batch function: its single append
    * is idempotent in CONTENT, so a crash mid-batch replays as
    * at-least-once duplicate rows with identical values — downstream
    * dedups by id — never as loss or score drift. Null text is dropped
    * (scoreWithLm already drops sub-2-token docs: no bigrams to
    * judge). */
  def streamingLmScreen(stream: DataFrame, idCol: String, textCol: String,
      lmPath: String, outPath: String, minScore: Double,
      checkpoint: String): StreamingQuery =
    screen(stream, checkpoint) { (batch, _) =>
      graft.ops.Lm.scoreWithLm(batch.sparkSession, lmPath,
          batch.filter(col(textCol).isNotNull), idCol, textCol)
        .filter(col("lm_score") >= minScore)
        .write.mode("append").parquet(outPath)
    }

  /** Streaming DSIR importance screen: each micro-batch is scored
    * against a persisted importance model
    * ([[graft.ops.Importance.scoreWithModel]]) and docs whose MEAN
    * per-gram weight clears `(minNum/minDen)·scale` land in the
    * admitted feed — `score·minDen > n_grams·scale·minNum`, all exact
    * longs (keep `n_grams·scale·minNum` under 2⁶³: the batch's longest
    * doc times the threshold terms). No-gram docs never clear (0 > 0).
    *
    * The model is STATIC by design, like [[streamingLmScreen]]: an
    * adaptive variant would make admission order-dependent and
    * replay-biased (the e17 class). The screen is a pure per-batch
    * function — crash replay = at-least-once duplicates with identical
    * values, never loss or drift. */
  def streamingImportanceScreen(stream: DataFrame, idCol: String,
      textCol: String, modelPath: String, outPath: String, scale: Long,
      minNum: Long, minDen: Long,
      checkpoint: String): StreamingQuery = {
    require(minDen >= 1L, s"streamingImportanceScreen: minDen=$minDen must be >= 1")
    screen(stream, checkpoint) { (batch, _) =>
      graft.ops.Importance.scoreWithModel(batch.sparkSession, modelPath,
          batch.filter(col(textCol).isNotNull), idCol, textCol, scale)
        .filter(col("score") * lit(minDen) >
          col("n_grams") * lit(scale) * lit(minNum))
        .write.mode("append").parquet(outPath)
    }
  }

  /** Stream-static enrichment join: every micro-batch joins against the
    * static dimension frame (broadcast — no stream-side shuffle, no join
    * state to checkpoint; the classic fact-stream × dim-table shape).
    * The static side is re-planned per batch, so a dim table backed by
    * files picks up new FILES but joins each batch consistently. */
  def staticEnrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "inner")

  /** Session windows (gap-based) — streaming-capable `session_window`. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** Batch sessionization via lag: a new session starts when the gap to
    * the previous event exceeds `gapMinutes`. Exact-arithmetic (micros)
    * so it is oracle-checkable. Returns per-user session summary. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val flagged = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
    flagged
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Continuous SEMANTIC embedding admission screen over a persisted
    * JL candidate index ([[graft.ops.Similarity.writeJlIndex]]) — the
    * embedding-space sibling of [[streamingMediaScreen]] for the
    * SemDeDup-style ingest loop: each micro-batch's vectors are
    * screened against the index (any candidate neighbor with cosine ≥
    * `threshold` → a semantic near-dup of already-ingested data →
    * rejected), then screened IN-batch by same-bucket dominance
    * ([[admitUndominated]]: a row drops iff a SMALLER-id batch-mate in
    * its sign bucket has cosine ≥ threshold). Survivors append `(id, v)`
    * to the admitted feed and THEN their full projected rows to the
    * index. Ordering and replay: [[admit]]; vector re-append is inert
    * because the probe collapses duplicate index rows, and a replay
    * after the absorb is rejected, not re-admitted: the probe MATCHES
    * the batch's own appended rows (equal-id index rows are not
    * excluded on the screen path — see
    * [[graft.ops.Similarity.jlMatchedIds]]); batch and index ids share
    * one id space by contract.
    *
    * MATCH SCOPE IS STATED, NOT SILENT (the r9 screen-recall rule,
    * honestly inverted): the index probe sees the multi-probed-bucket
    * candidate neighborhood ([[graft.ops.Similarity.jlMatchedIds]])
    * and in-batch pairs are same-bucket — the SemDeDup cluster-scoped
    * semantics. A true near-dup outside that scope is ADMITTED; this
    * is the documented JL trade (contrast the phash screen's
    * exhaustive pigeonhole banding). Null ids / null vectors are
    * dropped (nothing to identify), like the media screen's null
    * payloads. */
  def streamingEmbeddingScreen(stream: DataFrame, idCol: String,
      vecCol: String, indexPath: String, outPath: String,
      checkpoint: String, threshold: Double,
      candidates: Int = 16): StreamingQuery =
    screen(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val m = graft.ops.Similarity.readJlMetaCached(spark, indexPath)
      // project ONCE per batch (id, v, p, jb, nv) and share it across
      // the index probe, the dominance pass and the index append —
      // the first cut re-ran the projection kernel per consumer.
      // dropDuplicates on id, never a raise: an at-least-once source
      // legitimately replays rows within a batch, and a checkpointed
      // foreachBatch would replay a raising batch FOREVER (the screen
      // decision is identical per id, so dedup loses nothing — the
      // top-k mixed-rank rationale behind jlTopKIndexed's typed raise
      // does not apply to a screen)
      persisted(graft.ops.Similarity.jlProjected(
          batch.filter(col(idCol).isNotNull && col(vecCol).isNotNull),
          idCol, vecCol, m)
        .dropDuplicates("id")) { rows =>
        val matched = graft.ops.Similarity.jlMatchedIdsProjected(
          spark, indexPath, rows, threshold, candidates)
        admitUndominated(rows, matched.select(col("batch_id").as("id")),
            afterIndex => graft.ops.Similarity.jlBatchDominatedIds(afterIndex, threshold)
              .select(col("batch_id").as("id")),
            outPath, _.select(col("id"), col("v")))(
          graft.ops.Similarity.appendToJlIndexProjected(_, indexPath))
      }
    }
}

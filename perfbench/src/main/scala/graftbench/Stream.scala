package graftbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.FakeKafkaSource
import graft.streaming._

/** A bulk as the sink delivered it, timed on the benchmark clock. */
final case class Bulk(index: String, docs: Int, start: Double, end: Double)

/** Timing wrapper over [[InMemoryTransport]]. An object, not a class: the
  * sink is serialized to executor threads, and a class instance's counters
  * would be copies. */
object TimingTransport extends BulkTransport {
  @transient lazy val clock = new Tracer(false)
  val bulks = new ConcurrentLinkedQueue[Bulk]()

  override def bulkIndex(index: String, docs: Seq[(String, String)]): Unit = {
    val t0 = clock.now()
    InMemoryTransport.bulkIndex(index, docs)
    bulks.add(Bulk(index, docs.size, t0, clock.now()))
  }
}

/** Every progress update of every query, through the listener, not
  * `recentProgress` (that buffer keeps only the last 100 updates). */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val terminated = mutable.HashMap.empty[java.util.UUID, CountDownLatch]

  private def latch(id: java.util.UUID): CountDownLatch =
    synchronized(terminated.getOrElseUpdate(id, new CountDownLatch(1)))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    latch(e.id).countDown()

  /** Block until the query's terminated event (posted after all of its
    * progress events) has been delivered. */
  def awaitTerminated(id: java.util.UUID): Unit = latch(id).await(30, TimeUnit.SECONDS)

  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** The generated wire log of one run and what its check expects. */
final case class WireLog(records: IndexedSeq[(String, Long)], duplicates: Int,
                         poison: Int, validIds: Map[Long, (Long, String, Double)])

/** The KSE pipeline under Structured Streaming: a log of wire-JSON events
  * preloaded into the Kafka double, drained at a fixed
  * `maxOffsetsPerTrigger` by two queries run one after the other.
  *
  *  - index:  parse/valid → schema guard → exactly-once dedup → ES, one
  *            doc per event (a large dedup state, many docs);
  *  - rollup: parse/valid → schema guard → hourly tumbling window → ES,
  *            one doc per hour × type (a tiny aggregate state, few docs).
  *
  * They are two queries because chaining DedupStage.exactOnce into
  * WindowedAggPipeline.tumbling fails at start: both stages call
  * withWatermark("ets", …), and Spark rejects redefining a watermark. */
final class StreamWorkload(dataDir: String, seed: Long) extends Workload {
  import StreamWorkload._

  val keys: Seq[String] = Seq("index", "rollup")

  private var log: WireLog = _
  private var rollupRef: Map[String, (Long, Double, Long)] = _
  private val listeners = mutable.HashMap.empty[SparkSession, ProgressRecorder]
  private var passNo = 0

  private def listener(spark: SparkSession): ProgressRecorder =
    listeners.getOrElseUpdate(spark, {
      val l = new ProgressRecorder
      spark.streams.addListener(l)
      l
    })

  override def prepare(ctx: Ctx): Unit = {
    log = generate(ctx.spark, dataDir, seed)
    FakeKafkaSource.publish(Topic, log.records)
    ctx.log(s"generated ${log.records.size} records")
  }

  /** Each query drains the whole log once (a shorter warm-up left the
    * queries speeding up through the timed passes). */
  override def warmUp(ctx: Ctx): Seq[(String, Double)] = {
    val warm = keys.map { q =>
      val t0 = System.nanoTime()
      drain(ctx, q, Topic, s"warm-$q-${java.util.UUID.randomUUID()}")
      q -> (System.nanoTime() - t0) / 1e9
    }
    InMemoryTransport.reset()
    TimingTransport.bulks.clear()
    warm
  }

  override def unexercised: Seq[String] = BatchWorkload.layerNames

  private def source(spark: SparkSession, topic: String): DataFrame =
    spark.readStream.format(classOf[FakeKafkaSource].getName)
      .option("kafka.bootstrap.servers", "unused")
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", MaxOffsetsPerTrigger.toString)
      .load()

  /** parse/valid → schema guard, keeping the clean rows. */
  private def front(raw: DataFrame): DataFrame = {
    val parsed = EventParser.valid(EventParser.parse(raw))
      .withColumn("ms", unix_millis(col("ets")))
    SchemaGuardStage.split(SchemaGuardStage.tag(parsed))._1
  }

  private def plan(q: String, raw: DataFrame): (DataFrame, String) = q match {
    case "index" =>
      (DedupStage.exactOnce(front(raw), "event_id")
        .select("event_id", "ets", "user_id", "event_type", "value", "props"), "event_id")
    case "rollup" =>
      (WindowedAggPipeline.tumbling(front(raw))
        .withColumn("doc_key", concat_ws("|",
          date_format(col("window_start"), "yyyy-MM-dd'T'HH:mm"), col("event_type"))), "doc_key")
  }

  /** Start query `q` on `topic`, block until the log is drained, stop it.
    * Returns (wall seconds from start() to drained, progress updates). */
  private def drain(ctx: Ctx, q: String, topic: String, index: String)
      : (Double, Seq[StreamingQueryProgress]) = {
    val spark = ctx.spark
    val l = listener(spark)
    val (df, idCol) = plan(q, source(spark, topic))
    val ckpt = s"${ctx.workDir}/ckpt/$index"
    val t0 = System.nanoTime()
    val query = df.writeStream.queryName(q).outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreach(new ElasticsearchSink(index, idCol, BulkSize, TimingTransport))
      .start()
    try query.processAllAvailable()
    finally query.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    l.awaitTerminated(query.id)
    query.exception.foreach(e => throw e)
    (wall, l.of(query.runId))
  }

  override def pass(ctx: Ctx, order: Seq[Int], passSpan: Int): PassResult = {
    val spark = ctx.spark
    if (rollupRef == null) rollupRef = rollupReference(spark, log)
    passNo += 1
    val res = new PassResult
    val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val corrupt = countCorrupt(spark, log)
    layers("parse.corrupt_rows") = corrupt.toDouble
    order.map(keys).foreach { q =>
      val index = s"$q-$passNo-${java.util.UUID.randomUUID()}"
      val span = ctx.tracer.open(passSpan, "query", q)
      TimingTransport.bulks.clear()
      // jobs before the query (reference and corrupt-row counts) are not its own
      if (ctx.tracer.enabled) ctx.recorder.drain(spark.sparkContext)
      val outcome = try Right(drain(ctx, q, Topic, index)) catch { case e: Throwable => Left(e) }
      ctx.tracer.close(span)
      outcome match {
        case Left(e) =>
          ctx.log(s"query $q failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          res.op(q, 0.0, ok = false)
        case Right((wall, progress)) =>
          val bulks = TimingTransport.bulks.asScala.filter(_.index == index).toSeq
          val triggers = progress.filter(_.numInputRows > 0)
          res.samplesMs ++= triggers.map(_.batchDuration.toDouble)
          recordLayers(layers, q, progress, triggers, bulks)
          if (ctx.tracer.enabled) {
            traceQuery(ctx.tracer, span, progress, bulks)
            val (jobs, stages, delayMs) = ctx.recorder.drain(spark.sparkContext)
            ctx.recorder.emitSpans(jobs, stages, span)
            Layers.addScheduler(layers, jobs.size, stages, delayMs)
          }
          var ok = check(ctx, q, InMemoryTransport.indexed(index))
          if (q == "index" && layers("dedup.dropped_rows") != log.duplicates) {
            ctx.log(s"dedup dropped ${layers("dedup.dropped_rows")} rows, injected ${log.duplicates}")
            ok = false
          }
          if (q == "index" && corrupt != log.poison) {
            ctx.log(s"parser flagged $corrupt corrupt rows, injected ${log.poison}")
            ok = false
          }
          if (layers(s"state.$q.dropped_by_watermark") != 0) {
            ctx.log(s"$q dropped ${layers(s"state.$q.dropped_by_watermark")} rows by watermark")
            ok = false
          }
          res.op(q, wall, ok)
      }
      InMemoryTransport.stores.remove(index)
    }
    res.layers ++= layers
    res
  }

  private def recordLayers(m: mutable.Map[String, Double], q: String,
                           all: Seq[StreamingQueryProgress],
                           triggers: Seq[StreamingQueryProgress], bulks: Seq[Bulk]): Unit = {
    def p50(xs: Seq[Double]) = Main.percentile(xs, 0.5)
    def phase(name: String) = p50(triggers.map(p =>
      Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)))
    m(s"stream.$q.triggers") = triggers.size
    m(s"stream.$q.trigger_p50_ms") = p50(triggers.map(_.batchDuration.toDouble))
    m(s"stream.$q.add_batch_ms") = phase("addBatch")
    m(s"stream.$q.query_planning_ms") = phase("queryPlanning")
    m(s"stream.$q.wal_commit_ms") = phase("walCommit")
    m(s"stream.$q.commit_offsets_ms") = phase("commitOffsets")
    m(s"stream.$q.latest_offset_ms") = phase("latestOffset")
    m(s"source.$q.backlog_events") = p50(triggers.map(p =>
      log.records.size - p.sources.head.endOffset.trim.toDouble))
    val ops = all.flatMap(_.stateOperators.headOption)
    m(s"state.$q.rows_total") = (0L +: ops.map(_.numRowsTotal)).max
    m(s"state.$q.memory_mb") = (0L +: ops.map(_.memoryUsedBytes)).max / 1048576.0
    m(s"state.$q.commit_ms") = p50(triggers.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))
    m(s"state.$q.rows_removed") = ops.map(_.numRowsRemoved).sum
    m(s"state.$q.dropped_by_watermark") = ops.map(_.numRowsDroppedByWatermark).sum
    if (q == "index") m("dedup.dropped_rows") = ops.map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.toLong).getOrElse(0L)).sum
    m(s"sink.$q.bulks") = bulks.size
    m(s"sink.$q.docs") = bulks.map(_.docs).sum
    m(s"sink.$q.bulk_ms") = bulks.map(b => b.end - b.start).sum
  }

  /** query → trigger → durationMs phases → bulk. The progress gives each
    * phase's duration only, so phases are laid end to end in execution
    * order from the trigger's start. */
  private def traceQuery(tracer: Tracer, querySpan: Int,
                         progress: Seq[StreamingQueryProgress], bulks: Seq[Bulk]): Unit = {
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + p.batchDuration
      val trig = tracer.add(querySpan, "trigger", s"batch ${p.batchId}", start, end,
        Map("rows" -> p.numInputRows.toDouble))
      var t = start
      phases.foreach { ph =>
        Option(p.durationMs.get(ph)).map(_.toDouble).foreach { d =>
          val id = tracer.add(trig, "phase", ph, t, t + d)
          if (ph == "addBatch")
            bulks.filter(b => b.start >= t && b.start < t + d).foreach { b =>
              tracer.add(id, "bulk", "bulk", b.start, b.end, Map("docs" -> b.docs.toDouble))
            }
          t += d
        }
      }
    }
  }

  private def check(ctx: Ctx, q: String, docs: Map[String, String]): Boolean = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ok = q match {
      case "index" =>
        docs.size == log.validIds.size && docs.forall { case (id, json) =>
          val n = mapper.readTree(json)
          log.validIds.get(id.toLong).contains((n.get("user_id").asLong,
            n.get("event_type").asText, n.get("value").asDouble))
        }
      case "rollup" =>
        docs.size == rollupRef.size && docs.forall { case (id, json) =>
          val n = mapper.readTree(json)
          rollupRef.get(id).exists { case (cnt, total, users) =>
            n.get("n").asLong == cnt && n.get("approx_users").asLong == users &&
              math.abs(n.get("total_value").asDouble - total) <= 1e-9 * math.max(1.0, math.abs(total))
          }
        }
    }
    if (!ok) ctx.log(s"$q sink output differs from the reference (${docs.size} docs)")
    ok
  }
}

object StreamWorkload {
  /** The per-layer metrics a stream pass records. */
  val layerNames: Seq[String] = Seq("index", "rollup").flatMap { q =>
    Seq("triggers", "trigger_p50_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
      "commit_offsets_ms", "latest_offset_ms").map(s"stream.$q." + _) ++
      Seq(s"source.$q.backlog_events") ++
      Seq("rows_total", "memory_mb", "commit_ms", "rows_removed", "dropped_by_watermark")
        .map(s"state.$q." + _) ++
      Seq("bulks", "docs", "bulk_ms").map(s"sink.$q." + _)
  } ++ Seq("parse.corrupt_rows", "dedup.dropped_rows")

  val Topic = "kse-events"
  /** Events taken from the start of the sf0.1 events table. */
  val Events = 2000
  val MaxOffsetsPerTrigger = 500
  val BulkSize = 500
  val Poison = 10
  val DupRate = 0.05
  val OutOfOrderRate = 0.02
  /** Re-deliveries and out-of-order arrivals land at most this late, well
    * inside both watermarks (dedup 1 hour, rollup 10 minutes). */
  val MaxLatenessMicros: Long = 4L * 60 * 1000 * 1000

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  private def wire(id: Long, tsMicros: Long, user: Long, etype: String,
                   value: Double, props: String): String = {
    val ts = tsFmt.format(java.time.Instant.EPOCH.plusNanos(tsMicros * 1000))
    s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$etype",""" +
      s""""value":$value,"props":${Json.str(props)}}"""
  }

  /** Wire log in arrival order: the table's events in event-time order,
    * plus seeded re-deliveries, out-of-order arrivals and poison pills,
    * ended by a sentinel event a day later whose watermark closes every
    * earlier window. */
  def generate(spark: SparkSession, dataDir: String, seed: Long): WireLog = {
    val rows = spark.read.parquet(s"$dataDir/events.parquet")
      .orderBy("event_id").limit(Events)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .collect()
    val rng = new scala.util.Random(seed)
    // (arrival key in micros, tie-break, payload, event micros)
    val out = mutable.ArrayBuffer.empty[(Long, Int, String, Long)]
    var dups = 0
    rows.zipWithIndex.foreach { case (r, i) =>
      val ts = r.getLong(1)
      val payload = wire(r.getLong(0), ts, r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))
      def late = ts + 1 + (rng.nextDouble() * MaxLatenessMicros).toLong
      val arrive = if (rng.nextDouble() < OutOfOrderRate) late else ts
      out += ((arrive, 2 * i, payload, ts))
      if (rng.nextDouble() < DupRate) { out += ((late, 2 * i + 1, payload, ts)); dups += 1 }
    }
    (1 to Poison).foreach { k =>
      val at = rows(rng.nextInt(rows.length)).getLong(1)
      out += ((at, -k, s"""{"event_id":${1000000000 + k},"ts":"2024-01-""", at))
    }
    val last = rows.last
    val sentinelTs = last.getLong(1) + 86400L * 1000 * 1000
    val sentinelId = last.getLong(0) + 1
    val sorted = out.sortBy(r => (r._1, r._2)).map(r => (r._3, r._1 / 1000)) :+
      ((wire(sentinelId, sentinelTs, 0L, "view", 0.0, "{}"), sentinelTs / 1000))
    val valid = rows.map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3), r.getDouble(4)))).toMap +
      (sentinelId -> ((0L, "view", 0.0)))
    WireLog(sorted.toIndexedSeq, dups, Poison, valid)
  }

  private def batchFrame(spark: SparkSession, log: WireLog): DataFrame = {
    import spark.implicits._
    log.records.map(_._1).toDF("value")
  }

  /** Rows the parser flags corrupt, counted by running EventParser over
    * the same log as a batch. */
  def countCorrupt(spark: SparkSession, log: WireLog): Long =
    EventParser.parse(batchFrame(spark, log)).filter(col("corrupt").isNotNull).count()

  /** Expected rollup docs: a batch tumbling window over the same events,
    * without the sentinel's still-open window. */
  def rollupReference(spark: SparkSession, log: WireLog): Map[String, (Long, Double, Long)] = {
    val parsed = EventParser.valid(EventParser.parse(batchFrame(spark, log)))
      .withColumn("ms", unix_millis(col("ets")))
    val clean = SchemaGuardStage.split(SchemaGuardStage.tag(parsed))._1
    val maxEts = clean.agg(max("ets")).head().getTimestamp(0)
    WindowedAggPipeline.tumbling(clean)
      .filter(col("window_end") <= lit(maxEts))
      .select(concat_ws("|", date_format(col("window_start"), "yyyy-MM-dd'T'HH:mm"),
        col("event_type")), col("n"), col("total_value"), col("approx_users"))
      .collect().map((r: Row) => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
  }
}

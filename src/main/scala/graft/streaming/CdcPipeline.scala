package graft.streaming

import graft.catalog.{SchemaCatalog, TableId}
import graft.cdc.{CdcOps, CdcReplay, CdcSqlFragments, DebeziumAdapter}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The streaming shape of the engine (SURVEY §3.1):
  *
  * {{{
  * spark.readStream(cdc replay source)
  *   → CdcReplay.fromEvents → admit(T2)            // declarative plan
  *   → foreachBatch {                               // driver-side batch loop
  *       route data vs DDL (T19)
  *       DDL → SchemaCatalog.applyDdl (T20-T24; micro-batch boundary = the
  *             reference's flush-barrier before schema changes)
  *       data → whitelist/retarget/blacklist/explode (T3-T8)
  *            → broadcast join against the catalog registry (T16-T18)
  *            → envelope (T9-T15), repartition by topic + sort by pos_key
  *              (strict per-topic order — SURVEY §7.4 risk 3)
  *            → staged-rename publish of batch=<id> (T26)
  *       state mirror: lastBatchId + catalog snapshot + per-topic offsets,
  *       written atomically (T25/T27); batch replays are skipped by
  *       batchId comparison — the reference's offset-dedupe (T31).
  *     }
  * }}}
  *
  * Both ingress paths ([[start]] replay and [[startWire]] Debezium) feed
  * ONE batch committer ([[runCommitted]]): state load and catalog
  * restore, the batchId skip, micro-batch persist, the staged-rename
  * publish, position merge and state save live there once.
  *
  * Exactly-once: Spark's checkpoint replays an uncommitted batch after a
  * crash. Two mechanisms make the replayed side effects idempotent:
  * committed batches are skipped by the state mirror's batchId check
  * (reference offset-dedupe, components/recovery_handler.py:160-168), and
  * an UNcommitted batch (crash before saveState) republishes its own
  * `batch=<id>` directory: the frames are written into a hidden staging
  * directory and ONE rename publishes them, after clearing whatever a
  * crashed attempt left in either place — so a reader never sees a
  * partial batch and the parquet sink never holds duplicate rows. Catalog
  * replay is idempotent too: the in-memory catalog dies with the crash,
  * the restart restores the pre-batch snapshot, and fingerprint-keyed
  * registration re-mints the same schema ids (proved by the crash matrix
  * in CdcPipelineSpec, mirroring reference failure_recovery_test.py:493+).
  */
object CdcPipeline {

  /** Input schema of the replay source: the events table with ts already
    * normalized to µs (see graft.Tables.events). */
  val replaySchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("ts_us", LongType)))

  /** Payload struct every data table registers on first sight (schema-on-
    * miss; reference data_event_handler.py:40-52 fetches SHOW CREATE on a
    * cache miss). */
  private val payloadStruct = StructType(Seq(
    StructField("payload_id", LongType),
    StructField("payload_value", DoubleType),
    StructField("payload_k", IntegerType)))

  final case class State(
      lastBatchId: Long, catalogJson: String, cleanShutdown: Boolean,
      /** Saved stream coordinate (reference GlobalEventState.position,
        * models/global_event_state.py:37-92), reconstructible via
        * [[graft.cdc.Position.construct]]. Spark's checkpoint owns the
        * actual source resume; this mirror is the app-visible position the
        * reference exposes for monitoring and catch-up bounds. */
      position: Map[String, String] = Map.empty)

  /** Per-micro-batch stats surfaced by the `observe` node (T37 counters +
    * T5 lag beacon; reference parse_replication_stream_internal.py:47-88
    * flushes per-table counters, simple_binlog_stream_reader_wrapper.py:
    * 81-124 reports the heartbeat-lag gauge). */
  final case class BatchStats(
      batchId: Long, events: Long, heartbeats: Long,
      maxTsUs: Option[Long], perTable: Map[String, Long]) {
    /** Replication delay in seconds at `nowUs` (alerting threshold in the
      * reference is 600 s; config.yaml:32). */
    def lagSeconds(nowUs: Long): Option[Double] =
      maxTsUs.map(t => (nowUs - t) / 1e6)
  }

  private def stateFile(stateDir: String) = Paths.get(stateDir, "state.json")
  private def lockFile(stateDir: String) = Paths.get(stateDir, "lock")

  def loadState(stateDir: String): Option[State] = {
    val f = stateFile(stateDir)
    if (!Files.exists(f)) None
    else {
      implicit val fmt: Formats = DefaultFormats
      val root = JsonMethods.parse(Files.readString(f))
      val pos = (root \ "position") match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.extract[String] }.toMap
        case _ => Map.empty[String, String]
      }
      Some(State((root \ "lastBatchId").extract[Long],
        JsonMethods.compact(root \ "catalog"),
        (root \ "cleanShutdown").extractOrElse[Boolean](true),
        pos))
    }
  }

  /** Write `state.json` atomically (temp file + atomic move), with the
    * keys [[loadState]] reads. */
  private def saveState(stateDir: String, s: State): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val tmp = Paths.get(stateDir, ".state.json.tmp")
    Files.writeString(tmp, JsonMethods.compact(JObject(
      "lastBatchId" -> JLong(s.lastBatchId),
      "cleanShutdown" -> JBool(s.cleanShutdown),
      "position" -> JObject(s.position.toList.sorted.map { case (k, v) => k -> JString(v) }),
      "catalog" -> JsonMethods.parse(s.catalogJson))))
    Files.move(tmp, stateFile(stateDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** T34 — rewrite the state file with the clean-shutdown flag set
    * (reference saves GlobalEventState with is_clean_shutdown=True on
    * graceful stop; base_parse_replication_stream.py:233-267). */
  private def markCleanShutdown(stateDir: String): Unit =
    loadState(stateDir).foreach(s => saveState(stateDir, s.copy(cleanShutdown = true)))

  /** T35 — single-instance lock with ZK-ephemeral-style stale takeover
    * (the reference holds a ZooKeeper lock for the process lifetime;
    * base_parse_replication_stream.py:124-132). The lock carries a
    * `pid:runId` liveness token: a lock from THIS process is live while
    * its streaming query is active; a lock from another process is live
    * while that pid exists. A dead holder's lock is stolen. */
  /** Tokens this JVM currently holds (provisional or runId form): a
    * concurrent starter in the SAME process must see an in-flight
    * provisional token as LIVE — it has no runId yet, so the
    * active-query check alone would misjudge it stale. */
  private val heldTokens = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def acquireLock(spark: SparkSession, stateDir: String, runId: String): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val f = lockFile(stateDir)
    // atomic CREATE_NEW, not check-then-write: two starters racing for a
    // dead holder's lock must not both win.
    def tryCreate(): Boolean =
      try {
        Files.write(f, lockToken(runId).getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        heldTokens.add(runId)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      if (tryCreate()) return
      // the holder may release between our failed create and this read
      val holderOpt =
        try Some(Files.readString(f).trim)
        catch { case _: java.nio.file.NoSuchFileException => None }
      holderOpt match {
        case None => () // freed meanwhile — loop back to tryCreate
        case Some(holder) =>
          val (holderPid, holderRun) = holder.split(":", 2) match {
            case Array(p, r) => (p.toLongOption, r)
            case _ => (None, holder)
          }
          val selfPid = ProcessHandle.current().pid()
          val live = holderPid match {
            case Some(p) if p == selfPid =>
              heldTokens.contains(holderRun) ||
                spark.streams.active.exists(_.runId.toString == holderRun)
            case Some(p) =>
              ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false)
            case None => // legacy runId-only token
              heldTokens.contains(holderRun) ||
                spark.streams.active.exists(_.runId.toString == holderRun)
          }
          if (live) throw new IllegalStateException(
            s"another pipeline instance ($holder) holds the lock on $stateDir")
          // stale: steal by atomically MOVING the observed lock aside —
          // only one stealer's move can succeed, so a second stealer can
          // never delete the winner's fresh lock (a plain delete could)
          val aside = f.resolveSibling(
            s".lock.stale.${java.util.UUID.randomUUID().toString.take(8)}")
          try {
            Files.move(f, aside, StandardCopyOption.ATOMIC_MOVE)
            Files.deleteIfExists(aside)
          } catch {
            case _: java.nio.file.NoSuchFileException => () // other stealer won
          }
          // loop: re-attempt the create; a losing racer sees the winner live
      }
    }
    throw new IllegalStateException(s"could not acquire the lock on $stateDir")
  }

  private def lockToken(runId: String): String =
    s"${ProcessHandle.current().pid()}:$runId"

  private def releaseLock(stateDir: String, runId: String): Unit = {
    val f = lockFile(stateDir)
    try {
      if (Files.exists(f) && Files.readString(f).trim == lockToken(runId)) Files.delete(f)
    } catch { case _: java.nio.file.NoSuchFileException => () }
    heldTokens.remove(runId)
  }

  /** Start the pipeline. `replayDir` holds parquet files in [[replaySchema]];
    * new files are new binlog segments. */
  def start(
      spark: SparkSession,
      replayDir: String,
      outDir: String,
      checkpointDir: String,
      stateDir: String,
      maxFilesPerTrigger: Int = 1,
      statsSink: BatchStats => Unit = _ => (),
      /** When set, the pipeline also maintains a current-table-state
        * snapshot (the continuous t13b): per batch, the previous snapshot
        * merged with the batch's changes by max_by(pos_key), written
        * idempotently to `snap=<batchId>`. */
      materializeDir: Option[String] = None): StreamingQuery = {

    val stream = spark.readStream
      .schema(replaySchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(replayDir)

    // T37/T5 — metric node evaluated during the write job itself (no extra
    // pass over the data): event/heartbeat counters, per-table message
    // counts (fixed whitelist → one sum(when) each), and the heartbeat
    // high-water timestamp the lag gauge derives from.
    val perTableCols = CdcSqlFragments.WHITELIST.map(t =>
      sum(when(col("kind") === "data" && col("base_table") === t, 1L)
        .otherwise(0L)).as(s"n_$t"))
    val observeCols: Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("events"),
      sum(when(col("kind") === "heartbeat", 1L).otherwise(0L)).as("heartbeats"),
      max(when(col("kind") === "heartbeat", col("ts_us"))).as("hb_max_ts_us")
    ) ++ perTableCols

    val cdcStream = CdcOps.admit(CdcReplay.fromEvents(stream))
      .observe("cdc", observeCols.head, observeCols.tail: _*)

    runCommitted(spark, cdcStream, outDir, checkpointDir, stateDir, onProgress = e => {
      val m = e.progress.observedMetrics.get("cdc")
      if (m != null) statsSink(BatchStats(
        e.progress.batchId,
        m.getAs[Long]("events"),
        m.getAs[Long]("heartbeats"),
        Option(m.getAs[java.lang.Long]("hb_max_ts_us")).map(_.longValue),
        CdcSqlFragments.WHITELIST.map(t => t -> m.getAs[Long](s"n_$t")).toMap))
    }) { (batch, batchId, catalog, publish) =>
      processBatch(spark, batch, batchId, catalog, outDir, materializeDir, publish)
    }
  }

  /** Test injection point of [[runCommitted]]: called with the batch id
    * and a phase name — `typed` (DDL applied and frames built, before
    * staging), `staged` (frames staged, before the rename) and
    * `published` (renamed into place, before the state save). Throwing
    * here simulates a crash at that point of the commit protocol
    * (reference failure_recovery_test.py:493+). */
  private[streaming] var crashHook: (Long, String) => Unit = (_, _) => ()

  /** The one batch committer both ingress paths feed. In order: state
    * load and catalog restore (T30); per micro-batch, the batchId skip
    * (T31: a batch at or below the last committed id is a replay after a
    * restart whose side effects are already committed — offset-dedupe
    * parity); persist of the micro-batch; the path's own `work`, which
    * hands its frames to `publish` and returns the batch's position
    * mirror; then position merge and state save (T25/T27).
    *
    * `publish` is the staged-rename sink: it clears whatever a crashed
    * attempt left in `.batch_<id>.staging` and `batch=<id>`, appends each
    * frame topic-partitioned and pos_key-sorted (strict per-topic order —
    * SURVEY §7.4 risk 3, the same constraint Kafka's per-topic-partition
    * ordering imposes) into the DOT-PREFIXED staging directory (hidden
    * from Spark/Hadoop file listing), then ONE rename publishes
    * `batch=<id>` — rename on a local FS / HDFS is the atomic publish
    * point, so a reader listing batch directories never observes a
    * partially-written batch. Both paths hand over at least one frame
    * (the wire path's quarantine slice is always one), and a frame with
    * no rows still writes its directory, so EVERY committed batch has its
    * batch=<id> directory; a DDL-only batch publishes an empty one. */
  private def runCommitted(
      spark: SparkSession, stream: DataFrame, outDir: String,
      checkpointDir: String, stateDir: String,
      onProgress: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent => Unit = _ => ())(
      work: (DataFrame, Long, SchemaCatalog, Seq[DataFrame] => Unit) => Map[String, String])
      : StreamingQuery = {
    val catalog = new SchemaCatalog(piiTables = CdcSqlFragments.PII_TABLES.toSet)
    val saved = loadState(stateDir)
    saved.foreach(s => catalog.restore(s.catalogJson))
    var lastCommitted = saved.map(_.lastBatchId).getOrElse(-1L)
    var lastPosition = saved.map(_.position).getOrElse(Map.empty[String, String])
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def publish(batchId: Long)(frames: Seq[DataFrame]): Unit = {
      crashHook(batchId, "typed")
      val batchDir = new org.apache.hadoop.fs.Path(s"$outDir/batch=$batchId")
      val stageDir = new org.apache.hadoop.fs.Path(s"$outDir/.batch_$batchId.staging")
      fs.delete(stageDir, true)
      fs.delete(batchDir, true)
      frames.foreach(_.repartition(col("topic"))
        .sortWithinPartitions("pos_key")
        .write.mode(SaveMode.Append).parquet(stageDir.toString))
      crashHook(batchId, "staged")
      if (!fs.rename(stageDir, batchDir))
        throw new java.io.IOException(s"sink: failed to publish $stageDir -> $batchDir")
    }

    withStreamLifecycle(spark, stateDir, onProgress) {
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > lastCommitted) {
            val cached = batch.persist()
            try {
              val position = work(cached, batchId, catalog, publish(batchId))
              crashHook(batchId, "published")
              lastPosition = mergePosition(lastPosition, position)
              saveState(stateDir, State(batchId, catalog.snapshotJson,
                cleanShutdown = false, lastPosition))
              lastCommitted = batchId
            } finally cached.unpersist()
          }
          ()
        }
        .start()
    }
  }

  /** The committer's query lifecycle: acquire the instance lock
    * (T35) under a provisional token, install the termination listener
    * (T34 clean-shutdown flag + lock release + progress fan-out), build
    * the query, then swap the token for the real runId — but ONLY if we
    * still hold the lock (never clobber a token another process placed).
    * The check-then-write swap is safe because the provisional token is
    * registered in heldTokens (same-JVM checkers see it live) and a
    * cross-process steal requires this pid to be dead. */
  private def withStreamLifecycle(
      spark: SparkSession, stateDir: String,
      onProgress: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent => Unit)(
      mk: => StreamingQuery): StreamingQuery = {
    val token = java.util.UUID.randomUUID().toString
    acquireLock(spark, stateDir, token)
    @volatile var runId: String = token
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.runId.toString == runId) onProgress(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId.toString == runId) {
          if (e.exception.isEmpty) markCleanShutdown(stateDir) // T34
          releaseLock(stateDir, runId)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    val query = mk
    runId = query.runId.toString
    heldTokens.add(runId)
    val f = lockFile(stateDir)
    if (Files.exists(f) && Files.readString(f).trim == lockToken(token))
      Files.writeString(f, lockToken(runId))
    heldTokens.remove(token)
    query
  }

  /** Kafka-wire frame shape (what [[KafkaWire]] produces and a real broker
    * delivers): topic + binary key/value + headers. */
  val wireSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  /** Debezium-wire ingestion: the same micro-batch loop as [[start]],
    * sourced from a Kafka-shaped stream carrying BOTH the connector's
    * data topics (`<cluster>.<db>.<table>`) and its schema-change topic
    * (named exactly `<cluster>` — Debezium's `topic.prefix` convention).
    * A Kafka-sourced deployment needs no custom glue: per batch the
    * schema-change statements and the data rows are interleaved on the
    * PACKED BINLOG POSITION axis ([[graft.cdc.DebeziumAdapter.packedEventId]])
    * — each data row types under the catalog state at its OWN position,
    * with DDL applied between position segments (the T24 flush-barrier
    * made real inside the batch: a row BEFORE an in-batch ALTER keeps
    * the pre-ALTER column set and version, T22b parity with the replay
    * path's intervals) — then published through the same committer as
    * [[start]] ([[runCommitted]]). Debezium delete TOMBSTONES
    * (null Kafka value) are dropped by contract; unparseable records are
    * quarantined under `topic=__unparsed`; rows for tables the
    * schema-change topic has not yet created are quarantined under
    * `topic=__unregistered` rather than dropped or guessed (the
    * reference fetches SHOW CREATE on a cache miss — that needs a live
    * MySQL, so the wire path records instead). The committer's state
    * mirror (lastBatchId + catalog snapshot incl. ALTER positions +
    * binlog position) and batchId dedupe give the crash/restart contract
    * of [[start]]; the catalog restore means a restarted consumer types
    * replayed rows under the same schema versions (T22b/T30).
    *
    * Scale: the per-table loop is control-plane-bounded (#tables in the
    * batch); each table's projection is one narrow codegen'd pass, the
    * sink repartition is the only shuffle (per-topic ordering contract).
    */
  def startWire(
      spark: SparkSession,
      wireDir: String,
      cluster: String,
      outDir: String,
      checkpointDir: String,
      stateDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val stream = spark.readStream
      .schema(wireSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(wireDir)

    runCommitted(spark, stream, outDir, checkpointDir, stateDir) {
      (cached, _, catalog, publish) =>
        // ---- schema-change events, collected in binlog order
        // (control-plane-tiny: one row per DDL statement).
        val changes = DebeziumAdapter.fromSchemaChange(
          cached.filter(col("topic") === cluster))
        val changeRows = changes
          .select("cluster_name", "database_name", "ddl", "event_id")
          .collect().sortBy(_.getLong(3))

        // ---- data events. A null Kafka value is a Debezium delete
        // TOMBSTONE (compaction hint, no image, no coordinates) —
        // dropped by contract, the delete event itself already carried
        // the row. Anything else must parse; records whose payload does
        // not (null db/table after from_json) are QUARANTINED under
        // topic=__unparsed rather than crashing the control-plane loop
        // on unsortable null keys. pos_key is computed here, once per
        // record into the cache, rather than in every per-table slice.
        val parsed = DebeziumAdapter.fromDebezium(
          cached.filter(col("topic") =!= cluster && col("value").isNotNull))
          .withColumn("pos_key", CdcOps.posKey).persist()
        try {
          // a row needs identity AND coordinates to be typed: a null
          // log_file/log_pos would give a null __pos that every
          // position-segment filter silently drops
          val wellFormed = col("database_name").isNotNull &&
            col("table_name").isNotNull &&
            col("log_file").isNotNull && col("log_pos").isNotNull
          val data = parsed
            .filter(wellFormed)
            .withColumn("__pos", DebeziumAdapter.packedEventId(
              col("log_file"), col("log_pos")))
          // delete carries its image in `before` (Debezium op 'd')
          val img = when(col("message_type") === "delete",
            col("before")).otherwise(col("after"))
          val meta = Seq(col("message_type"), col("log_file"),
            col("log_pos"), col("row_idx"), col("ts_us"),
            col("transaction_id"), col("pos_key"))

          // one control-plane pass per table present in a slice, typing
          // the row image by the catalog's CURRENT per-table StructType
          // (the reference's per-table handler shape)
          def typedSlices(seg: DataFrame): Seq[((String, String), DataFrame)] =
            typedSlicesFor(catalog, cluster, seg, img, meta)

          // ---- the T24 flush-barrier made REAL inside the batch: data
          // rows type under the catalog state at THEIR OWN binlog
          // position. Rows between consecutive DDL positions type first,
          // then the DDL applies — so a row BEFORE an in-batch ALTER
          // keeps the pre-ALTER column set and version (T22b), exactly
          // like the replay path's per-position intervals. Segment count
          // is #DDLs + 1 (control-plane-bounded).
          val outs = Seq.newBuilder[((String, String), DataFrame)]
          var lower = Long.MinValue
          changeRows.foreach { ch =>
            val at = ch.getLong(3)
            outs ++= typedSlices(data.filter(
              col("__pos") >= lower && col("__pos") < at))
            catalog.applyDdl(ch.getString(0), ch.getString(1),
              ch.getString(2), atEventId = at)
            lower = at
          }
          outs ++= typedSlices(data.filter(col("__pos") >= lower))
          val quarantine = parsed
            .filter(!wellFormed)
            .select(Seq(
              lit("__unparsed").as("topic"),
              lit(-1).as("schema_id"),
              lit(false).as("contains_pii"),
              lit(0L).as("schema_version"),
              to_json(img).as("payload_json")) ++ meta: _*)

          // ---- sharded sink (r8): publish per ≤25-table group instead
          // of one all-tables union — Catalyst re-walking a single
          // growing union made per-table plan cost 1.58× per table-count
          // doubling (BENCH_wire r7); narrow per-group unions keep it
          // flat. The quarantine slice is always one of the frames
          // (possibly empty).
          publish(groupedUnions(outs.result()) :+ quarantine)

          // ---- position mirror: the max binlog coordinate across data
          // AND schema-change events (a DDL-only batch still advances
          // the position, as the reference's QueryEvent handling does).
          val posRow = data.select("log_file", "log_pos")
            .unionByName(changes.select("log_file", "log_pos"))
            .agg(max(struct(col("log_file"), col("log_pos"))).as("p"))
            .collect()(0)
          if (posRow.isNullAt(0)) Map.empty[String, String]
          else {
            val p = posRow.getStruct(0)
            graft.cdc.LogPosition(
              logPos = Some(p.getLong(1)), logFile = Some(p.getString(0)),
              offset = Some(0)).toDict
          }
        } finally parsed.unpersist()
    }
  }

  /** Tables per sink write-group in [[startWire]]: Catalyst plan-build
    * cost is ~linear in a union's branch count but the CONSTANT grows as
    * it re-walks one ever-wider plan — the r7 wire rehearsal measured
    * 1.58× per-table cost per table-count doubling through one
    * all-tables union (11.5 s to plan a 200-table batch). Planning and
    * writing per ~25-table group keeps every union narrow, so per-table
    * plan cost stays flat as deployments widen (re-measured flat
    * 100→200→400 by [[graft.tools.WireRehearsal]]). */
  private[graft] val WireTableGroupSize = 25

  /** One typed projection per (db, table) present in `seg`, keyed by its
    * table identity so [[groupedUnions]] can shard the sink writes, using
    * the catalog's CURRENT per-table StructType — the reference's
    * per-table handler shape, extracted from [[startWire]] so the
    * wide-deployment rehearsal ([[graft.tools.WireRehearsal]]) can
    * measure its plan-build cost at hundreds of tables without a live
    * stream. The `present` collect is control-plane-bounded (#distinct
    * tables in the batch slice).
    */
  private[graft] def typedSlicesFor(
      catalog: SchemaCatalog,
      cluster: String,
      seg: DataFrame,
      img: org.apache.spark.sql.Column,
      meta: Seq[org.apache.spark.sql.Column]): Seq[((String, String), DataFrame)] = {
    val present = seg.select("database_name", "table_name")
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    present.toSeq.map { case (db, tbl) =>
      val slice = seg.filter(col("database_name") === db &&
        col("table_name") === tbl)
      val typed = catalog.lookup(TableId(cluster, db, tbl)) match {
        case Some(ts) =>
          val version = 1L + catalog.alterEvents.count(_._1 ==
            TableId(cluster, db, tbl))
          slice.select(Seq(
            concat_ws(".", lit(db), lit(tbl)).as("topic"),
            lit(ts.schemaId).as("schema_id"),
            lit(ts.containsPii).as("contains_pii"),
            lit(version).as("schema_version"),
            to_json(struct(ts.struct.fields.toSeq.map(f =>
              img.getItem(f.name).cast(f.dataType).as(f.name)): _*))
              .as("payload_json")) ++ meta: _*)
        case None =>
          // never-created table: the reference fetches SHOW CREATE on a
          // miss (needs live MySQL) — record, don't guess
          slice.select(Seq(
            lit("__unregistered").as("topic"),
            lit(-1).as("schema_id"),
            lit(false).as("contains_pii"),
            lit(0L).as("schema_version"),
            to_json(img).as("payload_json")) ++ meta: _*)
      }
      (db, tbl) -> typed
    }
  }

  /** Shard table-keyed slices into unions of ≤ [[WireTableGroupSize]]
    * tables each (a table's slices — one per DDL segment — always land in
    * the same group, so every topic is written exactly once and its
    * per-file pos_key ordering holds). Groups are independent by
    * construction: the catalog barrier already applied each DDL while the
    * slices were BUILT, so group write order carries no semantics. */
  private[graft] def groupedUnions(
      slices: Seq[((String, String), DataFrame)]): Seq[DataFrame] = {
    val tables = slices.map(_._1).distinct.sorted
    val groupOf = tables.zipWithIndex
      .map { case (t, i) => t -> i / WireTableGroupSize }.toMap
    slices.groupBy { case (t, _) => groupOf(t) }
      .toSeq.sortBy(_._1)
      .map { case (_, members) => members.map(_._2).reduce(_ unionByName _) }
  }

  /** Positions only ADVANCE (the reference updates GlobalEventState as it
    * processes, never backwards): keep the larger (log_file, log_pos)
    * coordinate and, independently, the larger heartbeat serial — a batch
    * holding earlier binlog segments must not regress either. */
  private[streaming] def mergePosition(
      prev: Map[String, String], next: Map[String, String]): Map[String, String] =
    if (prev.isEmpty) next
    else {
      def coord(m: Map[String, String]) =
        (m.getOrElse("log_file", ""), m.get("log_pos").map(_.toLong).getOrElse(0L))
      def hbSerial(m: Map[String, String]) =
        m.get("hb_serial").map(_.toLong).getOrElse(-1L)
      val coordKeys = Set("log_file", "log_pos", "offset")
      val hbKeys = Set("hb_serial", "hb_timestamp")
      val c = if (Ordering.Tuple2[String, Long].gteq(coord(next), coord(prev))) next else prev
      val h = if (hbSerial(next) >= hbSerial(prev)) next else prev
      c.filter(e => coordKeys(e._1)) ++ h.filter(e => hbKeys(e._1))
    }

  /** Returns the batch's position mirror (a [[graft.cdc.LogPosition]]
    * dict): the last (log_file, log_pos) of the batch plus the latest
    * heartbeat beacon — what the reference persists as
    * GlobalEventState.position. */
  private def processBatch(spark: SparkSession, cached: DataFrame, batchId: Long,
      catalog: SchemaCatalog, outDir: String, materializeDir: Option[String],
      publish: Seq[DataFrame] => Unit): Map[String, String] = {
    // ---- DDL branch (T19 routing; T24 barrier = this runs before the
    // data branch of the SAME batch, after all prior batches committed).
    val ddls = cached.filter(col("kind") === "ddl")
      .withColumn("stmt", expr(CdcSqlFragments.DDL_STMT))
      .select("event_id", "database_name", "stmt")
      .collect() // DDL volume is control-plane-tiny by construction
      .sortBy(_.getLong(0))
    ddls.foreach { r =>
      catalog.applyDdl(CdcSqlFragments.CLUSTER, r.getString(1), r.getString(2),
        atEventId = r.getLong(0))
    }

    // ---- heartbeat/position branch (T5/T27): one aggregate over the
    // batch yields the position mirror — the max binlog coordinate and
    // the latest heartbeat beacon (serial, timestamp).
    val posRow = cached.agg(
      max(struct(col("log_file"), col("log_pos"))).as("p"),
      max(when(col("kind") === "heartbeat",
        struct(col("event_id"), col("ts_us")))).as("hb"))
      .collect()(0)
    // an all-filtered batch (every event dropped by admit) moves no
    // position: max() over zero rows is null → empty dict, which
    // mergePosition keeps as the previous coordinate
    val position =
      if (posRow.isNullAt(0)) Map.empty[String, String]
      else {
        val p = posRow.getStruct(0)
        val hb = Option(posRow.getStruct(1))
        graft.cdc.LogPosition(
          logPos = Some(p.getLong(1)), logFile = Some(p.getString(0)),
          offset = Some(0), // batch boundaries are whole files
          hbSerial = hb.map(_.getLong(0)), hbTimestamp = hb.map(_.getLong(1))).toDict
      }

    // ---- data branch
    val data = CdcOps.blacklistFilter(CdcOps.retarget(CdcOps.whitelist(
      CdcOps.dataOnly(cached))))

    // register unseen tables deterministically (sorted), then broadcast
    val tables = data.select("database_name", "target_table").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    tables.foreach { case (db, tbl) =>
      val id = TableId(CdcSqlFragments.CLUSTER, db, tbl)
      if (catalog.lookup(id).isEmpty) catalog.register(id, payloadStruct)
    }
    val regRows = catalog.all.toSeq.map { case (id, ts) =>
      (id.database, id.table, ts.schemaId, ts.containsPii)
    }
    val reg = spark.createDataFrame(regRows)
      .toDF("database_name", "target_table", "schema_id", "contains_pii")

    val env0 = CdcOps.envelope(CdcOps.typeTransforms(CdcOps.images(
      CdcOps.enrich(CdcOps.explodeRows(data), reg))))

    // T22b — the data plane follows the CATALOG's evolved schemas: the
    // payload-version intervals come from the ALTER positions the
    // catalog recorded while applying DDL (above and in all prior
    // batches — they ride the state snapshot through recovery), so an
    // ALTER changes the payload column set from its binlog position
    // onward. Interval construction is pure driver-side arithmetic on
    // control-plane state; the data side takes one broadcast hash join.
    import spark.implicits._
    val intervalRows = catalog.alterEvents
      .groupBy(h => (h._1.database, h._1.table))
      .toSeq.flatMap { case ((db, tbl), es) =>
        val at = es.map(_._2).sorted
        at.zipWithIndex.map { case (from, idx) =>
          (db, tbl, idx + 2L, from, at.lift(idx + 1)) }
      }
    val intervals = intervalRows
      .toDF("database_name", "base_table", "version", "from_id", "to_id")
    val env = CdcOps.evolvePayload(env0, intervals)

    // persist when the envelope feeds both sinks — without it the whole
    // T3-T15 transform chain runs twice per batch
    if (materializeDir.nonEmpty) env.persist()
    try {
      publish(Seq(env))
      materializeDir.foreach(dir =>
        materializeBatch(spark, env, batchId, dir, outDir))
    } finally if (materializeDir.nonEmpty) env.unpersist()
    position
  }

  /** Continuous t13b: merge the previous snapshot with this batch's
    * changes, latest image per row identity by pos_key. Delete tombstones
    * STAY in the snapshot (a replayed/out-of-order change below a
    * tombstone's position must still lose — Kafka compaction keeps
    * tombstones for the same reason); readers filter
    * `message_type <> 'delete'`.
    *
    * Crash-safety without a merge-capable format: the new snapshot
    * overwrites its own `snap=<batchId>` dir (idempotent under T31
    * replay, like the batch=<id> sink), reading the newest snap strictly
    * below batchId; older snaps are pruned AFTER the write so a replay
    * always still finds its predecessor. At 100 TB the same pattern
    * applies per key-bucket (only dirty buckets rewrite) or hands off to
    * a merge-capable table format; the full-state rewrite here matches
    * the control-plane scale of the reference's state mirror. */
  private def materializeBatch(spark: SparkSession, env: DataFrame,
      batchId: Long, matDir: String, outDir: String): Unit = {
    val ids = snapIds(spark, matDir)
    // snap ids above batchId can only come from a DIFFERENT incarnation
    // (fresh checkpoint over an old matDir) — pruning never removes them
    // and readMaterialized would serve the stale foreign state forever
    require(ids.forall(_ <= batchId),
      s"materializeDir $matDir holds snapshots from another run " +
        s"(ids ${ids.filter(_ > batchId).sorted.mkString(",")} > $batchId); " +
        "point the pipeline at a fresh directory")
    val cols = Seq("database_name", "table_name", "payload_id", "pos_key",
      "message_type", "payload_value", "payload_k",
      "schema_version", "payload_json").map(col)
    val changes = env.select(cols: _*)
    val merged = ids.filter(_ < batchId).maxOption match {
      case Some(prev) =>
        spark.read.parquet(s"$matDir/snap=$prev").unionByName(changes)
      case None =>
        // no snapshot yet, but earlier batches may already be committed
        // (materialization enabled mid-stream): their envelope rows live
        // in the batch=<id> dirs — fold them in so the first snapshot is
        // complete, not a silent suffix of the changelog
        val prior = dirIds(spark, outDir, "batch=").filter(_ < batchId)
        if (prior.isEmpty) changes
        else spark.read
          .parquet(prior.map(id => s"$outDir/batch=$id").toIndexedSeq: _*)
          .select(cols: _*)
          .unionByName(changes)
    }
    merged
      .groupBy("database_name", "table_name", "payload_id")
      .agg(expr(
        "max_by(struct(pos_key, message_type, payload_value, payload_k, " +
          "schema_version, payload_json), pos_key)").as("s"))
      .select(col("database_name"), col("table_name"), col("payload_id"),
        col("s.pos_key").as("pos_key"), col("s.message_type").as("message_type"),
        col("s.payload_value").as("payload_value"), col("s.payload_k").as("payload_k"),
        col("s.schema_version").as("schema_version"),
        col("s.payload_json").as("payload_json"))
      .write.mode(SaveMode.Overwrite).parquet(s"$matDir/snap=$batchId")
    // prune everything below the direct predecessor (kept for replay)
    val after = snapIds(spark, matDir)
    val keep = after.filter(_ < batchId).maxOption
    after.filter(id => id < batchId && !keep.contains(id)).foreach { id =>
      val p = new org.apache.hadoop.fs.Path(s"$matDir/snap=$id")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** List `<prefix><id>` child dirs through the Hadoop FS API so a
    * non-local matDir/outDir (HDFS/S3) lists correctly — java.io.File
    * returns null there, which would silently present an empty state.
    * A missing dir is a legitimate empty state; any OTHER failure
    * (permission, transient FS error) propagates loudly. */
  private def dirIds(spark: SparkSession, dir: String, prefix: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix).toLong)
  }

  private def snapIds(spark: SparkSession, matDir: String): Seq[Long] =
    dirIds(spark, matDir, "snap=")

  /** Read the current materialized table state (live rows only). */
  def readMaterialized(spark: SparkSession, matDir: String): DataFrame = {
    val latest = snapIds(spark, matDir).maxOption.getOrElse(throw new IllegalStateException(
      s"no materialized snapshot in $matDir yet — has a batch committed with materializeDir set?"))
    spark.read.parquet(s"$matDir/snap=$latest")
      .filter(col("message_type") =!= "delete")
  }

  /** [[compactWireBatches]] report: merged spans as (lo, hi) id pairs,
    * batch-directory and data-file counts before/after. */
  case class WireCompaction(spans: Seq[(Long, Long)], dirsBefore: Long,
      dirsAfter: Long, filesBefore: Long, filesAfter: Long)

  /** Wire-sink maintenance — the `batch=<id>` small-files/small-dirs leg
    * of the cell layout's `compactCellLayout` (r10): [[startWire]]
    * publishes one directory per micro-batch, each holding
    * #groups × #topic-partitions files — at a 1-minute trigger that is
    * ~1,440 directories/day and growing forever. This call merges spans
    * of OLD batch directories into one single-file directory each,
    * preserving the sink's contracts:
    *
    *  - the newest `retainLast` batch ids are NEVER touched
    *    (byte-identical): that window is where restart replay
    *    (`lastCommitted`) and incremental consumers operate, so their
    *    `batch=<id>` keys stay stable;
    *  - older ids merge in consecutive groups into the group's HIGHEST
    *    id (re-keying, the contract VERDICT r10 allows past the retained
    *    window): the span dir holds the union of its batches' rows in
    *    ONE file sorted by (topic, pos_key) — the row set is preserved
    *    exactly and per-topic order is preserved because pos_key is the
    *    binlog coordinate, monotone across batches, the same order the
    *    uncompacted dirs expose;
    *  - a group closes when its combined batch WEIGHT (original
    *    micro-batch count, carried in a `_span_w<n>` marker) reaches
    *    `spanSize`; the resulting span is SEALED and never rewritten
    *    again, so each batch's rows are rewritten exactly ONCE across
    *    all maintenance calls (directory count converges to
    *    ~n/spanSize + a partial tail, e.g. 1,440/day → 23 sealed
    *    dirs/day at spanSize 64);
    *  - a partial tail (combined weight < spanSize) and sealed spans are
    *    compliant — untouched, byte-identical — so the call is
    *    idempotent until new batches age past the retained window;
    *  - full expiry is the separate [[expireWireBatches]] lever.
    *
    * Crash safety mirrors the sink's staged-rename publish: the merged
    * span writes to a DOT-PREFIXED staging dir, a `._compact_<lo>_<hi>
    * .commit` marker is created LAST (the commit point), and only then
    * are the source dirs deleted and the staging renamed to
    * `batch=<hi>`; the next call finishes any half-applied span from its
    * marker before measuring anything. Between delete and rename the
    * span's rows are only in the (hidden) staging dir, so like
    * `compactCellLayout` this is a maintenance operation for a window
    * when no reader lists batch dirs — the sink itself keeps publishing
    * new ids concurrently without conflict (they land above the retained
    * window). */
  def compactWireBatches(spark: SparkSession, outDir: String,
      retainLast: Int = 8, spanSize: Int = 64): WireCompaction = {
    require(retainLast >= 1 && spanSize >= 2)
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)

    def finishSpan(lo: Long, hi: Long): Unit = {
      val staging = path(s"$outDir/.span_${lo}_$hi.staging")
      // staging present ⇒ the span's rows live there: retire ALL source
      // dirs in [lo, hi] (including the original batch=<hi>), then
      // publish. Staging absent ⇒ the rename already happened and
      // batch=<hi> IS the published span — retire only [lo, hi).
      val stagingExists = fs.exists(staging)
      val retireUpTo = if (stagingExists) hi else hi - 1
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(s => (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath))
        .filter { case (id, _) => id >= lo && id <= retireUpTo }
        .foreach { case (_, p) => fs.delete(p, true) }
      if (stagingExists &&
          !fs.rename(staging, path(s"$outDir/batch=$hi")))
        throw new java.io.IOException(
          s"wire compaction: failed to publish $staging -> batch=$hi")
      fs.delete(path(s"$outDir/._compact_${lo}_$hi.commit"), false)
    }

    // ---- recovery: a marker means the span was fully staged — finish it
    // (staging gone ⇒ the rename already happened; only the cleanup and
    // marker delete can be outstanding)
    val commitRe = "^\\._compact_(\\d+)_(\\d+)\\.commit$".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case commitRe(lo, hi) => finishSpan(lo.toLong, hi.toLong)
        case _ => ()
      }
    }

    def batchDirs(): Seq[(Long, org.apache.hadoop.fs.Path)] =
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(s => (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath))
        .sortBy(_._1)
    def dataFiles(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).count { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.toLong

    // a span dir carries its batch weight (how many ORIGINAL micro-
    // batches it holds) in a `_span_w<n>` marker; an unmarked dir is one
    // micro-batch. A dir whose weight reached spanSize is SEALED — done
    // forever — so every batch row is rewritten exactly once, not once
    // per maintenance call.
    val weightRe = "^_span_w(\\d+)$".r
    def weightOf(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map(_.getPath.getName).collectFirst {
        case weightRe(w) => w.toLong
      }.getOrElse(1L)

    val before = batchDirs()
    val filesBefore = before.map(d => dataFiles(d._2)).sum
    // accumulate consecutive UNSEALED dirs until the combined weight
    // reaches spanSize; sealed dirs are boundaries; a partial tail waits
    // for future batches to age past the retained window
    val eligible = before.dropRight(retainLast)
      .map { case (id, p) => (id, p, weightOf(p)) }
    val groups = Seq.newBuilder[Seq[(Long, org.apache.hadoop.fs.Path, Long)]]
    var acc = Vector.empty[(Long, org.apache.hadoop.fs.Path, Long)]
    var accW = 0L
    eligible.foreach { d =>
      if (d._3 >= spanSize) { acc = Vector.empty; accW = 0 } // sealed
      else {
        acc :+= d; accW += d._3
        if (accW >= spanSize && acc.size >= 2) {
          groups += acc; acc = Vector.empty; accW = 0
        }
      }
    }
    val spans = groups.result()
    spans.foreach { grp =>
      val lo = grp.head._1
      val hi = grp.last._1
      val staging = path(s"$outDir/.span_${lo}_$hi.staging")
      fs.delete(staging, true) // residue of a crash BEFORE the marker
      val withRows = grp.filter { case (_, p, _) => dataFiles(p) > 0 }
      if (withRows.nonEmpty)
        // one sorted file per span: the span is a bounded maintenance
        // unit (≤ spanSize micro-batches), the cell-compaction class —
        // not a data-scaled global sort
        spark.read.parquet(withRows.map(_._2.toString): _*)
          .repartition(1).sortWithinPartitions("topic", "pos_key")
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      else
        fs.mkdirs(staging) // all-empty span (DDL-only batches): the
                           // batch=<hi> dir must still exist (sink contract)
      fs.create(path(s"$outDir/.span_${lo}_$hi.staging/_span_w${grp.map(_._3).sum}"),
        true).close()
      fs.create(path(s"$outDir/._compact_${lo}_$hi.commit"), true).close()
      finishSpan(lo, hi)
    }
    val after = batchDirs()
    WireCompaction(spans.map(g => (g.head._1, g.last._1)),
      before.size.toLong, after.size.toLong,
      filesBefore, after.map(d => dataFiles(d._2)).sum)
  }

  /** Wire-sink retention — the other maintenance lever: delete batch (or
    * span) directories whose ids fall ENTIRELY below `belowId`. Sink ids
    * are monotone in time, so "expire data older than D days" is
    * `belowId` = the first batch id committed inside the retention
    * window. A span dir `batch=<hi>` holds ids ≤ hi only, so the id test
    * is exact. Returns the deleted ids. */
  def expireWireBatches(spark: SparkSession, outDir: String,
      belowId: Long): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(s => (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath))
      .filter(_._1 < belowId)
      .sortBy(_._1)
      .map { case (id, p) => fs.delete(p, true); id }
  }

  /** T26 Kafka wire shape: the envelope mapped to the kafka sink contract
    * (topic/key/value/headers). The reference's real sink is an async Kafka
    * producer flushed per batch (base_parse_replication_stream.py:207-221);
    * here the frame is writable with `.write.format("kafka")` — wiring is
    * plan-tested only, as no broker exists in this environment. `key` is
    * the per-topic ordering key (pos_key), so a keyed partitioner preserves
    * the per-row ordering contract; headers carry schema_id + transaction
    * id, matching the reference's message metadata. */
  def kafkaFrame(env: DataFrame): DataFrame =
    env.select(
      col("topic"),
      col("pos_key").cast("binary").as("key"),
      to_json(struct(env.columns.toIndexedSeq.map(col): _*)).cast("binary").as("value"),
      array(
        struct(lit("schema_id").as("key"), col("schema_id").cast("string").cast("binary").as("value")),
        struct(lit("transaction_id").as("key"), col("transaction_id").cast("binary").as("value"))
      ).as("headers"))
}

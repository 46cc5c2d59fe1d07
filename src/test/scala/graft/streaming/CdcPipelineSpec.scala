package graft.streaming

import graft.Tables
import graft.cdc.CdcOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end streaming semantics (SURVEY §7.2 minimum slice + §7.4 risks):
  * source → filters → explode → registry join → envelope → sink with
  * checkpoint, then a restart that must produce no duplicates and no loss
  * (reference failure_recovery_test.py:227-349 behavior, minus MySQL/Kafka).
  */
class CdcPipelineSpec extends AnyFunSuite {

  // Tables.session, NOT a bare builder: getOrCreate would otherwise let
  // this suite win the JVM-wide session race WITHOUT GraftExtensions,
  // breaking any concurrently-run suite that needs the native functions
  private lazy val spark = Tables.session("cdc-pipeline-spec", "4")

  private val sfDir = "/root/testdata/sf0.001"

  /** Write the events table as N replay segment files — one parquet file
    * per segment (a hash repartition can collapse segments into one file,
    * which silently turns the multi-batch tests into single-batch ones). */
  private def writeSegments(dir: String, parts: Int): Unit = {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
    (0 until parts).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(parts)) === i)
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
  }

  // ---- Debezium wire fixtures ------------------------------------------

  private val wireCluster = "dbzcluster"

  /** A Debezium `source` block; `file` is JSON-encoded, so any binlog file
    * name round-trips into `source.file` verbatim. */
  private def src(pos: Long, tbl: String, file: String = "binlog.000001",
      row: Int = 0) = {
    val fileJson = org.json4s.jackson.JsonMethods.compact(org.json4s.JString(file))
    s""""source":{"version":"2.6","connector":"mysql","name":"$wireCluster","ts_ms":1700000000000,"db":"inventory","table":"$tbl","server_id":1,"gtid":null,"file":$fileJson,"pos":$pos,"row":$row}"""
  }

  private def dataEvent(tbl: String, pos: Long, op: String, after: String,
      before: String = "null", file: String = "binlog.000001", row: Int = 0) =
    (s"$wireCluster.inventory.$tbl",
      s"""{"payload":{"before":$before,"after":$after,${src(pos, tbl, file, row)},"op":"$op","ts_ms":1700000000000}}""")

  private def schemaEvent(pos: Long, ddl: String, typ: String,
      tbl: String = "customers", file: String = "binlog.000001") =
    (wireCluster,
      s"""{"payload":{${src(pos, tbl, file)},"ts_ms":1700000000000,"databaseName":"inventory","schemaName":null,"ddl":"$ddl","tableChanges":[{"type":"$typ","id":"\\"inventory\\".\\"$tbl\\""}]}}""")

  /** One wire segment file (topic + Debezium JSON value; a null JSON is a
    * delete tombstone). */
  private def writeWireSeg(wireDir: String, events: Seq[(String, String)]): Unit = {
    import spark.implicits._
    events.toDF("topic", "json")
      .select(col("topic"), lit(null).cast("binary").as("key"),
        col("json").cast("binary").as("value"),
        array().cast("array<struct<key:string,value:binary>>").as("headers"))
      .coalesce(1).write.mode("append").parquet(wireDir)
    Thread.sleep(100) // distinct mtimes → the file source preserves order
  }

  /** Segment 1: CREATE + two inserts, plus one row for a table the
    * schema-change topic never created (quarantine path). */
  private def wireSeg1 = Seq(
    schemaEvent(100,
      "CREATE TABLE `customers` (id INT PRIMARY KEY, name VARCHAR(64))",
      "CREATE"),
    dataEvent("customers", 200, "c", """{"id":"1","name":"bob"}"""),
    dataEvent("customers", 300, "c", """{"id":"2","name":"amy"}"""),
    dataEvent("orders", 350, "c", """{"id":"9"}"""))

  /** Segment 2: a PRE-ALTER row, the ALTER, two post-ALTER rows, a
    * Debezium delete tombstone (null value) and a corrupt record. */
  private def wireSeg2 = Seq(
    dataEvent("customers", 380, "c", """{"id":"4","name":"dan"}"""),
    schemaEvent(400, "ALTER TABLE `customers` ADD email VARCHAR(128)",
      "ALTER"),
    dataEvent("customers", 500, "c",
      """{"id":"3","name":"joe","email":"joe@x.io"}"""),
    dataEvent("customers", 600, "u",
      """{"id":"1","name":"bob","email":"bob@x.io"}""",
      """{"id":"1","name":"bob","email":null}"""),
    (s"$wireCluster.inventory.customers", null), // delete tombstone: dropped
    (s"$wireCluster.inventory.customers", "{corrupt")) // quarantined

  /** Segment 3: a DDL-only batch. */
  private def wireSeg3 = Seq(schemaEvent(700,
    "CREATE TABLE `orders` (id INT PRIMARY KEY)", "CREATE", "orders"))

  // ---- crash matrix ------------------------------------------------------

  /** One ingress path over a fixed three-segment input, run into `root`. */
  private final class Ingress(val name: String, val write: String => Unit,
      val run: String => org.apache.spark.sql.streaming.StreamingQuery)

  private val replayIngress = new Ingress("start",
    root => writeSegments(s"$root/in", 3),
    root => CdcPipeline.start(spark, s"$root/in", s"$root/out", s"$root/ck", s"$root/st"))

  private val wireIngress = new Ingress("startWire",
    root => Seq(wireSeg1, wireSeg2, wireSeg3).foreach(writeWireSeg(s"$root/in", _)),
    root => CdcPipeline.startWire(spark, s"$root/in", wireCluster, s"$root/out",
      s"$root/ck", s"$root/st"))

  /** The crash-free reference run of each path, shared by its phases. */
  private val cleanRuns = scala.collection.mutable.Map.empty[String, String]
  private def cleanRun(ing: Ingress): String = cleanRuns.getOrElseUpdate(ing.name, {
    val root = Files.createTempDirectory(s"cdc-clean-${ing.name}").toString
    ing.write(root)
    ing.run(root).awaitTermination()
    root
  })

  // reference failure_recovery_test.py:493+ kills the process inside a
  // batch, then asserts the restart restores and re-applies cleanly. Each
  // case crashes batch 1 once at one phase of the commit protocol (after
  // DDL/typing, after staging, after the rename), requires that nothing
  // of batch 1 was committed, restarts, and requires the result of a
  // never-crashed run: same rows as a multiset (no dupes, no loss), and
  // the same catalog snapshot (schema ids re-minted idempotently) and
  // position.
  for (ing <- Seq(replayIngress, wireIngress);
       phase <- Seq("typed", "staged", "published")) {
    test(s"crash matrix: ${ing.name} crash at '$phase' resumes exactly once") {
      val clean = cleanRun(ing)
      val root = Files.createTempDirectory(s"cdc-crash-${ing.name}-$phase").toString
      ing.write(root)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      CdcPipeline.crashHook = { (batchId, at) =>
        if (batchId == 1 && at == phase && crashed.compareAndSet(false, true))
          throw new RuntimeException(s"injected crash at $phase")
      }
      try intercept[Exception] { ing.run(root).awaitTermination() }
      finally CdcPipeline.crashHook = (_, _) => ()
      assert(crashed.get, "the injected crash must have fired")
      if (phase != "published")
        assert(!Files.exists(java.nio.file.Paths.get(s"$root/out/batch=1")),
          "a batch crashed before its rename must not be visible")
      assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 0L,
        "the crashed batch must not have been committed")

      ing.run(root).awaitTermination()
      val got = spark.read.parquet(s"$root/out")
      val want = spark.read.parquet(s"$clean/out")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      val (st, ref) = (CdcPipeline.loadState(s"$root/st").get,
        CdcPipeline.loadState(s"$clean/st").get)
      assert(st.lastBatchId == ref.lastBatchId)
      assert(st.catalogJson == ref.catalogJson)
      assert(st.position == ref.position)
    }
  }

  test("streaming pipeline matches the batch pipeline and survives restart without dupes") {
    val root = Files.createTempDirectory("cdc-pipeline").toString
    val replayDir = s"$root/replay"
    val outDir = s"$root/out"
    val ckDir = s"$root/checkpoint"
    val stDir = s"$root/state"
    writeSegments(replayDir, 3)

    // first run: process everything available in ≥3 micro-batches
    val q1 = CdcPipeline.start(spark, replayDir, outDir, ckDir, stDir)
    q1.awaitTermination()

    val expected = CdcOps.pipeline(Tables.events(spark, sfDir))
      .select("event_id", "row_idx", "topic", "payload_id", "pos_key",
        "message_type", "payload_value", "ts_iso")
    val got = spark.read.parquet(outDir)
      .select("event_id", "row_idx", "topic", "payload_id", "pos_key",
        "message_type", "payload_value", "ts_iso")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streaming envelope must equal batch envelope")

    // T27/T28 — the state mirror carries the reference-shaped position:
    // the max binlog coordinate of the stream plus the latest heartbeat
    // beacon, reconstructible through the Position ADT
    val savedPos = graft.cdc.Position.construct(CdcPipeline.loadState(stDir).get.position)
    savedPos match {
      case lp: graft.cdc.LogPosition =>
        // position advances on ADMITTED events (the reference updates it
        // as it processes; only_events-filtered kinds don't move it)
        val expMax = CdcOps.admit(graft.cdc.CdcReplay.fromEvents(Tables.events(spark, sfDir)))
          .agg(max(struct(col("log_file"), col("log_pos")))).collect()(0).getStruct(0)
        assert(lp.logFile.contains(expMax.getString(0)) && lp.logPos.contains(expMax.getLong(1)))
        assert(lp.hbSerial.nonEmpty && lp.hbTimestamp.nonEmpty,
          "position must carry the latest heartbeat beacon")
        assert(lp.toReplicationDict.keySet == Set("log_pos", "log_file"))
      case other => fail(s"expected a LogPosition, got $other")
    }

    // restart with no new input: no duplicates may appear, and the restored
    // catalog must be byte-identical (T25/T30 snapshot round-trip)
    val catBefore = CdcPipeline.loadState(stDir).get.catalogJson
    val q2 = CdcPipeline.start(spark, replayDir, outDir, ckDir, stDir)
    q2.awaitTermination()
    assert(spark.read.parquet(outDir).count() == expected.count(),
      "restart with no new data must not re-publish")
    assert(CdcPipeline.loadState(stDir).get.catalogJson == catBefore,
      "idle restart must not change the catalog")

    // new segment arrives (re-keyed ids so they are new events)
    Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
      .limit(200)
      .withColumn("event_id", col("event_id") + 1000000L)
      .coalesce(1).write.mode("append").parquet(replayDir)

    val q3 = CdcPipeline.start(spark, replayDir, outDir, ckDir, stDir)
    q3.awaitTermination()

    val after = spark.read.parquet(outDir)
    assert(after.count() > expected.count(), "new segment must be published")
    // old rows still exactly once
    val oldRows = after.filter(col("event_id") < 1000000L)
    assert(oldRows.count() == expected.count())
    // catalog evolved (the new segment carries DDLs) but stays restorable
    val catAfter = CdcPipeline.loadState(stDir).get.catalogJson
    val restored = new graft.catalog.SchemaCatalog()
    restored.restore(catAfter)
    assert(restored.all.nonEmpty)
  }

  private def eventually[A](timeoutMs: Long = 10000)(f: => A): A = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return f
      catch { case t: Throwable => last = t; Thread.sleep(100) }
    }
    throw last
  }

  test("observe metrics, clean-shutdown flag, and instance lock (T34/T35/T37)") {
    val root = Files.createTempDirectory("cdc-obs").toString
    writeSegments(s"$root/replay", 2)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[CdcPipeline.BatchStats]()
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck",
      s"$root/st", statsSink = stats.add)
    q.awaitTermination()

    // T37 — per-table counters from the observe node must equal the true
    // per-table input counts (reference flushes per-table message counters;
    // parse_replication_stream_internal.py:47-88)
    eventually() { assert(!stats.isEmpty) }
    import scala.jdk.CollectionConverters._
    val all = stats.asScala.toSeq
    val expected = CdcOps.dataOnly(CdcOps.admit(
      graft.cdc.CdcReplay.fromEvents(Tables.events(spark, sfDir))))
      .groupBy("base_table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counted = all.flatMap(_.perTable.toSeq).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).sum }
    expected.foreach { case (t, n) =>
      if (counted.contains(t)) assert(counted(t) == n, s"counter mismatch for $t")
    }
    // T5 — heartbeat high-water mark yields a finite lag gauge
    val hbStats = all.filter(_.heartbeats > 0)
    assert(hbStats.nonEmpty)
    assert(hbStats.forall(_.lagSeconds(System.currentTimeMillis() * 1000).exists(_ > 0)))

    // T34 — listener marked the state clean after graceful termination
    eventually() {
      assert(CdcPipeline.loadState(s"$root/st").exists(_.cleanShutdown))
    }
    // T35 — lock released after termination; a fresh start re-acquires
    eventually() {
      assert(!Files.exists(java.nio.file.Paths.get(s"$root/st", "lock")))
    }
  }

  test("kafka sink frame carries topic/key/value/headers in the kafka contract shape") {
    import org.apache.spark.sql.types._
    val env = CdcOps.pipeline(Tables.events(spark, sfDir))
    val kf = CdcPipeline.kafkaFrame(env)
    val schema = kf.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(schema("topic") == StringType)
    assert(schema("key") == BinaryType)
    assert(schema("value") == BinaryType)
    val hdrElem = schema("headers").asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(hdrElem.fieldNames.toSeq == Seq("key", "value"))
    assert(hdrElem("key").dataType == StringType && hdrElem("value").dataType == BinaryType)
    // key preserves the per-topic ordering key; headers carry the metadata
    val row = kf.orderBy("topic", "key").limit(1).collect()(0)
    val first = env.orderBy("topic", "pos_key").limit(1).collect()(0)
    assert(new String(row.getAs[Array[Byte]]("key")) == first.getAs[String]("pos_key"))
    val hdrs = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("headers"))
    assert(hdrs.map(_.getString(0)) == Seq("schema_id", "transaction_id"))
  }

  test("a fully-filtered batch neither crashes nor moves the position") {
    // a segment whose every event is dropped by admit (kind='other':
    // event_type='error' with k%5=4) reaches foreachBatch as ZERO rows —
    // the position aggregate must tolerate that and keep the prior state
    val root = Files.createTempDirectory("cdc-empty").toString
    import spark.implicits._
    Seq((5000000L, 1L, "error", 0.5, """{"k": 4}""", 1700000000000000L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
      .coalesce(1).write.mode("append").parquet(s"$root/replay")
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")
    q.awaitTermination()
    val st = CdcPipeline.loadState(s"$root/st").get
    assert(st.lastBatchId == 0L)
    assert(st.position.isEmpty, s"position must not move on a filtered batch: ${st.position}")
  }

  test("per-topic output preserves binlog order (SURVEY §7.4 risk 3)") {
    val root = Files.createTempDirectory("cdc-order").toString
    writeSegments(s"$root/replay", 2)
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")
    q.awaitTermination()
    // within every output file, pos_key must be non-decreasing (files are
    // written one-partition-per-topic, sorted)
    val byFile = spark.read.parquet(s"$root/out")
      .withColumn("file", input_file_name())
      .select("file", "topic", "pos_key")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("file").orderBy(monotonically_increasing_id())
    // simpler: per (file, topic), check max(pos_key) ordering via collect
    val rows = byFile.collect()
    val grouped = rows.groupBy(r => (r.getString(0), r.getString(1)))
    grouped.foreach { case ((f, t), rs) =>
      val keys = rs.map(_.getString(2)).toSeq
      assert(keys == keys.sorted, s"pos_key order violated in $f topic $t")
    }
  }

  test("materialized snapshot equals the batch t13b over the same changelog") {
    val root = Files.createTempDirectory("cdc-mat").toString
    writeSegments(s"$root/replay", 3)
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/state", materializeDir = Some(s"$root/mat"))
    q.awaitTermination()

    // batch truth: latest image per row identity, deletes dropped — the
    // t13b formulation over the full envelope
    val env = CdcOps.pipeline(Tables.events(spark, sfDir))
    val expected = env.groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("message_type"),
        expr("max_by(payload_value, pos_key)").as("payload_value"))
      .filter(col("message_type") =!= "delete")
      .select("database_name", "table_name", "payload_id", "message_type",
        "payload_value")
    val got = CdcPipeline.readMaterialized(spark, s"$root/mat")
      .select("database_name", "table_name", "payload_id", "message_type",
        "payload_value")
    assert(got.count() == expected.count(),
      s"snapshot rows ${got.count()} != batch ${expected.count()}")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "materialized snapshot diverges from batch t13b")
    // incremental maintenance actually happened: only the latest snapshot
    // and its predecessor survive pruning
    val snaps = new java.io.File(s"$root/mat").listFiles()
      .filter(_.getName.startsWith("snap=")).map(_.getName).sorted
    assert(snaps.length <= 2, s"snapshot pruning failed: ${snaps.mkString(",")}")
  }

  test("crash between snapshot writes: replay converges the materialized state") {
    // crash mid-batch with materialization on (after the rename and the
    // snapshot write, before the state save, so both the batch=<id> dir
    // and the snap=<id> dir already exist), restart, and require the
    // final snapshot to equal the batch truth — the snap=<id> overwrite +
    // read-strictly-below protocol must make the replay idempotent
    val root = Files.createTempDirectory("cdc-mat-crash").toString
    writeSegments(s"$root/replay", 3)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    CdcPipeline.crashHook = { (batchId, phase) =>
      if (batchId == 1 && phase == "published" && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash with materialization on")
    }
    try {
      val q1 = CdcPipeline.start(spark, s"$root/replay", s"$root/out",
        s"$root/ck", s"$root/st", materializeDir = Some(s"$root/mat"))
      intercept[Exception] { q1.awaitTermination() }
    } finally CdcPipeline.crashHook = (_, _) => ()
    assert(crashed.get)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/mat/snap=1")))
    CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/st", materializeDir = Some(s"$root/mat"))
      .awaitTermination()

    val env = CdcOps.pipeline(Tables.events(spark, sfDir))
    val expected = env.groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("message_type"),
        expr("max_by(payload_value, pos_key)").as("payload_value"))
      .filter(col("message_type") =!= "delete")
      .select("database_name", "table_name", "payload_id", "payload_value")
    val got = CdcPipeline.readMaterialized(spark, s"$root/mat")
      .select("database_name", "table_name", "payload_id", "payload_value")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "post-crash materialized snapshot diverges from batch truth")
  }

  test("materialization enabled mid-stream backfills from committed batch dirs") {
    val root = Files.createTempDirectory("cdc-mat2").toString
    writeSegments(s"$root/replay", 2)
    // first run WITHOUT materialization — batches commit to batch=<id> only
    CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/state").awaitTermination()
    // new segment arrives; restart WITH materialization: the first
    // snapshot must fold in the already-committed batches, not just the
    // new one
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
    ev.filter(pmod(col("event_id"), lit(7)) === 3).coalesce(1)
      .write.mode("append").parquet(s"$root/replay")
    CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/state", materializeDir = Some(s"$root/mat"))
      .awaitTermination()

    val allOut = spark.read.parquet(s"$root/out")
    val expected = allOut.groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("message_type"))
      .filter(col("message_type") =!= "delete")
    val got = CdcPipeline.readMaterialized(spark, s"$root/mat")
    assert(got.count() == expected.count(),
      s"mid-stream snapshot ${got.count()} != full-changelog state ${expected.count()}")
  }

  test("mid-stream ALTER changes the payload column set from its position onward (T22b)") {
    // reference schema_event_handler.py:154-175 + end_to_end_test
    // alter-mid-stream: rows BEFORE the ALTER publish under the old schema
    // version, rows AFTER under the new one — the data plane follows the
    // catalog, per binlog position, through the materialized snapshot.
    val root = Files.createTempDirectory("cdc-evolve").toString
    val replayDir = s"$root/replay"
    // hand-ordered stream: data(t0) → ALTER t0 ADD → data(t0). user_id=5
    // maps to (db2, t0) whitelisted/non-blacklisted; k=2 on data rows
    // (3-row explode, non-refresh); k=1 on the error event classifies as
    // the ALTER..ADD DDL flavor (CdcSqlFragments.DDL_STMT, k%8=1).
    import spark.implicits._
    def writeOne(eventId: Long, eventType: String, value: Double, k: Int): Unit = {
      Seq((eventId, 5L, eventType, value, s"""{"k": $k}""", eventId * 1000L))
        .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
        .coalesce(1).write.mode("append").parquet(replayDir)
      Thread.sleep(100) // distinct mtimes → the file source preserves order
    }
    writeOne(100L, "signup", 1.0, 2)
    writeOne(200L, "error", 0.0, 1)
    writeOne(300L, "signup", 2.0, 2)

    CdcPipeline.start(spark, replayDir, s"$root/out", s"$root/ck", s"$root/state",
      materializeDir = Some(s"$root/mat")).awaitTermination()

    val snap = CdcPipeline.readMaterialized(spark, s"$root/mat")
      .select("payload_id", "schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(snap.map(_._1) == Seq(1000L, 1001L, 1002L, 3000L, 3001L, 3002L))
    val (before, after) = snap.partition(_._1 < 3000L)
    assert(before.forall(_._2 == 1L), s"pre-ALTER rows must stay version 1: $before")
    assert(before.forall(!_._3.contains("\"c2\"")),
      s"pre-ALTER payloads must NOT carry the added column: $before")
    assert(after.forall(_._2 == 2L), s"post-ALTER rows must be version 2: $after")
    // c2 = payload_k + 2 where payload_k = k + row_idx
    assert(after.map(_._3) == Seq(
      """{"id":3000,"k":2,"c2":4}""", """{"id":3001,"k":3,"c2":5}""",
      """{"id":3002,"k":4,"c2":6}"""),
      s"post-ALTER payloads must carry the added column: $after")
    // the evolved column set survives recovery: a restart restores the
    // catalog's alter positions from the state snapshot, so a NEW data
    // batch still versions against the pre-restart ALTER
    writeOne(400L, "signup", 3.0, 2)
    CdcPipeline.start(spark, replayDir, s"$root/out", s"$root/ck", s"$root/state",
      materializeDir = Some(s"$root/mat")).awaitTermination()
    val v400 = CdcPipeline.readMaterialized(spark, s"$root/mat")
      .filter(col("payload_id") === 4000L)
      .select("schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v400 == Seq((2L, """{"id":4000,"k":2,"c2":4}""")),
      s"post-restart batch must keep the evolved schema: $v400")
  }

  test("bulk-snapshot bootstrap then incremental: JDBC-shaped ingest feeds the changelog (T4b)") {
    import spark.implicits._
    import graft.cdc.JdbcSnapshot
    // snapshot of a source table (parquet stand-in for the partitioned
    // JDBC read), bulk-copied through the refresh shadow path — the
    // FullRefreshRunner analog
    val src = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
    val snapEnv = JdbcSnapshot.ingest(src, "db0", "t1", "id", "bal")
    assert(snapEnv.select("message_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("refresh"))
    assert(snapEnv.count() == 3, "a bulk copy emits each source row exactly once")

    // incremental traffic AFTER the snapshot (next binlog file): an
    // update of id 2 and a delete of id 3, through the SAME operator
    // chain the snapshot used
    val inc = Seq((2L, "update", 21.0), (3L, "delete", 0.0))
      .toDF("id", "mt", "bal")
      .select(
        col("id").as("event_id"),
        (lit(1700000001000000L) + col("id")).as("ts_us"),
        col("bal").as("value"),
        (col("id") * 3).cast("int").as("k"),
        lit("data").as("kind"),
        col("mt").as("message_type"),
        lit("db0").as("database_name"),
        lit("t1").as("base_table"),
        lit("t1").as("table_name"),
        lit(false).as("is_refresh"),
        lit("binlog.000002").as("log_file"),
        (col("id") * 4).as("log_pos"))
    val filtered = CdcOps.blacklistFilter(CdcOps.retarget(CdcOps.whitelist(inc)))
    val rows = CdcOps.explodeRows(filtered)
    val incEnv = CdcOps.envelope(CdcOps.typeTransforms(CdcOps.images(
      CdcOps.enrich(rows, CdcOps.registry(filtered)))))

    // bootstrap-then-follow: union + t13b materialize. The snapshot seeds
    // every row; incremental wins wherever its binlog position is later.
    val state = snapEnv.unionByName(incEnv)
      .groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("last_type"),
        expr("max_by(payload_value, pos_key)").as("v"))
      .filter(col("last_type") =!= "delete")
    val got = state.select(col("payload_id"), col("v")).as[(Long, Double)]
      .collect().toMap
    assert(got == Map(10L -> 10.0, 20L -> 21.0),
      s"id1 from the snapshot, id2 from the update, id3 deleted: $got")
  }

  test("wire mode: interleaved Debezium data + schema-change events across a restart") {
    val root = Files.createTempDirectory("cdc-wire").toString
    val wireDir = s"$root/wire"; val outDir = s"$root/out"
    val ckDir = s"$root/ck"; val stDir = s"$root/state"
    def writeSeg(events: Seq[(String, String)]): Unit = writeWireSeg(wireDir, events)

    writeSeg(wireSeg1)
    CdcPipeline.startWire(spark, wireDir, wireCluster, outDir, ckDir, stDir)
      .awaitTermination()
    val b0 = spark.read.parquet(s"$outDir/batch=0")
    val cust0 = b0.filter(col("topic") === "inventory.customers")
      .orderBy("pos_key").select("schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(cust0 == Seq(
      (1L, """{"id":1,"name":"bob"}"""), (1L, """{"id":2,"name":"amy"}""")),
      s"wire rows must type under the schema-change topic's CREATE: $cust0")
    assert(b0.filter(col("topic") === "__unregistered").count() == 1,
      "rows for never-created tables are quarantined, not dropped")

    // segment 2 after a shutdown: a PRE-ALTER row, the ALTER, two
    // post-ALTER rows, a Debezium delete tombstone (null value), and a
    // corrupt record — all in ONE batch. The restarted consumer restores
    // the catalog from the state mirror, and each row types under the
    // schema active at its OWN binlog position (T22b): the pos-380 row
    // stays version 1 without email even though the batch also carries
    // the ALTER.
    writeSeg(wireSeg2)
    CdcPipeline.startWire(spark, wireDir, wireCluster, outDir, ckDir, stDir)
      .awaitTermination()
    val b1all = spark.read.parquet(s"$outDir/batch=1")
    val b1 = b1all.filter(col("topic") === "inventory.customers")
      .orderBy("pos_key")
      .select("schema_version", "message_type", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(b1 == Seq(
      (1L, "create", """{"id":4,"name":"dan"}"""),
      (2L, "create", """{"id":3,"name":"joe","email":"joe@x.io"}"""),
      (2L, "update", """{"id":1,"name":"bob","email":"bob@x.io"}""")),
      s"rows must type under the schema at their own position: $b1")
    assert(b1all.filter(col("topic") === "__unparsed").count() == 1,
      "corrupt wire records are quarantined; tombstones are dropped")
    // batch 0 output untouched by the restart (idempotent sink + dedupe)
    assert(spark.read.parquet(s"$outDir/batch=0")
      .filter(col("topic") === "inventory.customers").count() == 2)
    // state mirror advanced to the wire's max binlog coordinate
    val st = CdcPipeline.loadState(stDir).get
    assert(st.lastBatchId == 1L && st.position("log_pos") == "600")

    // segment 3: a DDL-only batch — the sink contract still writes the
    // (empty) batch=<id> directory, and the position still advances off
    // the schema-change coordinates
    writeSeg(wireSeg3)
    CdcPipeline.startWire(spark, wireDir, wireCluster, outDir, ckDir, stDir)
      .awaitTermination()
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/batch=2")),
      "a DDL-only batch must still write its batch directory")
    val st2 = CdcPipeline.loadState(stDir).get
    assert(st2.lastBatchId == 2L && st2.position("log_pos") == "700")
  }

  test("wire pos_key: a row index past 9999 fails the batch and commits nothing") {
    // Spark's lpad truncates: without the overflow guard, Debezium row
    // 10000 would publish under row 1000's key and break the total order
    val root = Files.createTempDirectory("cdc-wire-rowidx").toString
    writeWireSeg(s"$root/wire", Seq(
      schemaEvent(100, "CREATE TABLE `customers` (id INT PRIMARY KEY)", "CREATE"),
      dataEvent("customers", 200, "c", """{"id":"1"}""", row = 1000),
      dataEvent("customers", 200, "c", """{"id":"2"}""", row = 10000)))
    val e = intercept[Exception] {
      CdcPipeline.startWire(spark, s"$root/wire", wireCluster, s"$root/out",
        s"$root/ck", s"$root/st").awaitTermination()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("pos_key row_idx overflow"), messages)
    assert(CdcPipeline.loadState(s"$root/st").isEmpty, "no state may be committed")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/out/batch=0")),
      "no rows may be published")
  }

  test("wire state mirror: a binlog file name with quote and backslash survives a restart") {
    val root = Files.createTempDirectory("cdc-wire-escape").toString
    val file = "bin\"log\\x.000001"
    def run(): Unit = CdcPipeline.startWire(spark, s"$root/wire", wireCluster,
      s"$root/out", s"$root/ck", s"$root/st").awaitTermination()
    writeWireSeg(s"$root/wire", Seq(
      schemaEvent(100, "CREATE TABLE `customers` (id INT PRIMARY KEY)", "CREATE",
        file = file),
      dataEvent("customers", 200, "c", """{"id":"1"}""", file = file)))
    run()
    assert(CdcPipeline.loadState(s"$root/st").get.position("log_file") == file)
    writeWireSeg(s"$root/wire", Seq(
      dataEvent("customers", 300, "c", """{"id":"2"}""", file = file)))
    run() // restarts from the saved state
    val st = CdcPipeline.loadState(s"$root/st").get
    assert(st.lastBatchId == 1L && st.position("log_file") == file &&
      st.position("log_pos") == "300")
    assert(spark.read.parquet(s"$root/out").select("log_file").distinct()
      .collect().map(_.getString(0)).toSeq == Seq(file))
  }
}

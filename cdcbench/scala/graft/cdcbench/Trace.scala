package graft.cdcbench

import graft.catalog.{SchemaCatalog, TableId}
import graft.cdc.{CdcOps, CdcReplay, CdcSqlFragments, DebeziumAdapter}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's per-layer breakdown, recorded from the benchmark's own
  * code around calls into each module's public functions.
  *
  *  1. Stream layer: one span per timed micro-batch (Spark's
  *     `triggerExecution`), with one child per `durationMs` phase, laid end
  *     to end in the order the micro-batch runs them.
  *  2. Every timed batch is replayed, after the drain, from its segment
  *     file through the public functions in the order `processBatch` /
  *     `startWire` call them, with a catalog advanced by `applyDdl` exactly
  *     as the batch advanced it. Replay-path layers are timed as cumulative
  *     prefixes: each prefix of the chain is forced by a `noop` write, the
  *     last by the topic-sorted parquet write, and a layer's time is its
  *     prefix's span minus the previous prefix's span. Driver-side steps
  *     (collects, `applyDdl`, the wire path's persisted frames) are timed
  *     directly.
  *
  * Spans (name, start, end, parent, batch id) stay in memory and are written
  * out as JSON lines when the run ends. Per-layer times are per-batch
  * medians; counts are totals over the timed batches.
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, batch: Long,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** In-memory span recorder; times are epoch nanoseconds. */
  final class Spans {
    private val buf = mutable.ArrayBuffer.empty[Span]
    private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def now(): Long = epochNs + System.nanoTime()
    def add(parent: Int, name: String, batch: Long, startNs: Long, endNs: Long): Int = {
      buf += Span(buf.size + 1, parent, name, batch, startNs, endNs)
      buf.size
    }
    /** Open a span now; [[close]] sets its end. */
    def open(parent: Int, name: String, batch: Long): Int = add(parent, name, batch, now(), 0L)
    def close(id: Int): Unit = buf(id - 1) = buf(id - 1).copy(endNs = now())
    def time[A](parent: Int, name: String, batch: Long)(f: => A): (A, Span) = {
      val s = now()
      val a = f
      val id = add(parent, name, batch, s, now())
      (a, buf(id - 1))
    }
    def size: Int = buf.size
    def write(file: Path): Unit = {
      Files.createDirectories(file.getParent)
      Files.write(file, buf.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","batch":${s.batch},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").asJava)
    }
  }

  /** Phases of one micro-batch in execution order. */
  private val StreamPhases =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Per-batch samples of one layer metric, keyed by metric name. */
  private final class Samples {
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def time(k: String, v: Double): Unit = times.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def count(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
    def med(k: String): Double = times.get(k).map(b => Bench.median(b.toSeq)).getOrElse(0.0)
  }

  /** Replay-path layers whose times make up `trace.layer_sum_ms`. */
  private val ReplayLayers = Seq("replay.fromEvents_ms", "cdcops.admit_ms", "cdcops.filter_ms",
    "cdcops.explodeRows_ms", "cdcops.enrich_ms", "cdcops.images_ms", "cdcops.typeTransforms_ms",
    "cdcops.envelope_ms", "cdcops.evolvePayload_ms", "catalog.applyDdl_ms", "sink.write_ms")
  private val WireLayers = Seq("debezium.fromSchemaChange_ms", "debezium.fromDebezium_ms",
    "wire.typedSlices_ms", "catalog.applyDdl_ms", "wire.plan_ms", "sink.write_ms")

  def run(spark: SparkSession, w: Workload, d: Dirs, in: Gen.Input, rounds: Seq[Round],
      prefixCatalog: String, dir: Path, spansFile: Path, m: Bench.Metrics): Unit = {
    val spans = new Spans
    val smp = new Samples
    val progress = rounds.flatMap(_.progress)

    // 1. stream layer, from the progress reports
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val root = spans.add(0, "stream.batch", p.batchId, start,
        start + dur.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = start
      StreamPhases.foreach { ph =>
        val len = dur.getOrElse(ph, 0L) * 1000000L
        spans.add(root, s"stream.$ph", p.batchId, at, at + len)
        at += len
        smp.time(s"stream.${ph}_ms", len / 1e6)
      }
    }

    // 2. replay of every timed batch
    val catalog = new SchemaCatalog(piiTables = CdcSqlFragments.PII_TABLES.toSet)
    catalog.restore(prefixCatalog)
    val alters0 = catalog.alterEvents.size
    var ddlApplied = 0
    progress.zipWithIndex.foreach { case (p, j) =>
      val seg = w.prefixSegs + j
      require(p.numInputRows == in.segRecords(seg),
        s"batch ${p.batchId} read ${p.numInputRows} records, segment $seg holds ${in.segRecords(seg)}")
      val file = d.input.resolve(f"seg-$seg%05d.parquet").toString
      val root = spans.open(0, "replay.batch", p.batchId)
      ddlApplied += (w match {
        case _: ReplayWorkload =>
          replayBatch(spark, file, p.batchId, catalog, dir, spans, root, smp)
        case _: WireWorkload =>
          wireBatch(spark, file, p.batchId, catalog, dir, spans, root, smp)
      })
      spans.close(root)
    }

    // catalog and state costs, on the final state (medians of five calls)
    val stateFile = d.state.resolve("state.json")
    val state = CdcPipeline.loadState(d.state.toString).get
    def med5(f: => Unit): Double = Bench.median((1 to 5).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 })
    val snapshot = catalog.snapshotJson
    // the replay must have evolved the catalog exactly as the drain did
    val drained = new SchemaCatalog(piiTables = CdcSqlFragments.PII_TABLES.toSet)
    drained.restore(state.catalogJson)
    require(drained.snapshotJson == snapshot,
      "the traced replay's catalog diverged from the drained pipeline's")

    Seq("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")
      .foreach(ph => m.put(s"stream.${ph}_ms", "ms", smp.med(s"stream.${ph}_ms")))
    m.put("stream.batches", "count", progress.size.toDouble)

    val layers = w match { case _: ReplayWorkload => ReplayLayers; case _ => WireLayers }
    val layerSum = layers.map(smp.med).sum
    m.put("pipeline.control_ms", "ms", smp.med("stream.addBatch_ms") - layerSum)
    m.put("pipeline.traced_control_ms", "ms", smp.med("pipeline.traced_control_ms"))
    m.put("pipeline.state_bytes", "bytes", Files.size(stateFile).toDouble)
    m.put("pipeline.loadState_ms", "ms", med5(CdcPipeline.loadState(d.state.toString)))
    m.put("trace.layer_sum_ms", "ms", layerSum)

    m.put("replay.fromEvents_ms", "ms", smp.med("replay.fromEvents_ms"))
    m.put("replay.rows", "count", smp.counts.getOrElse("replay.rows", 0.0))
    Seq("admit", "filter", "explodeRows", "enrich", "images", "typeTransforms", "envelope")
      .foreach(l => m.put(s"cdcops.${l}_ms", "ms", smp.med(s"cdcops.${l}_ms")))
    Seq("rows_admitted", "rows_data", "rows_enveloped")
      .foreach(c => m.put(s"cdcops.$c", "count", smp.counts.getOrElse(s"cdcops.$c", 0.0)))
    m.put("cdcops.evolvePayload_ms", "ms", smp.med("cdcops.evolvePayload_ms"))
    m.put("cdcops.payload_json_bytes", "bytes", smp.counts.getOrElse("cdcops.payload_json_bytes", 0.0))
    m.put("cdcops.max_schema_version", "count",
      smp.counts.getOrElse("cdcops.max_schema_version", 0.0))
    m.put("cdcops.interval_rows", "count", w match {
      case _: ReplayWorkload => catalog.alterEvents.size.toDouble
      case _ => 0.0
    })

    m.put("catalog.applyDdl_ms", "ms", smp.med("catalog.applyDdl_ms"))
    m.put("catalog.ddl_applied", "count", ddlApplied.toDouble)
    m.put("catalog.alter_events", "count", (catalog.alterEvents.size - alters0).toDouble)
    m.put("catalog.snapshotJson_ms", "ms", med5(catalog.snapshotJson))
    m.put("catalog.snapshot_bytes", "bytes", snapshot.getBytes("UTF-8").length.toDouble)
    m.put("catalog.restore_ms", "ms", med5(
      new SchemaCatalog(piiTables = CdcSqlFragments.PII_TABLES.toSet).restore(state.catalogJson)))

    // sink shape, from the pipeline's own published batches
    val published = progress.map(p => d.out.resolve(s"batch=${p.batchId}"))
    val files = published.map(b => Bench.list(b).filter(_.getFileName.toString.endsWith(".parquet")))
    val rows = spark.read.parquet(published.map(_.toString): _*).count()
    m.put("sink.write_ms", "ms", smp.med("sink.write_ms"))
    m.put("sink.bytes_per_row", "bytes", files.flatten.map(f => Files.size(f).toDouble).sum /
      math.max(rows, 1L))
    m.put("sink.files", "count", Bench.median(files.map(_.size.toDouble)))

    Seq("fromDebezium", "fromSchemaChange")
      .foreach(l => m.put(s"debezium.${l}_ms", "ms", smp.med(s"debezium.${l}_ms")))
    Seq("rows_parsed", "rows_quarantined")
      .foreach(c => m.put(s"debezium.$c", "count", smp.counts.getOrElse(s"debezium.$c", 0.0)))
    m.put("wire.typedSlices_ms", "ms", smp.med("wire.typedSlices_ms"))
    m.put("wire.plan_ms", "ms", smp.med("wire.plan_ms"))
    Seq("position_segments", "slices", "groups")
      .foreach(c => m.put(s"wire.$c", "count", smp.counts.getOrElse(s"wire.$c", 0.0)))

    spans.write(spansFile)
    m.put("trace.spans", "count", spans.size.toDouble)
    println(s"spans written: ${spans.size} to $spansFile")
    println(f"reconciliation: stream.addBatch_ms=${smp.med("stream.addBatch_ms")}%.1f " +
      f"layer_sum_ms=$layerSum%.1f (${layers.map(l => f"$l=${smp.med(l)}%.1f").mkString(" ")}) " +
      f"gap(pipeline.control_ms)=${smp.med("stream.addBatch_ms") - layerSum}%.1f " +
      f"of which traced driver-side control=${smp.med("pipeline.traced_control_ms")}%.1f")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** One replay-path batch, in `processBatch` order. Returns DDLs applied. */
  private def replayBatch(spark: SparkSession, file: String, batchId: Long,
      catalog: SchemaCatalog, dir: Path, spans: Spans, root: Int, smp: Samples): Int = {
    def prefix(name: String, df: DataFrame): Double =
      spans.time(root, s"prefix:$name", batchId)(noop(df))._2.ms
    var control = 0.0
    def ctl[A](name: String)(f: => A): A = {
      val (a, s) = spans.time(root, s"control:$name", batchId)(f)
      control += s.ms
      a
    }

    val src = spark.read.schema(CdcPipeline.replaySchema).parquet(file)
    val tScan = prefix("scan", src)
    val replayed = CdcReplay.fromEvents(src)
    val tReplay = prefix("replay.fromEvents", replayed)
    val admitted = CdcOps.admit(replayed)
    val tAdmit = prefix("cdcops.admit", admitted)
    smp.time("replay.fromEvents_ms", math.max(0, tReplay - tScan))
    smp.time("cdcops.admit_ms", math.max(0, tAdmit - tReplay))

    // processBatch persists the admitted batch and runs its driver-side
    // steps on the cache
    val cached = admitted.persist()
    try {
      // filling the cache re-runs the scan, fromEvents and admit, already
      // timed above: its span is neither a layer nor control
      val nAdmitted = spans.time(root, "cache.fill", batchId)(cached.count())._1
      val ddls = ctl("ddlCollect")(cached.filter(col("kind") === "ddl")
        .withColumn("stmt", expr(CdcSqlFragments.DDL_STMT))
        .select("event_id", "database_name", "stmt").collect().sortBy(_.getLong(0)))
      val (_, ddlSpan) = spans.time(root, "catalog.applyDdl", batchId) {
        ddls.foreach(r => catalog.applyDdl(CdcSqlFragments.CLUSTER, r.getString(1),
          r.getString(2), atEventId = r.getLong(0)))
      }
      smp.time("catalog.applyDdl_ms", ddlSpan.ms)
      ctl("position")(cached.agg(max(struct(col("log_file"), col("log_pos")))).collect())

      val tBase = prefix("cache", cached)
      val data = CdcOps.blacklistFilter(CdcOps.retarget(CdcOps.whitelist(CdcOps.dataOnly(cached))))
      val tFilter = prefix("cdcops.filter", data)
      val reg = ctl("register") {
        data.select("database_name", "target_table").distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).sorted.foreach { case (db, tbl) =>
            val id = TableId(CdcSqlFragments.CLUSTER, db, tbl)
            if (catalog.lookup(id).isEmpty) catalog.register(id, StructType(Seq(
              StructField("payload_id", LongType), StructField("payload_value", DoubleType),
              StructField("payload_k", IntegerType))))
          }
        spark.createDataFrame(catalog.all.toSeq.map { case (id, ts) =>
          (id.database, id.table, ts.schemaId, ts.containsPii) })
          .toDF("database_name", "target_table", "schema_id", "contains_pii")
      }
      val exploded = CdcOps.explodeRows(data)
      val tExplode = prefix("cdcops.explodeRows", exploded)
      val enriched = CdcOps.enrich(exploded, reg)
      val tEnrich = prefix("cdcops.enrich", enriched)
      val imaged = CdcOps.images(enriched)
      val tImages = prefix("cdcops.images", imaged)
      val typed = CdcOps.typeTransforms(imaged)
      val tTypes = prefix("cdcops.typeTransforms", typed)
      val env0 = CdcOps.envelope(typed)
      val tEnvelope = prefix("cdcops.envelope", env0)
      import spark.implicits._
      val intervals = catalog.alterEvents
        .groupBy(h => (h._1.database, h._1.table)).toSeq.flatMap { case ((db, tbl), es) =>
          val at = es.map(_._2).sorted
          at.zipWithIndex.map { case (from, i) => (db, tbl, i + 2L, from, at.lift(i + 1)) }
        }.toDF("database_name", "base_table", "version", "from_id", "to_id")
      val env = CdcOps.evolvePayload(env0, intervals)
      val tEvolve = prefix("cdcops.evolvePayload", env)
      val (_, sinkSpan) = spans.time(root, "prefix:sink.write", batchId) {
        env.repartition(col("topic")).sortWithinPartitions("pos_key")
          .write.mode(SaveMode.Overwrite).parquet(dir.resolve(s"batch=$batchId").toString)
      }
      Seq("cdcops.filter_ms" -> (tFilter - tBase), "cdcops.explodeRows_ms" -> (tExplode - tFilter),
        "cdcops.enrich_ms" -> (tEnrich - tExplode), "cdcops.images_ms" -> (tImages - tEnrich),
        "cdcops.typeTransforms_ms" -> (tTypes - tImages),
        "cdcops.envelope_ms" -> (tEnvelope - tTypes),
        "cdcops.evolvePayload_ms" -> (tEvolve - tEnvelope),
        "sink.write_ms" -> (sinkSpan.ms - tEvolve))
        .foreach { case (k, v) => smp.time(k, math.max(0, v)) }
      smp.time("pipeline.traced_control_ms", control)

      // counts, outside the timed spans
      smp.count("replay.rows", src.count().toDouble)
      smp.count("cdcops.rows_admitted", nAdmitted.toDouble)
      smp.count("cdcops.rows_data", data.count().toDouble)
      val out = spark.read.parquet(dir.resolve(s"batch=$batchId").toString)
        .agg(count(lit(1)), sum(length(col("payload_json"))), max(col("schema_version")))
        .collect()(0)
      smp.count("cdcops.rows_enveloped", out.getLong(0).toDouble)
      smp.count("cdcops.payload_json_bytes", if (out.isNullAt(1)) 0.0 else out.getLong(1).toDouble)
      if (!out.isNullAt(2)) smp.counts("cdcops.max_schema_version") = math.max(
        smp.counts.getOrElse("cdcops.max_schema_version", 0.0), out.getLong(2).toDouble)
      ddls.length
    } finally cached.unpersist()
  }

  /** One wire-path batch, in `startWire` order. Returns DDLs applied. */
  private def wireBatch(spark: SparkSession, file: String, batchId: Long,
      catalog: SchemaCatalog, dir: Path, spans: Spans, root: Int, smp: Samples): Int = {
    var control = 0.0
    def ctl[A](name: String)(f: => A): A = {
      val (a, s) = spans.time(root, s"control:$name", batchId)(f)
      control += s.ms
      a
    }
    def layer[A](name: String)(f: => A): A = {
      val (a, s) = spans.time(root, name, batchId)(f)
      smp.time(s"${name}_ms", s.ms)
      a
    }
    val cluster = Gen.Cluster
    // as in startWire, the first collect (schema changes) fills the cache
    val cached = spark.read.schema(CdcPipeline.wireSchema).parquet(file).persist()
    try {
      val (changes, changeRows) = layer("debezium.fromSchemaChange") {
        val c = DebeziumAdapter.fromSchemaChange(cached.filter(col("topic") === cluster))
        (c, c.select("cluster_name", "database_name", "ddl", "event_id")
          .collect().sortBy(_.getLong(3)))
      }
      val parsed = DebeziumAdapter.fromDebezium(
        cached.filter(col("topic") =!= cluster && col("value").isNotNull)).persist()
      try {
        val nParsed = layer("debezium.fromDebezium")(parsed.count())
        // the same column expressions startWire builds
        val wellFormed = col("database_name").isNotNull && col("table_name").isNotNull &&
          col("log_file").isNotNull && col("log_pos").isNotNull
        val data = parsed.filter(wellFormed)
          .withColumn("__pos", DebeziumAdapter.packedEventId(col("log_file"), col("log_pos")))
        val img = when(col("message_type") === "delete", col("before")).otherwise(col("after"))
        val posKey = concat_ws(":", col("log_file"),
          lpad(col("log_pos").cast("string"), 10, "0"),
          lpad(col("row_idx").cast("string"), 4, "0")).as("pos_key")
        val meta = Seq(col("message_type"), col("log_file"), col("log_pos"), col("row_idx"),
          col("ts_us"), col("transaction_id"), posKey)

        val outs = Seq.newBuilder[((String, String), DataFrame)]
        var slicesMs = 0.0
        var ddlMs = 0.0
        var lower = Long.MinValue
        def slices(seg: DataFrame): Unit = {
          val (s, sp) = spans.time(root, "wire.typedSlices", batchId)(
            CdcPipeline.typedSlicesFor(catalog, cluster, seg, img, meta))
          slicesMs += sp.ms
          outs ++= s
        }
        changeRows.foreach { ch =>
          val at = ch.getLong(3)
          slices(data.filter(col("__pos") >= lower && col("__pos") < at))
          ddlMs += spans.time(root, "catalog.applyDdl", batchId)(
            catalog.applyDdl(ch.getString(0), ch.getString(1), ch.getString(2), atEventId = at))._2.ms
          lower = at
        }
        slices(data.filter(col("__pos") >= lower))
        smp.time("wire.typedSlices_ms", slicesMs)
        smp.time("catalog.applyDdl_ms", ddlMs)
        val typed = outs.result()
        val quarantine = parsed.filter(!wellFormed).select(Seq(
          lit("__unparsed").as("topic"), lit(-1).as("schema_id"), lit(false).as("contains_pii"),
          lit(0L).as("schema_version"), to_json(img).as("payload_json")) ++ meta: _*)
        val groups = layer("wire.plan") {
          val gs = (CdcPipeline.groupedUnions(typed) :+ quarantine)
            .map(_.repartition(col("topic")).sortWithinPartitions("pos_key"))
          gs.foreach(_.queryExecution.executedPlan)
          gs
        }
        val stage = dir.resolve(s".batch_$batchId.staging")
        layer("sink.write") {
          groups.foreach(_.write.mode(SaveMode.Append).parquet(stage.toString))
          Files.move(stage, dir.resolve(s"batch=$batchId"))
        }
        ctl("position")(data.select("log_file", "log_pos")
          .unionByName(changes.select("log_file", "log_pos"))
          .agg(max(struct(col("log_file"), col("log_pos")))).collect())
        smp.time("pipeline.traced_control_ms", control)

        smp.count("debezium.rows_parsed", nParsed.toDouble)
        smp.count("debezium.rows_quarantined", spark.read.parquet(
          dir.resolve(s"batch=$batchId").toString)
          .filter(col("topic").isin("__unparsed", "__unregistered")).count().toDouble)
        smp.count("wire.position_segments", changeRows.length + 1.0)
        smp.count("wire.slices", typed.size.toDouble)
        smp.count("wire.groups", groups.size.toDouble)
        changeRows.length
      } finally parsed.unpersist()
    } finally cached.unpersist()
  }
}

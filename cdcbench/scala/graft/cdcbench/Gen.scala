package graft.cdcbench

import graft.streaming.CdcPipeline
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator. It writes the benchmark's input itself, in the
  * program's public input schemas ([[CdcPipeline.replaySchema]] and
  * [[CdcPipeline.wireSchema]]), without calling any of the program's own
  * encoders, so a change to the engine cannot change what it is fed. */
object Gen {

  /** A generated, segmented input. Segment files wait in a holding
    * directory until [[stage]] moves them into the ingress directory. */
  trait Input {
    def segFiles: IndexedSeq[Path]
    /** Input records per segment (events or Kafka frames). */
    def segRecords: IndexedSeq[Int]
    def sha256: String
    def records: Long = segRecords.map(_.toLong).sum
  }

  final case class Ev(eventId: Long, userId: Long, eventType: String,
      value: Double, k: Int, tsUs: Long)

  final case class ReplayInput(segFiles: IndexedSeq[Path], segRecords: IndexedSeq[Int],
      sha256: String, maxAdmitted: (String, Long)) extends Input

  /** One expected published row of the wire path. */
  final case class WireRow(topic: String, posKey: String, schemaVersion: Long,
      messageType: String)

  final case class WireInput(segFiles: IndexedSeq[Path], segRecords: IndexedSeq[Int],
      sha256: String, expected: IndexedSeq[WireRow], maxPosition: (String, Long)) extends Input

  val Cluster = "benchcluster"

  /** Move segments [from, until) into `dir`, with strictly increasing
    * modification times: the file source orders new files by mtime, so
    * segment i is micro-batch i. */
  def stage(in: Input, dir: Path, from: Int, until: Int): Unit = {
    Files.createDirectories(dir)
    val base = System.currentTimeMillis() - 3600L * 1000
    (from until until).foreach { i =>
      val target = dir.resolve(f"seg-$i%05d.parquet")
      Files.move(in.segFiles(i), target, StandardCopyOption.ATOMIC_MOVE)
      target.toFile.setLastModified(base + i * 1000L)
    }
  }

  /** One parquet file per segment, written in one Spark job (one task per
    * segment), then renamed into `holdDir` in segment order. */
  private def writeSegments(spark: SparkSession, segs: IndexedSeq[IndexedSeq[Row]],
      schema: StructType, holdDir: Path): IndexedSeq[Path] = {
    val tmp = holdDir.resolveSibling(holdDir.getFileName.toString + ".tmp")
    val rdd = spark.sparkContext.parallelize(segs, segs.size).flatMap(identity)
    spark.createDataFrame(rdd, schema).write.parquet(tmp.toString)
    val parts = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    require(parts.length == segs.size,
      s"expected ${segs.size} segment files, the writer produced ${parts.length}")
    Files.createDirectories(holdDir)
    val out = parts.indices.map { i =>
      val p = holdDir.resolve(f"seg-$i%05d.parquet")
      Files.move(parts(i), p)
      p
    }
    Bench.deleteTree(tmp)
    out
  }

  private def hex(d: MessageDigest): String = d.digest().map(b => f"$b%02x").mkString

  // ---- replay ---------------------------------------------------------

  private val Epoch = 1704067200000000L // 2024-01-01T00:00:00Z in µs

  def logFile(eventId: Long): String = f"binlog.${eventId / 1000}%06d"
  def logPos(eventId: Long): Long = (eventId % 1000) * 4 + 4

  def replay(spark: SparkSession, w: ReplayWorkload, seed: Long, holdDir: Path): ReplayInput = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    var nextId = 0L
    val segs = (0 until w.totalSegs).map { s =>
      val types: Array[String] =
        if (w.churn) {
          // the sf0.1 `events` mix: 20% of each type, users 0..1499
          val mix = Array("signup", "purchase", "click", "view", "error")
          Array.tabulate(w.segEvents)(i => mix(i % 5))
        } else {
          val hb = w.segEvents / 100 // heartbeats
          val other = w.segEvents / 100 // `other` kinds, dropped by admit
          val ddl = if (s % w.ddlEvery == w.ddlEvery - 1) 1 else 0
          Array.tabulate(w.segEvents) { i =>
            if (i < hb) "view"
            else if (i < hb + other) "error:other"
            else if (i < hb + other + ddl) "error:ddl"
            else {
              val u = rnd.nextInt(100)
              if (u < 35) "signup" else if (u < 75) "purchase" else "click"
            }
          }
        }
      shuffle(types, rnd)
      types.toIndexedSeq.map { t =>
        val id = nextId
        nextId += 1
        val users = if (w.churn) 1500 else 10000
        val k = t match {
          case "error:other" => 5 * rnd.nextInt(20) + 4
          case "error:ddl" =>
            var c = rnd.nextInt(100); while (c % 5 == 4) c = rnd.nextInt(100); c
          case _ => rnd.nextInt(100)
        }
        Ev(id, rnd.nextInt(users).toLong, t.takeWhile(_ != ':'),
          rnd.nextInt(50000) / 100.0, k, Epoch + id * 5000 + rnd.nextInt(5000))
      }
    }
    val md = MessageDigest.getInstance("SHA-256")
    segs.foreach(_.foreach(e => md.update(
      s"${e.eventId},${e.userId},${e.eventType},${e.value},${e.k},${e.tsUs}\n".getBytes("UTF-8"))))
    val lastAdmitted = segs.flatten.filterNot(e => e.eventType == "error" && e.k % 5 == 4)
      .last.eventId
    val rows = segs.map(_.map(e =>
      Row(e.eventId, e.userId, e.eventType, e.value, s"""{"k": ${e.k}}""", e.tsUs)))
    val files = writeSegments(spark, rows, CdcPipeline.replaySchema, holdDir)
    ReplayInput(files, segs.map(_.size), hex(md), (logFile(lastAdmitted), logPos(lastAdmitted)))
  }

  private def shuffle[A](a: Array[A], rnd: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  // ---- Debezium wire ----------------------------------------------------

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  private def image(m: Seq[(String, String)]): String =
    obj(m.map { case (k, v) => k -> q(v) }: _*)

  /** Frames per binlog file before rotation, and bytes per event. */
  private val FileFrames = 20000
  private val EventBytes = 160L

  def wirePosition(g: Long): (String, Long) =
    (f"binlog.${g / FileFrames + 1}%06d", 4L + (g % FileFrames) * EventBytes)

  def wire(spark: SparkSession, w: WireWorkload, seed: Long, holdDir: Path): WireInput = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val tables = (0 until w.tables).map(i => (s"shop${i % 4}", s"tbl$i"))
    // Zipf(1.1) popularity over tables, by index
    val cdf = {
      val ws = tables.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      val tot = ws.sum
      ws.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def zipf(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, tables.size - 1)
    }
    val nextRowId = Array.fill(tables.size)(0L)
    val altered = Array.fill(tables.size)(0) // ALTERs applied so far, per table
    val md = MessageDigest.getInstance("SHA-256")
    val expected = IndexedSeq.newBuilder[WireRow]
    var g = 0L
    var maxPos = ("", 0L)

    def source(db: String, tbl: String, pos: (String, Long), tsMs: Long): String = obj(
      "version" -> q("2.6"), "connector" -> q("mysql"), "name" -> q(Cluster),
      "ts_ms" -> tsMs.toString, "db" -> q(db), "table" -> q(tbl), "server_id" -> "1",
      "gtid" -> "null", "file" -> q(pos._1), "pos" -> pos._2.toString, "row" -> "0")

    def ddlFrame(t: Int, ddl: String, kind: String): Row = {
      val (db, tbl) = tables(t)
      val pos = wirePosition(g); g += 1
      maxPos = pos
      val tsMs = Epoch / 1000 + g
      val v = obj("payload" -> obj(
        "source" -> source(db, tbl, pos, tsMs), "ts_ms" -> tsMs.toString,
        "databaseName" -> q(db), "schemaName" -> "null", "ddl" -> q(ddl),
        "tableChanges" -> s"[${obj("type" -> q(kind), "id" -> q("\"" + db + "\".\"" + tbl + "\""))}]"))
      Row(Cluster, db.getBytes("UTF-8"), v.getBytes("UTF-8"), Seq.empty[Row])
    }

    def dataFrames(t: Int): Seq[Row] = {
      val (db, tbl) = tables(t)
      val pos = wirePosition(g); g += 1
      maxPos = pos
      val tsMs = Epoch / 1000 + g
      val u = rnd.nextInt(100)
      val op = if (u < 50 || nextRowId(t) == 0) "c" else if (u < 85) "u" else "d"
      val id = if (op == "c") { nextRowId(t) += 1; nextRowId(t) } else 1 + rnd.nextLong(nextRowId(t))
      def img(rev: Int) = Seq("id" -> id.toString, "name" -> s"n$id-$rev",
        "amount" -> f"${rnd.nextInt(100000) / 100.0}%.2f") ++
        (1 to altered(t)).map(a => s"note$a" -> s"v$a-$rev")
      val before = if (op == "c") "null" else image(img(0))
      val after = if (op == "d") "null" else image(img(1))
      val v = obj("payload" -> obj("before" -> before, "after" -> after,
        "source" -> source(db, tbl, pos, tsMs), "op" -> q(op), "ts_ms" -> tsMs.toString))
      val topic = s"$Cluster.$db.$tbl"
      expected += WireRow(s"$db.$tbl", f"${pos._1}:${pos._2}%010d:0000", 1L + altered(t),
        Map("c" -> "create", "u" -> "update", "d" -> "delete")(op))
      val key = s"""{"id":$id}""".getBytes("UTF-8")
      val frame = Row(topic, key, v.getBytes("UTF-8"), Seq.empty[Row])
      // Debezium follows a delete with a tombstone (null value), which the
      // sink drops by contract
      if (op == "d") Seq(frame, Row(topic, key, null, Seq.empty[Row])) else Seq(frame)
    }

    // ALTERs land in fixed timed segments, halfway through, on the tables in
    // popularity order. Where one lands sets how many tables each side of it
    // holds, so how many typed slices the batch makes: a seeded offset or
    // table would make the batch cost differ by seed, not only the values.
    val alterSegs = (0 until w.alters).map(i => w.prefixSegs + (i * w.timedSegs) / w.alters).toSet
    var alters = 0
    val segs = (0 until w.totalSegs).map { s =>
      val out = IndexedSeq.newBuilder[Row]
      var n = 0
      def add(rs: Seq[Row]): Unit = { out ++= rs; n += rs.size }
      // segment 0 opens by creating every table, so each CREATE precedes
      // its table's first row
      if (s == 0) tables.indices.foreach { t =>
        add(Seq(ddlFrame(t, s"CREATE TABLE `${tables(t)._2}` (id BIGINT PRIMARY KEY, " +
          "name VARCHAR(64), amount DECIMAL(10,2))", "CREATE")))
      }
      var alterAt = if (alterSegs(s)) w.segFrames / 2 else -1
      while (n < w.segFrames) {
        if (alterAt >= 0 && n >= alterAt) {
          val t = alters % tables.size
          alters += 1
          altered(t) += 1
          add(Seq(ddlFrame(t,
            s"ALTER TABLE `${tables(t)._2}` ADD COLUMN note${altered(t)} VARCHAR(32)", "ALTER")))
          alterAt = -1
        }
        add(dataFrames(zipf()))
      }
      out.result()
    }
    segs.foreach(_.foreach { r =>
      md.update(r.getString(0).getBytes("UTF-8"))
      md.update(r.getAs[Array[Byte]](1))
      Option(r.getAs[Array[Byte]](2)).foreach(md.update)
      md.update('\n'.toByte)
    })
    val files = writeSegments(spark, segs, CdcPipeline.wireSchema, holdDir)
    WireInput(files, segs.map(_.size), hex(md), expected.result(), maxPos)
  }
}

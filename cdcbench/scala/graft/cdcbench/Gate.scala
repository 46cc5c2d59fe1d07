package graft.cdcbench

import graft.cdc.{CdcOps, CdcReplay}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Outcome of the correctness gate over one published output. `failed`
  * counts generated input records whose expected output is missing,
  * duplicated, out of order or wrong (plus one for a wrong saved
  * position). */
final case class GateResult(attempted: Long, failed: Long, problems: Seq[String]) {
  def failedShare: Double = failed.toDouble / attempted
  def ok: Boolean = failed == 0 && problems.isEmpty
}

object Gate {

  /** Columns the streaming-vs-batch comparison of the pipeline spec uses,
    * plus the T22b schema version. */
  private val ReplayCols = Seq("event_id", "row_idx", "topic", "payload_id", "pos_key",
    "message_type", "payload_value", "ts_iso", "schema_version")

  private val WireCols = Seq("topic", "pos_key", "schema_version", "message_type")

  def replay(spark: SparkSession, d: Dirs, in: Gen.ReplayInput, out: Path): GateResult = {
    val events = spark.read.schema(CdcPipeline.replaySchema).parquet(d.input.toString)
    val intervals = CdcOps.schemaIntervals(CdcOps.admit(CdcReplay.fromEvents(events)))
    val expected = CdcOps.evolvePayload(CdcOps.pipeline(events), intervals)
      .select(ReplayCols.map(col): _*)
    val position = CdcPipeline.loadState(d.state.toString).map(_.position).getOrElse(Map.empty)
    val posOk = position.get("log_file").contains(in.maxAdmitted._1) &&
      position.get("log_pos").contains(in.maxAdmitted._2.toString)
    result(in.records, compare(spark, expected, out, ReplayCols, col("event_id")),
      if (posOk) Nil else Seq(s"saved position $position, expected ${in.maxAdmitted}"))
  }

  def wire(spark: SparkSession, d: Dirs, in: Gen.WireInput, out: Path): GateResult = {
    import spark.implicits._
    val expected = in.expected.map(r => (r.topic, r.posKey, r.schemaVersion, r.messageType))
      .toDF(WireCols: _*)
    val quarantined = spark.read.parquet(out.toString)
      .filter(col("topic").isin("__unparsed", "__unregistered")).count()
    val position = CdcPipeline.loadState(d.state.toString).map(_.position).getOrElse(Map.empty)
    val posOk = position.get("log_file").contains(in.maxPosition._1) &&
      position.get("log_pos").contains(in.maxPosition._2.toString)
    result(in.records, compare(spark, expected, out, WireCols, col("pos_key")),
      (if (posOk) Nil else Seq(s"saved position $position, expected ${in.maxPosition}")) ++
        (if (quarantined == 0) Nil else Seq(s"$quarantined rows quarantined")))
  }

  /** A wrong saved position or quarantined rows count as one failure each,
    * on top of the records with a bad output row. */
  private def result(attempted: Long, rows: (Long, Seq[String]),
      other: Seq[String]): GateResult =
    GateResult(attempted, math.min(attempted, rows._1 + other.size), rows._2 ++ other)

  /** Published rows against the expected rows as multisets (one
    * aggregation: +1 per expected row, -1 per published row, any non-zero
    * sum is a missing, extra, duplicated or wrong row), and strictly
    * ascending pos_key within each topic of each published file (which also
    * catches a key repeated inside one file). `id` names the input record a
    * row came from. Returns the number of input records with a bad row. */
  private def compare(spark: SparkSession, expected: DataFrame, out: Path, cols: Seq[String],
      id: Column): (Long, Seq[String]) = {
    val raw = spark.read.parquet(out.toString)
    val side = expected.select(cols.map(col) :+ lit(1).as("__side"): _*)
      .unionByName(raw.select(cols.map(col) :+ lit(-1).as("__side"): _*))
    val wrong = side.groupBy(cols.map(col): _*).agg(sum("__side").as("__n"))
      .filter(col("__n") =!= 0).select(id.as("id"))
    val w = Window.partitionBy("__file", "topic").orderBy("__row")
    val disordered = raw
      .withColumn("__file", input_file_name())
      .withColumn("__row", monotonically_increasing_id())
      .withColumn("__prev", lag(col("pos_key"), 1).over(w))
      .filter(col("__prev") >= col("pos_key")).select(id.as("id"))
    val bad = wrong.union(disordered).distinct().count()
    (bad, if (bad == 0) Nil else Seq(s"$bad input records with a missing, extra, duplicated, " +
      "wrong or out-of-order output row"))
  }

  /** Negative control: a copy of `out` with one `batch=` directory
    * duplicated under a new id and one data file deleted from another. */
  def corruptCopy(out: Path, target: Path): Unit = {
    Bench.copyTree(out, target)
    val batches = Bench.list(target).filter(_.getFileName.toString.startsWith("batch="))
      .sortBy(_.getFileName.toString.stripPrefix("batch=").toLong)
    def dataFiles(p: Path) = Bench.list(p).filter(f => f.getFileName.toString.endsWith(".parquet") &&
      Files.size(f) > 0)
    val withData = batches.filter(b => dataFiles(b).nonEmpty)
    require(withData.size >= 2, "the negative control needs two non-empty batches")
    val dupOf = withData.head
    val maxId = batches.last.getFileName.toString.stripPrefix("batch=").toLong
    Bench.copyTree(dupOf, target.resolve(s"batch=${maxId + 1000}"))
    Files.delete(dataFiles(withData.last).maxBy(f => Files.size(f)))
  }
}

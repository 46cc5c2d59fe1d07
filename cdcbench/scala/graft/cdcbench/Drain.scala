package graft.cdcbench

import graft.streaming.CdcPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The directories one run's pipeline works in. */
final case class Dirs(root: Path) {
  val hold: Path = root.resolve("hold")
  val input: Path = root.resolve("input")
  val out: Path = root.resolve("out")
  val checkpoint: Path = root.resolve("checkpoint")
  val state: Path = root.resolve("state")
}

/** One drain: a `start`/`startWire` call until its query terminates. */
final case class Round(wallNs: Long, setupMs: Double, progress: Seq[StreamingQueryProgress]) {
  def batchMs: Seq[Double] = progress.map(_.durationMs.get("triggerExecution").doubleValue)
  def inputRows: Long = progress.map(_.numInputRows).sum
}

object Drain {

  def start(spark: SparkSession, w: Workload, d: Dirs): StreamingQuery = w match {
    case _: ReplayWorkload =>
      CdcPipeline.start(spark, d.input.toString, d.out.toString, d.checkpoint.toString,
        d.state.toString)
    case _: WireWorkload =>
      CdcPipeline.startWire(spark, d.input.toString, Gen.Cluster, d.out.toString,
        d.checkpoint.toString, d.state.toString)
  }

  /** Start a resumed drain over everything staged, wait for it to end and
    * for its instance lock to be released (the release runs on Spark's
    * listener thread, after `awaitTermination` returns). */
  def run(spark: SparkSession, w: Workload, d: Dirs): Round = {
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = start(spark, w, d)
    q.awaitTermination()
    val wallNs = System.nanoTime() - t0
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    require(progress.nonEmpty, s"the drain of ${w.name} ran no micro-batch")
    val firstBatch = java.time.Instant.parse(progress.head.timestamp).toEpochMilli
    val lock = d.state.resolve("lock")
    val deadline = System.currentTimeMillis() + 30000
    while (Files.exists(lock) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(!Files.exists(lock), "the pipeline did not release its instance lock")
    Round(wallNs, (firstBatch - wall0).toDouble, progress)
  }
}

/** Live heap: heap in use right after a full collection. Spark frees
  * unpersisted blocks and unreachable broadcasts asynchronously, on a
  * cleaner thread that a first collection wakes, so the heap is read after
  * a second collection. */
object LiveHeap {
  def afterFullGc(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** Process CPU time, total GC time and the host's steal time (the time a
  * hypervisor ran something else on this machine's CPUs, from the `steal`
  * column of /proc/stat; 0 where that file is missing), to difference over
  * an interval. */
final case class ProcSample(cpuNs: Long, gcMs: Long, stealMs: Long)

object ProcSample {
  def now(): ProcSample = ProcSample(
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    stealMs())

  /** USER_HZ is 100 on Linux, so one jiffy is 10 ms. */
  private def stealMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().next() finally src.close()
      cpu.trim.split("\\s+").lift(8).map(_.toLong * 10).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }
}

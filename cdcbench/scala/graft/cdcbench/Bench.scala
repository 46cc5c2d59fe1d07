package graft.cdcbench

import graft.streaming.CdcPipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** CDC drain benchmark: one run of one workload.
  *
  * {{{
  * Bench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  * }}}
  *
  * Generates the seeded input, drains an untimed prefix, times `rounds`
  * resumed drains through `CdcPipeline.start` / `startWire`, checks the
  * published output, and prints one `metric <name> <value> <unit>` line
  * per metric plus a final `result {json}` line. With `--trace 1` it then
  * replays every timed micro-batch through the modules' public functions
  * (see [[Trace]]) and reports per-layer metrics instead. Exits 1 when the
  * correctness gate fails.
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
      spans: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(m.getOrElse("spans", s"${need("workload")}-spans.jsonl")).toAbsolutePath)
  }

  /** Metrics in print order: name -> (value, unit). */
  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, unit: String, v: Double): Unit = m(name) = (v, unit)
    def toSeq: Seq[(String, (Double, String))] = m.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload, a.seconds)
    val spark = graft.Tables.session("cdcbench",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val code =
      try run(spark, w, a)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, w: Workload, a: Args): Int = {
    val t0 = System.nanoTime()
    def since(t: Long) = f"${(System.nanoTime() - t) / 1e9}%.2f"
    deleteTree(a.work)
    val d = Dirs(a.work)
    val input: Gen.Input = w match {
      case r: ReplayWorkload => Gen.replay(spark, r, a.seed, d.hold)
      case x: WireWorkload => Gen.wire(spark, x, a.seed, d.hold)
    }
    println(s"input workload=${w.name} seed=${a.seed} segments=${w.totalSegs} " +
      s"records=${input.records} timed_records=${input.segRecords.drop(w.prefixSegs).sum} " +
      s"sha256=${input.sha256}")

    val tPrefix = System.nanoTime()
    // untimed prefix: JIT warm-up, and the state a restart finds
    Gen.stage(input, d.input, 0, w.prefixSegs)
    Drain.run(spark, w, d)
    val prefixCatalog = CdcPipeline.loadState(d.state.toString).get.catalogJson

    val tTimed = System.nanoTime()
    // timed resumed drains
    val rounds = mutable.ArrayBuffer.empty[Round]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    var cpuNs = 0L
    var gcMs = 0L
    var stealMs = 0L
    (0 until w.rounds).foreach { r =>
      val from = w.prefixSegs + r * w.segsPerRound
      Gen.stage(input, d.input, from, from + w.segsPerRound)
      val p0 = ProcSample.now()
      rounds += Drain.run(spark, w, d)
      val p1 = ProcSample.now()
      cpuNs += p1.cpuNs - p0.cpuNs
      gcMs += p1.gcMs - p0.gcMs
      stealMs += p1.stealMs - p0.stealMs
      // outside the timed window: what the drain left live on the heap
      heapMb += LiveHeap.afterFullGc() / 1048576.0
    }
    val timedRecords = input.segRecords.drop(w.prefixSegs).map(_.toLong).sum
    val timedRows = rounds.map(_.inputRows).sum
    val wallNs = rounds.map(_.wallNs).sum
    val batchMs = rounds.toSeq.flatMap(_.batchMs).sorted
    // per-round throughput: records staged for the round over its wall time
    val roundRate = rounds.toSeq.zipWithIndex.map { case (r, i) =>
      val from = w.prefixSegs + i * w.segsPerRound
      input.segRecords.slice(from, from + w.segsPerRound).sum / (r.wallNs / 1e9)
    }
    // the whole timed drain: later rounds meet a deeper schema history, so
    // the rounds' rates differ by design and are pooled, not medianed
    val eventsPerS = timedRecords / (wallNs / 1e9)

    val tGate = System.nanoTime()
    val gate = gateOf(spark, d, input, d.out)
    println(s"phases generate_s=${f"${(tPrefix - t0) / 1e9}%.2f"} " +
      s"prefix_s=${f"${(tTimed - tPrefix) / 1e9}%.2f"} timed_s=${f"${(tGate - tTimed) / 1e9}%.2f"} " +
      s"gate_s=${since(tGate)}")
    val phaseMs = rounds.toSeq.flatMap(_.progress).flatMap(_.durationMs.asScala.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> median(vs.map(_._2.doubleValue)) }
    println("batch_ms " + rounds.map(_.batchMs.map(_.toLong).mkString(",")).mkString(" | ") +
      " setup_ms " + rounds.map(_.setupMs.toLong).mkString(",") +
      " events_per_s " + roundRate.map(_.toLong).mkString(",") +
      " heap_mb " + heapMb.map(_.toLong).mkString(","))
    println("phase_ms_p50 " + phaseMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val m = new Metrics
    if (!a.trace) {
      m.put("events_per_s", "events/s", eventsPerS)
      m.put("batch_ms_p50", "ms", quantile(batchMs, 0.5))
      m.put("batch_ms_p90", "ms", quantile(batchMs, 0.9))
      m.put("setup_s", "s", median(rounds.toSeq.map(_.setupMs)) / 1000)
      m.put("live_heap_mb", "MB", median(heapMb.toSeq))
      m.put("failed_share", "ratio", gate.failedShare)
      println(s"samples batches=${batchMs.size} batches_beyond_p90=" +
        s"${batchMs.count(_ > quantile(batchMs, 0.9))} setups=${rounds.size} " +
        s"timed_wall_s=${wallNs / 1e9} timed_cpu_s=${cpuNs / 1e9} gc_ms=$gcMs host_steal_s=${stealMs / 1e3}")
    } else {
      val cores = Runtime.getRuntime.availableProcessors
      m.put("trace.events_per_s", "events/s", eventsPerS)
      m.put("proc.cpu_util", "ratio", cpuNs.toDouble / wallNs / cores)
      m.put("proc.gc_ms", "ms", gcMs.toDouble)
      Trace.run(spark, w, d, input, rounds.toSeq, prefixCatalog, a.work.resolve("trace"),
        a.spans, m)
      val neg = a.work.resolve("negative_out")
      Gate.corruptCopy(d.out, neg)
      val negGate = gateOf(spark, d, input, neg)
      m.put("gate.negative_failed_share", "ratio", negGate.failedShare)
      println(s"negative control: failed_share=${negGate.failedShare} " +
        s"problems=${negGate.problems.mkString("; ")}")
      if (negGate.failed == 0) {
        println("gate error: the negative control did not trip the gate")
        return 1
      }
    }
    val sane = timedRows == timedRecords
    if (!sane) println(s"gate error: the drain read $timedRows records, $timedRecords were staged")
    gate.problems.foreach(p => println(s"gate error: $p"))
    m.toSeq.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    println(s"run_s=${since(t0)}")
    val ok = gate.ok && sane
    println("result " + json(ok, gate.attempted, gate.failed, m))
    if (ok) 0 else 1
  }

  private def gateOf(spark: SparkSession, d: Dirs, in: Gen.Input, out: Path): GateResult =
    in match {
      case r: Gen.ReplayInput => Gate.replay(spark, d, r, out)
      case x: Gen.WireInput => Gate.wire(spark, d, x, out)
    }

  private def json(ok: Boolean, attempted: Long, failed: Long, m: Metrics): String =
    m.toSeq.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{""",
        ",", "}}")

  // ---- small helpers ----------------------------------------------------

  /** Linear-interpolated quantile of sorted values (numpy's default). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator.asScala.toList finally s.close() }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      Files.copy(f, to.resolve(from.relativize(f)), StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}

package graft.cdcbench

/** The four benchmark workloads. Each run stages `prefixSegs` segments and
  * drains them untimed (JIT warm-up, state and checkpoint a restart would
  * find), then times `rounds` resumed drains of `segsPerRound` segments
  * each. One segment is one micro-batch (`maxFilesPerTrigger = 1`).
  *
  * `rounds` scales with `--seconds`: the base counts below make the timed
  * drains last 15 to 20 seconds on a 4-core box at `--seconds 20`, so the
  * input size is a pure function of (workload, seed, seconds). */
sealed trait Workload {
  def name: String
  def prefixSegs: Int
  def segsPerRound: Int
  def rounds: Int
  def timedSegs: Int = segsPerRound * rounds
  def totalSegs: Int = prefixSegs + timedSegs
}

/** Replay ingress (`CdcPipeline.start`). `churn` selects the sf0.1-like
  * event mix (20% of each event type, so ~16% DDL and ~4% `other`);
  * otherwise the DML-dominated mix with one DDL every `ddlEvery` segments. */
final case class ReplayWorkload(
    name: String, segEvents: Int, prefixSegs: Int, segsPerRound: Int,
    rounds: Int, churn: Boolean, ddlEvery: Int) extends Workload

/** Debezium-wire ingress (`CdcPipeline.startWire`) over `tables` tables with
  * Zipf-skewed traffic and `alters` mid-stream ALTERs in the timed part. */
final case class WireWorkload(
    name: String, segFrames: Int, prefixSegs: Int, segsPerRound: Int,
    rounds: Int, tables: Int, alters: Int) extends Workload

object Workloads {
  val names: Seq[String] = Seq("replay_bulk", "replay_tail", "replay_ddl_churn", "wire_ingest")

  private def scaled(base: Int, seconds: Int): Int =
    math.max(1, math.round(base * seconds / 20.0).toInt)

  def byName(name: String, seconds: Int): Workload = name match {
    case "replay_bulk" =>
      ReplayWorkload(name, segEvents = 16000, prefixSegs = 1,
        segsPerRound = 1, rounds = scaled(5, seconds), churn = false, ddlEvery = 1)
    case "replay_tail" =>
      ReplayWorkload(name, segEvents = 1000, prefixSegs = 3,
        segsPerRound = 3, rounds = scaled(5, seconds), churn = false, ddlEvery = 4)
    case "replay_ddl_churn" =>
      ReplayWorkload(name, segEvents = 10000, prefixSegs = 1,
        segsPerRound = 1, rounds = scaled(4, seconds), churn = true, ddlEvery = 1)
    case "wire_ingest" =>
      val rounds = scaled(2, seconds)
      WireWorkload(name, segFrames = 3000, prefixSegs = 1,
        segsPerRound = 1, rounds = rounds, tables = 26, alters = rounds)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}

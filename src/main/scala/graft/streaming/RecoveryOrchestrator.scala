package graft.streaming

import graft.model.Nodeconfig

/** Parallel recovery, driver-side: the reference runs a second
  * rate-limited consumer replaying the skipped offset gap concurrently
  * with live traffic (`node/kafkaconsumer/recoveryconsumer.go:63-452`);
  * on Spark a recovery is a SECOND bounded query over explicit
  * startingOffsets/endingOffsets with `recovery=true` and a rate cap,
  * sharing the live query's sinks.
  *
  * This class owns the lifecycle: capped-lag assignment → ledger entry
  * (merged/persisted) → replay spec → progress checkpoints →
  * completion; `recoverycancelall` clears the ledger
  * (`kafkaconsumer.go:424-430`).
  */
final class RecoveryOrchestrator(
    ledger: RecoveryLedger,
    topic: String,
    config: Nodeconfig,
    bus: Option[MessageBus] = None) {

  val (maxLag, maxRecords, maxRatePerSec) =
    RecoveryOrchestrator.limits(config).fold(e => throw new IllegalArgumentException(e), identity)

  bus.foreach(_.subscribe(Seq("recoverycancelall"), _ => cancelAll()))

  // Recovery requests arrive over the control plane too
  // (`recoverytracker.go` receives RecoveryRequests via messaging):
  // on bus.start() the replay-to-EOF delivers any pending (unacked)
  // request a previous incarnation recorded, refilling the ledger
  // BEFORE execution. Self-delivery of our own sends merges to a
  // no-op (handlers are idempotent by the messaging contract).
  private val requestRe =
    """"partitionId"\s*:\s*(\d+)\s*,\s*"fromOffset"\s*:\s*(-?\d+)\s*,\s*"toOffset"\s*:\s*(-?\d+)""".r
  bus.foreach(_.subscribe(Seq("recoveryrequest"), m =>
    requestRe.findFirstMatchIn(new String(m.payload, java.nio.charset.StandardCharsets.UTF_8))
      .foreach(g => ledger.add(g.group(1).toInt, g.group(2).toLong, g.group(3).toLong))))

  /** rebalance hook: compute the capped start, record the skipped range
    * (volume-capped) in the ledger. Returns the start offset for the
    * live query.
    */
  def onAssignment(partition: Int, committed: Long, high: Long): Long = {
    val a = OffsetMath.cappedStart(committed, high, maxLag)
    a.recover.foreach { case (from, to) =>
      val (f, t) = OffsetMath.capRecovery(from, to, maxRecords)
      ledger.add(partition, f, t)
      bus.foreach(_.send(BusMessage("recoveryrequest", partition.toString,
        s"""{"partitionId":$partition,"fromOffset":$f,"toOffset":$t}""".getBytes)))
    }
    a.start
  }

  /** Everything a bounded replay query needs. */
  final case class ReplaySpec(
      startingOffsetsJson: String,
      endingOffsetsJson: String,
      maxOffsetsPerTrigger: Long)

  /** spec covering the currently-assigned partitions' pending ranges
    * (`RefreshAssignments` intersect, `recoveryconsumer.go:347-403`).
    */
  def replaySpec(assigned: Set[Int], triggerIntervalMs: Long = 1000L): Option[ReplaySpec] = {
    val pending = ledger.all.view.filterKeys(assigned).mapValues(_.headOption).collect {
      case (p, Some(r)) => p -> r
    }.toMap
    if (pending.isEmpty) None
    else Some(ReplaySpec(
      OffsetMath.offsetsJson(topic, pending.map { case (p, r) => p -> r.from }),
      OffsetMath.offsetsJson(topic, pending.map { case (p, r) => p -> r.to }),
      OffsetMath.recoveryMaxOffsetsPerTrigger(maxRatePerSec, triggerIntervalMs)))
  }

  /** periodic progress checkpoint (reference checkpoints every
    * 5s × rate events, `recoveryconsumer.go:254-325`). */
  def progress(partition: Int, upTo: Long): Unit = ledger.update(partition, upTo)

  def complete(partition: Int, to: Long): Unit = {
    ledger.markComplete(partition, to)
    bus.foreach(_.ack("recoveryrequest", partition.toString))
  }

  def cancelAll(): Unit = ledger.cancelAll()

  def pendingCount: Int = ledger.requestCount
}

object RecoveryOrchestrator {

  /** (max partition lag, replay volume cap, replay rate cap), each 0
    * when absent, or the reference's config message for the first value
    * that is not an integer in [0, Int.MaxValue].
    */
  def limits(config: Nodeconfig): Either[String, (Long, Long, Long)] = for {
    lag <- config.intConfig("maxpartitionlag", 0, 0, Int.MaxValue)
    records <- config.intConfig("parallelrecoverymaxrecords", 0, 0, Int.MaxValue)
    rate <- config.intConfig("parallelrecoverymaxrate", 0, 0, Int.MaxValue)
  } yield (lag.toLong, records.toLong, rate.toLong)
}

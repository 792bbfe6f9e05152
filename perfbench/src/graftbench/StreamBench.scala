package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.config.AppConfig
import graft.pipeline.{Pipeline, Registry, Stage, StageFactory}
import graft.sinks.Sink
import graft.streaming.{GraftApp, PipelineMetrics, StreamingPipeline}

/** One source event: the envelope `GraftApp.execute` expects. */
final case class Ev(payload: Array[Byte], created: Timestamp, recovery: Boolean)

/** The stream tree under test. Every node type is a built-in except
  * `syslogcontent`, a pass-through adapter (SyslogMsg → string, the
  * parsed `content` field) that the benchmark registers in its own
  * registry so the string test kit can hang below the parser.
  */
object StreamTree {
  val Yaml: String =
    """application: graftbench
      |source:
      |  name: kafkaconsumer
      |  params:
      |    brokers: "localhost:9092"
      |    topic: logs
      |nodes:
      |  - name: syslogparser
      |    id: syslog
      |    error_handler:
      |      name: errorkafkaproducer
      |      id: syslog_dlq
      |      params:
      |        topic: syslog-errors
      |    children:
      |      - name: jsonbuilder
      |        id: json
      |        children:
      |          - name: kafkaproducer
      |            id: json_out
      |      - name: syslogcontent
      |        id: content
      |        children:
      |          - name: filternode
      |            id: filter
      |            params:
      |              prefix: filterme
      |            children:
      |              - name: errornode
      |                id: errors
      |                params:
      |                  prefix: error
      |                error_handler:
      |                  name: errorkafkaproducer
      |                  id: errors_dlq
      |                children:
      |                  - name: fanoutnode
      |                    id: fanout
      |                    params:
      |                      copies: "2"
      |                    children:
      |                      - name: asyncrpcnode
      |                        id: rpc
      |                        params:
      |                          max_in_flight: "8"
      |                          error_prefix: rpcfail
      |                          filter_prefix: rpcskip
      |                        error_handler:
      |                          name: errorkafkaproducer
      |                          id: rpc_dlq
      |                        children:
      |                          - name: stringtoproducerequestnode
      |                            id: rpc_req
      |                            children:
      |                              - name: kafkaproducer
      |                                id: rpc_out
      |""".stripMargin

  /** Leaf outputs as `Pipeline.Built.leaves` names them. */
  val Leaves: Seq[String] = Seq("json_out", "syslog.errors", "errors.errors", "rpc.errors", "rpc_out")

  def registry(): Registry = {
    val r = Registry.builtins()
    r.registerNodeType("syslogcontent", new StageFactory {
      val consumes = Registry.SyslogMsg
      val produces = Registry.StringT
      def build(params: Map[String, String]): Stage = Stage(project = df =>
        df.select(col("payload.content").as("payload"), col("created"), col("recovery")))
    })
    r
  }
}

/** The payload mix: 90 % success, 7 % filtered, 3 % error, with the
  * filtered and error shares split so that both filters and all three
  * error handlers receive traffic.
  */
object Mix {
  val Success = 0
  val Unparsable = 1 // → syslog_dlq
  val FilterMe = 2 // dropped by filternode
  val ErrorNode = 3 // → errors_dlq
  val RpcSkip = 4 // dropped by asyncrpcnode
  val RpcFail = 5 // → rpc_dlq (both fan-out copies)
  val Categories = 6
  // cumulative per-mille thresholds: 900 | 10 | 50 | 10 | 20 | 10
  private val cumulative = Array(900, 910, 960, 970, 990, 1000)
  def pick(perMille: Int): Int = cumulative.indexWhere(perMille < _)

  /** rows each leaf must receive for events with these category counts */
  def leafRows(c: Array[Long]): Map[String, Long] = Map(
    "json_out" -> (c.sum - c(Unparsable)),
    "syslog.errors" -> c(Unparsable),
    "errors.errors" -> c(ErrorNode),
    "rpc.errors" -> 2 * c(RpcFail),
    "rpc_out" -> 2 * c(Success))

  /** `PipelineMetrics` counters each node must report for these counts */
  def nodeCounters(c: Array[Long]): Map[String, Long] = {
    val parsed = c.sum - c(Unparsable)
    val kept = parsed - c(FilterMe)
    val passed = kept - c(ErrorNode)
    val calls = 2 * passed
    def both(id: String, in: Long, out: Long) = Seq(s"$id.received" -> in, s"$id.emitted" -> out)
    (both("syslog", c.sum, parsed) ++ both("json", parsed, parsed) ++ both("json_out", parsed, parsed) ++
      both("content", parsed, parsed) ++ both("filter", parsed, kept) ++ both("errors", kept, passed) ++
      both("fanout", passed, calls) ++ both("rpc", calls, 2 * c(Success)) ++
      both("rpc_req", 2 * c(Success), 2 * c(Success)) ++ both("rpc_out", 2 * c(Success), 2 * c(Success))).toMap
  }

  /** Counters `PipelineMetrics` cannot see by design: they sit above the
    * async node's exactly-once checkpoint and feed no other action, so
    * they read 0 (`Pipeline.buildNode`, async comment). Not checked.
    */
  val Unobservable: Set[String] = Set("errors.emitted", "fanout.received", "fanout.emitted")
}

/** Seeded generator: the seed fixes mix order, hosts, pids and content. */
final class EventGen(seed: Long) {
  private val rng = new java.util.Random(seed)
  private val hosts = Array.tabulate(48)(i => f"edge-${rng.nextInt(900) + 100}%03d-$i%02d")
  private val programs = Array("nginx", "sshd", "cron", "kernel", "postfix", "dockerd", "systemd", "haproxy")
  private val verbs = Array("login", "logout", "read", "write", "purge", "sync", "deploy", "scale", "fetch")
  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
  private val prefix = Array("", "", "filterme ", "error ", "rpcskip ", "rpcfail ")

  /** `n` events created at `createdMs`, and their per-category counts. */
  def next(n: Int, createdMs: Long): (Array[Ev], Array[Long]) = {
    val ts = new Timestamp(createdMs)
    val time = stamp.format(Instant.ofEpochMilli(createdMs))
    val counts = new Array[Long](Mix.Categories)
    val evs = Array.fill(n) {
      val cat = Mix.pick(rng.nextInt(1000))
      counts(cat) += 1
      val body = s"user=u${rng.nextInt(100000)} action=${verbs(rng.nextInt(verbs.length))} " +
        s"bytes=${rng.nextInt(1 << 20)} path=/v1/${verbs(rng.nextInt(verbs.length))}/${rng.nextInt(10000)}"
      val host = hosts(rng.nextInt(hosts.length))
      val line =
        if (cat == Mix.Unparsable) s"$time $host truncated record $body"
        else s"<${rng.nextInt(192)}>$time $host ${programs(rng.nextInt(programs.length))}" +
          s"[${1 + rng.nextInt(32768)}]: ${prefix(cat)}$body"
      Ev(line.getBytes(UTF_8), ts, recovery = false)
    }
    (evs, counts)
  }
}

/** One generator tick (open loop) or chunk (closed loop); `createdMs` is unique
  * per tick, so sink summaries keyed by `created` map back to it.
  */
final case class Tick(createdMs: Long, dueNs: Long, addedNs: Long, counts: Array[Long], measured: Boolean) {
  def events: Long = counts.sum
}

/** One sink call: its interval and its per-`created` (rows, hash sum). */
final case class SinkWrite(leaf: String, batchId: Long, startNs: Long, endNs: Long, groups: Array[(Long, Long, Long)]) {
  def rows: Long = groups.map(_._2).sum
}

final class SinkLog extends Serializable {
  val writes = new ConcurrentLinkedQueue[SinkWrite]()
  def all: Vector[SinkWrite] = writes.asScala.toVector
}

/** The benchmark's sink. Each write is ONE narrow job with no shuffle,
  * shaped like the Kafka writer (a per-partition pass, then a small
  * result to the Spark driver): every partition folds its rows into
  * (created → rows, sum of row hashes) and the Spark driver collects
  * those summaries. A counting sink built on `groupBy` would add a shuffle
  * stage per leaf, five per micro-batch: in sizing runs that doubled the
  * cost of each micro-batch and cut the drain rate by a third, hiding
  * the pipeline behind the sink. The summaries are all the checks need:
  * exact per-tick counts, an order-insensitive payload checksum, and the
  * completion time that ends each event's latency.
  */
final class TimingSink(leaf: String, log: SinkLog) extends Sink {
  def writeBatch(df: DataFrame): Unit = writeBatch(df, -1L)
  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.now
    val groups = SinkSummary(df)
    log.writes.add(SinkWrite(leaf, batchId, t0, Clock.now, groups))
  }
}

object SinkSummary {
  private val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  private val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

  private val fold: Iterator[(Long, Long)] => Iterator[(Long, Long, Long)] = it => {
    val m = mutable.LongMap.empty[Array[Long]]
    it.foreach { case (created, h) =>
      val a = m.getOrElseUpdate(created, new Array[Long](2))
      a(0) += 1
      a(1) += h
    }
    m.iterator.map { case (created, a) => (created, a(0), a(1)) }
  }

  /** (created ms, rows, hash sum) per partition; one job, no shuffle. */
  def apply(leaf: DataFrame): Array[(Long, Long, Long)] =
    leaf.select(unix_millis(col("created")), xxhash64(col("topic"), col("value")))
      .as(rowEnc).mapPartitions(fold)(outEnc).collect()

  /** merge partition summaries: created → (rows, hash sum) */
  def merge(groups: Iterable[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    groups.groupMapReduce(_._1)(g => (g._2, g._3))((a, b) => (a._1 + b._1, a._2 + b._2))
}

final case class SetupTimes(sessionNs: Long, parseNs: Long, firstBatchNs: Long, totalNs: Long)

/** One running `GraftApp` over a `MemoryStream`, with everything the
  * checks need afterwards.
  */
final class StreamInstance(
    val spark: SparkSession,
    val app: GraftApp,
    val registry: Registry,
    val source: MemoryStream[Ev],
    val log: SinkLog,
    val counters: PipelineMetrics) {
  val ticks = new ConcurrentLinkedQueue[Tick]()
  val retained = TrieMap[Long, Array[Ev]]()
  var running: StreamingPipeline.Running = _
  var setup: SetupTimes = _
  @volatile var lastCreatedMs: Long = 0L

  def add(evs: Array[Ev], counts: Array[Long], createdMs: Long, dueNs: Long, measured: Boolean, retain: Boolean): Unit = {
    source.addData(evs.toSeq)
    ticks.add(Tick(createdMs, dueNs, Clock.now, counts, measured))
    if (retain) retained(createdMs) = evs
    lastCreatedMs = createdMs
  }

  /** a `created` stamp later than every earlier one */
  def nextCreatedMs(): Long = math.max(System.currentTimeMillis(), lastCreatedMs + 1)

  def drain(): Unit = running.query.processAllAvailable()
  def stopQuery(): Unit = { running.shutdown(); counters.uninstall() }
  def close(): Unit = Session.stop(spark)
}

/** A measurement window on the monotonic clock. */
final case class Window(start: Long, end: Long) {
  def mid: Long = start + (end - start) / 2
  def contains(t: Long): Boolean = t >= start && t < end
}

/** For a traced run, the listeners attached at mid-window (the first
  * half stays untraced).
  */
final class Probe(spark: SparkSession, val w: Window, traced: Boolean) {
  var tracing: Option[Tracing] = None
  var tracedFrom: Long = w.end

  /** returns at mid-window, with the listeners attached if traced */
  def sleepThrough(): Unit = if (traced) {
    Clock.sleepUntil(w.mid)
    tracing = Some(new Tracing(spark).attach())
    tracedFrom = Clock.now
  }
}

/** Outcome of the output checks over one instance. */
final case class Checked(
    attempted: Long, failed: Long, notes: Seq[String],
    doneNs: Map[Long, Long] = Map.empty) // tick created → its last sink write

object StreamBench {
  val Setups = 3
  val RatePerS = 2000
  val TickMs = 50
  val PerTick: Int = RatePerS * TickMs / 1000
  val Chunk = 20000
  /** warm-up is set by time: the cost of a batch keeps falling for tens
    * of seconds of JIT, so a batch count would warm a slow run less */
  val WarmupNs: Long = 2000000000L
  val DrainWarmupNs: Long = 5000000000L

  /** The closed-loop drain gives the throughput, the open loop the
    * latency. Both run on the instance the last set-up started.
    */
  def run(a: Args): Result = {
    val spans = new Spans
    val gen = new EventGen(a.seed)
    val discarded = (1 until Setups).map { i =>
      val inst = open(a, Session.Cores, s"setup-$i", gen, PerTick, retainFirst = false)
      inst.stopQuery(); inst.close(); inst
    }
    val inst = open(a, Session.Cores, "main", gen, PerTick, retainFirst = true)
    val setups = (discarded :+ inst).map(_.setup)
    val windowNs = a.seconds * 1000000000L

    // The drain runs before the open loop: its full-size batches warm the
    // JIT faster than the open loop's small ones, so the latency window
    // sees a warmer pipeline. Unmeasured chunks first, for a fixed time.
    val gc0 = Jvm.gcMs
    Jvm.resetHeapPeak()
    val tracing = if (a.trace) Some(new Tracing(inst.spark).attach()) else None
    addChunk(inst, gen, retain = true)
    inst.drain()
    driveClosed(inst, gen, Window(Clock.now, Clock.now + DrainWarmupNs))
    val d = Window(Clock.now, Clock.now + windowNs)
    val cycles = driveClosed(inst, gen, d)
    val drainEnd = d.start + cycles.sum
    tracing.foreach(_.detach())

    val t0 = Clock.now + TickMs * 1000000L
    val w = Window(t0 + WarmupNs, t0 + WarmupNs + windowNs)
    val probe = new Probe(inst.spark, w, a.trace)
    driveOpen(inst, gen, t0, w, probe)
    inst.drain()
    probe.tracing.foreach(_.detach())
    val gcMs = (Jvm.gcMs - gc0).toDouble
    val heapMb = Jvm.heapPeakMb
    val rssMb = Jvm.peakRssMb
    val counters = inst.counters.snapshot
    inst.stopQuery()

    // ---- output checks ----
    val mainCheck = check(inst, Some(counters))
    val twinCheck = twin(inst, a)
    val setupChecks = discarded.map(check(_, None))
    inst.close()
    val reference = if (a.trace) Some(localOneReference(a, gen)) else None

    val ticks = inst.ticks.asScala.toVector
    val measured = ticks.filter(t => t.measured && w.contains(t.dueNs))
    def latencyMs(t: Tick) = mainCheck.doneNs.get(t.createdMs).map(d => (d - t.dueNs) / 1e6)
    val lags = measured.map(t => (t.addedNs - t.dueNs) / 1e6)
    val lagMs = lags.maxOption.getOrElse(0.0)
    // events offered but not yet written at time t
    def queuedAt(t: Long) = ticks.filter(k => k.dueNs < t &&
      mainCheck.doneNs.get(k.createdMs).forall(_ > t)).map(_.events).sum
    val queuedEnd = queuedAt(w.end)
    // the backlog grows when, averaged over each half of the window, it
    // rises by more than a quarter second of offered events
    val samples = (0 until 100).map(i => queuedAt(w.start + (w.end - w.start) / 100 * i).toDouble)
    val growth = Stats.mean(samples.drop(50)) - Stats.mean(samples.take(50))
    // one stall the generator catches up from (a GC pause) is paid in the
    // latency of the events behind it; lagging on more than 1 % of the
    // ticks means the load was not offered on schedule
    val overloaded = Stats.pct(lags, 99) > TickMs || growth > RatePerS / 4
    // the median cycle, so a burst of host load during one chunk does
    // not move the rate of the whole window
    val drainRate = Chunk / (Stats.median(cycles.map(_.toDouble)) / 1e9)

    val checks = Seq(mainCheck, twinCheck) ++ setupChecks ++ reference.map(_._2)
    val attempted = checks.map(_.attempted).sum - twinCheck.attempted
    val failedEvents = math.min(attempted, checks.map(_.failed).sum)
    checks.flatMap(_.notes).foreach(n => System.err.println(s"graftbench: check: $n"))
    System.err.println(f"graftbench: generator lag max $lagMs%.1f ms, $queuedEnd events queued at window end, " +
      f"backlog growth $growth%.0f events")
    if (overloaded) System.err.println("graftbench: the generator fell behind: run failed")
    val failed = if (overloaded) attempted else failedEvents

    def latency(from: Long, to: Long) = {
      val lat = measured.filter(t => t.dueNs >= from && t.dueNs < to).flatMap(t => latencyMs(t).map(_ -> t.events))
      (Stats.weightedPct(lat, 50), Stats.weightedPct(lat, 90))
    }

    val metrics =
      if (!a.trace) {
        val (p50, p90) = latency(w.start, w.end)
        Seq(
          Metric("setup_s", Stats.median(setups.map(_.totalNs / 1e9)), "s"),
          Metric("latency_p50_ms", p50, "ms"),
          Metric("latency_p90_ms", p90, "ms"),
          Metric("throughput_per_s", drainRate, "1/s"),
          Metric("peak_rss_mb", rssMb, "MB"))
      } else {
        val (a50, _) = latency(w.start, probe.tracedFrom)
        val (b50, _) = latency(probe.tracedFrom, w.end)
        val writes = inst.log.all
        val layers =
          streamLayers(probe.tracing.get, spans, probe.tracedFrom, w.end, writes).filterNot(m => DrainLayers(m.name)) ++
          streamLayers(tracing.get, spans, d.start, drainEnd, writes).filter(m => DrainLayers(m.name)) ++ Seq(
          Metric("config.parse_ms", Stats.median(setups.map(_.parseNs / 1e6)), "ms"),
          Metric("setup.session_ms", Stats.median(setups.map(_.sessionNs / 1e6)), "ms"),
          Metric("setup.first_batch_ms", Stats.median(setups.map(_.firstBatchNs / 1e6)), "ms"),
          Metric("jvm.gc_ms", gcMs, "ms"),
          Metric("jvm.heap_used_peak_mb", heapMb, "MB"),
          Metric("gen.lag_ms_max", lagMs, "ms"),
          Metric("gen.queued_events_end", queuedEnd.toDouble, "count"),
          Metric("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio")) ++
          reference.map(r => Metric("streaming.drain_local1_events_per_s", r._1, "1/s")).toSeq
        TraceFile.write(a, spans, layers, Map(
          "untraced_latency_p50_ms" -> a50,
          "traced_latency_p50_ms" -> b50,
          "overhead_latency_p50_ms" -> (b50 - a50),
          "traced_drain_events_per_s" -> drainRate,
          "note" -> ("first half of the open-loop window untraced, second half traced (and warmer); " +
            "the drain phase is traced throughout")),
          setups.map(s => Map("session_ms" -> s.sessionNs / 1e6, "parse_ms" -> s.parseNs / 1e6,
            "first_batch_ms" -> s.firstBatchNs / 1e6, "total_ms" -> s.totalNs / 1e6)))
        layers
      }
    Result(correct = failed == 0, attempted = attempted, failed = failed, metrics = metrics)
  }

  /** per-layer metrics taken from the drain phase, where per-row work dominates */
  private val DrainLayers = Set("pipeline.task_ms_per_kevent", "pipeline.gc_ms_per_batch")

  /** Session → config parse → app → first batch committed: one set-up. */
  private def open(a: Args, cores: Int, tag: String, gen: EventGen, firstEvents: Int, retainFirst: Boolean): StreamInstance = {
    val t0 = Clock.now
    val spark = Session.build(cores, a.workDir, s"graftbench-${a.workload}")
    val t1 = Clock.now
    val registry = StreamTree.registry()
    AppConfig.parse(StreamTree.Yaml, registry).fold(e => sys.error(s"config rejected: $e"), identity)
    val t2 = Clock.now
    val app = GraftApp.fromYaml(spark, StreamTree.Yaml, registry).fold(e => sys.error(s"config rejected: $e"), identity)
    val source = MemoryStream[Ev](spark, cores)(Encoders.product[Ev])
    val log = new SinkLog
    val inst = new StreamInstance(spark, app, registry, source, log, new PipelineMetrics(spark).install())
    val created = inst.nextCreatedMs()
    val (evs, counts) = gen.next(firstEvents, created)
    val tAdd = Clock.now
    inst.add(evs, counts, created, tAdd, measured = false, retain = retainFirst)
    val sinks: Map[String, Sink] = StreamTree.Leaves.map(l => l -> (new TimingSink(l, log): Sink)).toMap
    inst.running = app.execute(source.toDF(), sinks, checkpoint = Some(s"${a.workDir}/checkpoint-$tag"))
    inst.drain()
    val t3 = Clock.now
    inst.setup = SetupTimes(t1 - t0, t2 - t1, t3 - tAdd, t3 - t0)
    inst
  }

  /** Open loop: a tick of `PerTick` events every `TickMs`, each stamped
    * with its due time whether or not the generator keeps up. Returns
    * when the last tick due before the window end has been added.
    */
  private def driveOpen(inst: StreamInstance, gen: EventGen, t0: Long, w: Window, probe: Probe): Long = {
    val base = inst.nextCreatedMs() + TickMs
    @volatile var error: Throwable = null
    val thread = new Thread(() => {
      try {
        var k = 0L
        var due = t0
        while (due < w.end) {
          Clock.sleepUntil(due)
          val created = base + k * TickMs
          val (evs, counts) = gen.next(PerTick, created)
          inst.add(evs, counts, created, due, measured = w.contains(due), retain = true)
          k += 1
          due = t0 + k * TickMs * 1000000L
        }
      } catch { case t: Throwable => error = t }
    }, "graftbench-generator")
    thread.setDaemon(true)
    thread.start()
    probe.sleepThrough()
    thread.join()
    if (error != null) throw error
    Clock.now
  }

  private def addChunk(inst: StreamInstance, gen: EventGen, retain: Boolean): Unit = {
    val created = inst.nextCreatedMs()
    val (evs, counts) = gen.next(Chunk, created)
    inst.add(evs, counts, created, Clock.now, measured = false, retain = retain)
  }

  /** Closed loop: one `Chunk`-event chunk per micro-batch; the next is
    * added only after the previous batch commits. Returns each chunk's
    * cycle time (add → commit) in ns.
    */
  private def driveClosed(inst: StreamInstance, gen: EventGen, d: Window): Seq[Long] = {
    val cycles = mutable.ListBuffer[Long]()
    var now = Clock.now
    while (now < d.end) {
      addChunk(inst, gen, retain = false)
      inst.drain()
      cycles += Clock.now - now
      now = Clock.now
    }
    cycles.toList
  }

  /** Exact per-leaf counts for every tick, no stray rows, and (for the
    * main instance) `PipelineMetrics` equal to the generator's totals.
    */
  private def check(inst: StreamInstance, counters: Option[Map[String, Long]]): Checked = {
    val ticks = inst.ticks.asScala.toVector
    val writes = inst.log.all
    val notes = mutable.ListBuffer[String]()
    val byLeaf = writes.groupBy(_.leaf).map { case (l, ws) => l -> SinkSummary.merge(ws.flatMap(_.groups)) }
    val doneNs = writes.flatMap(w => w.groups.map(_._1 -> w.endNs)).groupMapReduce(_._1)(_._2)(math.max)
    var failed = 0L
    ticks.foreach { t =>
      val want = Mix.leafRows(t.counts)
      val bad = StreamTree.Leaves.filter(l => byLeaf.get(l).flatMap(_.get(t.createdMs)).map(_._1).getOrElse(0L) != want(l))
      if (bad.nonEmpty) {
        failed += t.events
        if (notes.size < 5) notes += s"tick ${t.createdMs}: leaf rows differ from the mix on ${bad.mkString(",")}"
      }
    }
    val known = ticks.map(_.createdMs).toSet
    val stray = byLeaf.values.flatMap(_.collect { case (c, (n, _)) if !known(c) => n }).sum
    if (stray > 0) notes += s"$stray sink rows belong to no generated tick"
    failed += stray
    counters.foreach { got =>
      val total = new Array[Long](Mix.Categories)
      ticks.foreach(t => t.counts.indices.foreach(i => total(i) += t.counts(i)))
      Mix.nodeCounters(total).foreach { case (name, want) =>
        got.get(name) match {
          case _ if Mix.Unobservable(name) => ()
          case Some(v) if v != want =>
            failed += math.abs(v - want); notes += s"PipelineMetrics $name = $v, generator says $want"
          case None =>
            failed += want; notes += s"PipelineMetrics has no $name"
          case _ => ()
        }
      }
    }
    Checked(ticks.map(_.events).sum, failed, notes.toList, doneNs)
  }

  /** The same config run as a batch (`Pipeline.buildOn`, the fold that
    * `Pipeline.build` applies to a source) over the retained events:
    * every leaf's (rows, hash sum) per tick must equal the stream's.
    */
  private def twin(inst: StreamInstance, a: Args): Checked = {
    val ticks = inst.ticks.asScala.filter(t => inst.retained.contains(t.createdMs)).toVector
    val spark = inst.spark
    val events = inst.retained.values.flatten.toSeq
    val df = spark.createDataset(events)(Encoders.product[Ev]).toDF().repartition(Session.Cores)
    val built = Pipeline.buildOn(df, inst.app.config.nodes, inst.registry)
    val batch =
      try built.leaves.map { case (id, leaf) => id -> SinkSummary.merge(SinkSummary(leaf)) }.toMap
      finally built.unpersistAll()
    val stream = inst.log.all.groupBy(_.leaf).map { case (l, ws) => l -> SinkSummary.merge(ws.flatMap(_.groups)) }
    val notes = mutable.ListBuffer[String]()
    if (batch.keySet != StreamTree.Leaves.toSet) notes += s"batch twin leaves ${batch.keySet.toSeq.sorted.mkString(",")}"
    var failed = 0L
    ticks.foreach { t =>
      val bad = StreamTree.Leaves.filter { l =>
        batch.get(l).flatMap(_.get(t.createdMs)) != stream.get(l).flatMap(_.get(t.createdMs))
      }
      if (bad.nonEmpty) {
        failed += t.events
        if (notes.size < 5) notes += s"tick ${t.createdMs}: stream differs from batch twin on ${bad.mkString(",")}"
      }
    }
    Checked(ticks.map(_.events).sum, failed, notes.toList)
  }

  /** Drain rate of the same tree on one core: the reference the traced
    * run reports next to the 4-core figures.
    */
  private def localOneReference(a: Args, gen: EventGen): (Double, Checked) = {
    val inst = open(a, 1, "local1", gen, Chunk, retainFirst = false)
    val start = Clock.now
    var chunks = 0
    while (chunks < 2 || Clock.now - start < a.seconds * 500000000L) {
      addChunk(inst, gen, retain = false)
      inst.drain()
      chunks += 1
    }
    val rate = chunks.toLong * Chunk / ((Clock.now - start) / 1e9)
    inst.stopQuery()
    val c = check(inst, None)
    inst.close()
    (rate, c)
  }

  /** Per-layer numbers for the traced half of the window. */
  private def streamLayers(tr: Tracing, spans: Spans, from: Long, to: Long, writes: Seq[SinkWrite]): Seq[Metric] = {
    def startNs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      spans.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
    def phase(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val progs = tr.progress.all.filter(p => p.numInputRows > 0 && startNs(p) >= from && startNs(p) < to)
    val n = math.max(1, progs.size)
    val ids = progs.map(_.batchId).toSet
    val jobs = tr.jobs.finished.filter(_.batchId.exists(ids))
    val jobsOf = jobs.groupBy(_.batchId.get)
    val sinkOf = writes.filter(w => ids(w.batchId)).groupBy(_.batchId)
    val events = progs.map(_.numInputRows).sum.toDouble
    // spans: micro-batch → Spark job → stage, micro-batch → sink call
    val jobSpan = mutable.Map[Int, Long]()
    progs.foreach { p =>
      val id = spans.nextId()
      val s = startNs(p)
      spans.add(Span(id, 0, s"batch ${p.batchId}", "streaming", s, s + (phase(p, "triggerExecution") * 1e6).toLong,
        Map("events" -> p.numInputRows, "durationMs" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)))
      jobsOf.getOrElse(p.batchId, Nil).foreach { j =>
        val jid = spans.nextId(); jobSpan(j.jobId) = jid
        spans.add(Span(jid, id, s"job ${j.jobId}", "pipeline", spans.fromEpochMs(j.startMs), spans.fromEpochMs(j.endMs),
          Map("stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs)))
      }
      sinkOf.getOrElse(p.batchId, Nil).foreach { w =>
        spans.add(Span(spans.nextId(), id, s"sink ${w.leaf}", "sinks", w.startNs, w.endNs, Map("rows" -> w.rows)))
      }
    }
    tr.jobs.stageSpans.asScala.foreach { case (job, stage, s, e, tasks) =>
      jobSpan.get(job).foreach(p => spans.add(Span(spans.nextId(), p, s"stage $stage", "pipeline",
        spans.fromEpochMs(s), spans.fromEpochMs(e), Map("tasks" -> tasks))))
    }
    val driverMs = progs.map { p =>
      val covered = Stats.covered(jobsOf.getOrElse(p.batchId, Nil).map(j => (j.startMs, j.endMs)))
      phase(p, "addBatch") - covered
    }
    val trig = progs.map(phase(_, "triggerExecution"))
    val sinkWrites = writes.filter(w => ids(w.batchId))
    Seq(
      Metric("streaming.add_batch_ms_p50", Stats.median(progs.map(phase(_, "addBatch"))), "ms"),
      Metric("streaming.wal_commit_ms_p50", Stats.median(progs.map(phase(_, "walCommit"))), "ms"),
      Metric("streaming.commit_offsets_ms_p50", Stats.median(progs.map(phase(_, "commitOffsets"))), "ms"),
      Metric("streaming.query_planning_ms_p50", Stats.median(progs.map(phase(_, "queryPlanning"))), "ms"),
      Metric("streaming.trigger_ms_p50", Stats.pct(trig, 50), "ms"),
      Metric("streaming.trigger_ms_p99", Stats.pct(trig, 99), "ms"),
      Metric("streaming.idle_share", math.max(0.0, 1.0 - trig.sum / ((to - from) / 1e6)), "ratio"),
      Metric("streaming.batches", progs.size.toDouble, "count"),
      Metric("streaming.batch_events_p50", Stats.median(progs.map(_.numInputRows.toDouble)), "count"),
      Metric("pipeline.jobs_per_batch", jobs.size.toDouble / n, "count"),
      Metric("pipeline.stages_per_batch", jobs.map(_.stages).sum.toDouble / n, "count"),
      Metric("pipeline.tasks_per_batch", jobs.map(_.tasks).sum.toDouble / n, "count"),
      Metric("pipeline.driver_ms_per_batch", Stats.mean(driverMs), "ms"),
      Metric("pipeline.task_ms_per_kevent", jobs.map(_.taskMs).sum / math.max(1.0, events / 1000.0), "ms"),
      Metric("pipeline.gc_ms_per_batch", jobs.map(_.gcMs).sum.toDouble / n, "ms"),
      Metric("sinks.write_ms_per_batch", sinkWrites.map(_.durNs).sum / 1e6 / n, "ms"),
      Metric("sinks.write_calls_per_batch", sinkWrites.size.toDouble / n, "count"),
      Metric("sinks.rows_per_event", sinkWrites.map(_.rows).sum / math.max(1.0, events), "ratio"))
  }

  private implicit class WriteDur(w: SinkWrite) { def durNs: Long = w.endNs - w.startNs }
}

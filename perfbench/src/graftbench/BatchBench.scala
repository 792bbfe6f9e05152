package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.queries.Tables

/** `batch_curation`: warm repetitions of the library queries that the
  * loop-bound, data-bound and stateful operator work targets, in one
  * session. The seed permutes the query order.
  */
object BatchBench {
  /** bound by the fixed cost of each Spark action */
  val Loop = Seq("dd_components", "dd_dedup_apply", "dd_dedup_apply_semantic",
    "ta_link_rank", "ta_redirect_incremental", "dd_semdedup")
  /** bound by candidate-pair volume */
  val Pair = Seq("dd_ngram_jaccard", "dd_containment", "ta_bm25_wide", "ann_lsh_bucketed")
  /** stateful operators run as batch queries */
  val State = Seq("dd_semdedup_stateful", "ta_distinct_kmv_stateful", "ta_source_cap_stateful")
  val All: Seq[String] = Loop ++ Pair ++ State
  val InputTables = Seq("documents", "embeddings", "events")
  val Setups = 3

  private final case class Rep(wallNs: Map[String, Long], spanOf: Map[String, Span])

  def run(a: Args): Result = {
    val spans = new Spans
    val expected = Digest.load(a.digests)
    var spark: SparkSession = null
    val setupNs = (1 to Setups).map { _ =>
      if (spark != null) Session.stop(spark)
      val t0 = Clock.now
      spark = Session.build(Session.Cores, a.workDir, "graftbench-batch_curation")
      InputTables.foreach(t => Tables(spark, a.dataDir, t).limit(1).collect())
      Clock.now - t0
    }
    val order = new scala.util.Random(a.seed).shuffle(All)
    System.err.println(s"graftbench: query order ${order.mkString(" ")}")
    var attempted = 0L
    var failed = 0L

    def rep(tag: String, queries: Seq[String] = order): Rep = {
      val walls = mutable.LinkedHashMap[String, Long]()
      val spanOf = mutable.Map[String, Span]()
      queries.foreach { q =>
        val id = spans.nextId()
        spark.sparkContext.setLocalProperty(JobTrace.RepProperty, id.toString)
        val t0 = Clock.now
        val out = Try { val df = SparkEntry.queries(q)(spark, a.dataDir); (df.columns.toSeq, df.collect()) }
        val t1 = Clock.now
        spark.sparkContext.setLocalProperty(JobTrace.RepProperty, null)
        attempted += 1
        out match {
          case Success((cols, rows)) =>
            val d = Digest(cols, rows)
            if (!expected.get(q).contains(d)) {
              failed += 1
              System.err.println(s"graftbench: check: $q digest $d, recorded ${expected.getOrElse(q, "none")}")
            }
          case Failure(e) =>
            failed += 1
            System.err.println(s"graftbench: check: $q failed: $e")
        }
        walls(q) = t1 - t0
        spanOf(q) = Span(id, 0, q, "queries", t0, t1, Map("rep" -> tag))
      }
      Rep(walls.toMap, spanOf.toMap)
    }

    // the cold repetition runs in one fixed order, so every run starts
    // its warm repetitions from the same JIT and codegen state
    rep("cold", All)
    val untracedNs = (if (a.trace) a.seconds / 2.0 else a.seconds.toDouble) * 1e9
    val gc0 = Jvm.gcMs
    Jvm.resetHeapPeak()
    // two warm repetitions at least: a run that fitted a second one into
    // the window read 15 % faster than one that did not
    val warm = repsFor(untracedNs, if (a.trace) 1 else 2, i => rep(s"warm-$i"))
    val tracing = if (a.trace) Some(new Tracing(spark).attach()) else None
    val traced = if (a.trace) repsFor(a.seconds / 2.0 * 1e9, 1, i => rep(s"traced-$i")) else Nil
    tracing.foreach(_.detach())
    val gcMs = (Jvm.gcMs - gc0).toDouble
    val heapMb = Jvm.heapPeakMb
    val rssMb = Jvm.peakRssMb
    Session.stop(spark)

    def medians(reps: Seq[Rep]): Map[String, Double] =
      All.map(q => q -> Stats.median(reps.map(_.wallNs(q) / 1e6))).toMap
    val warmMs = medians(warm)
    System.err.println("graftbench: warm ms " + All.map(q => f"$q=${warmMs(q)}%.0f").mkString(" "))
    def groupS(g: Seq[String], m: Map[String, Double]) = g.map(m).sum / 1000.0
    val metrics =
      if (!a.trace) {
        val lat = All.map(warmMs)
        Seq(
          Metric("setup_s", Stats.median(setupNs.map(_ / 1e9)), "s"),
          Metric("latency_p50_ms", Stats.pct(lat, 50), "ms"),
          Metric("latency_p90_ms", Stats.pct(lat, 90), "ms"),
          Metric("throughput_per_s", All.size / (lat.sum / 1000.0), "1/s"),
          Metric("peak_rss_mb", rssMb, "MB"))
      } else {
        val tracedMs = medians(traced)
        val layers = queryLayers(tracing.get, spans, traced.head, tracedMs) ++ Seq(
          Metric("batch.loop_queries_s", groupS(Loop, warmMs), "s"),
          Metric("batch.pair_queries_s", groupS(Pair, warmMs), "s"),
          Metric("batch.state_queries_s", groupS(State, warmMs), "s"),
          Metric("setup.session_ms", Stats.median(setupNs.map(_ / 1e6)), "ms"),
          Metric("jvm.gc_ms", gcMs, "ms"),
          Metric("jvm.heap_used_peak_mb", heapMb, "MB"),
          Metric("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio"))
        val untracedS = All.map(warmMs).sum / 1000.0
        val tracedS = All.map(tracedMs).sum / 1000.0
        TraceFile.write(a, spans, layers, Map(
          "untraced_queries_s" -> untracedS, "traced_queries_s" -> tracedS,
          "overhead_s" -> (tracedS - untracedS),
          "note" -> "untraced warm reps first, traced warm reps after them in the same session"),
          setupNs.map(ns => Map("session_ms" -> ns / 1e6)))
        layers
      }
    Result(correct = failed == 0, attempted = attempted, failed = failed, metrics = metrics)
  }

  /** repetitions until `budgetNs` has passed, at least `min` */
  private def repsFor(budgetNs: Double, min: Int, f: Int => Rep): Seq[Rep] = {
    val t0 = Clock.now
    val out = mutable.ListBuffer[Rep]()
    while (out.size < min || Clock.now - t0 < budgetNs) out += f(out.size + 1)
    out.toList
  }

  /** wall, jobs, driver gap, task time, GC, shuffle bytes per query */
  private def queryLayers(tr: Tracing, spans: Spans, first: Rep, tracedMs: Map[String, Double]): Seq[Metric] = {
    val jobsOf = tr.jobs.finished.filter(_.repSpan.isDefined).groupBy(_.repSpan.get)
    All.flatMap { q =>
      val s = first.spanOf(q)
      spans.add(s)
      val jobs = jobsOf.getOrElse(s.id, Vector.empty)
      jobs.foreach { j =>
        spans.add(Span(spans.nextId(), s.id, s"job ${j.jobId}", "operators",
          spans.fromEpochMs(j.startMs), spans.fromEpochMs(j.endMs),
          Map("stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
            "shuffle_write_bytes" -> j.shuffleWriteBytes)))
      }
      val covered = Stats.covered(jobs.map(j => (spans.fromEpochMs(j.startMs), spans.fromEpochMs(j.endMs))))
      Seq(
        Metric(s"batch.$q.wall_s", tracedMs(q) / 1000.0, "s"),
        Metric(s"batch.$q.jobs", jobs.size.toDouble, "count"),
        Metric(s"batch.$q.driver_gap_ms", (s.durNs - covered) / 1e6, "ms"),
        Metric(s"batch.$q.task_ms", jobs.map(_.taskMs).sum.toDouble, "ms"),
        Metric(s"batch.$q.gc_ms", jobs.map(_.gcMs).sum.toDouble, "ms"),
        Metric(s"batch.$q.shuffle_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble, "B"))
    }
  }

  /** Write each query's result (parquet), its oracle SQL and its digest,
    * so `tools/oracle_check.py <data> <out>` can verify the results the
    * recorded digests come from.
    */
  def record(a: Args, outDir: String): Unit = {
    val spark = Session.build(Session.Cores, a.workDir, "graftbench-record")
    val lines = All.map { q =>
      val df = SparkEntry.queries(q)(spark, a.dataDir)
      val rows = df.collect()
      df.write.mode("overwrite").parquet(s"$outDir/$q")
      s"  ${Json.str(q)}: ${Json.str(Digest(df.columns.toSeq, rows))}"
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => All.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.render(oracle))
    Files.writeString(Paths.get(a.digests), lines.mkString("{\n", ",\n", "\n}\n"))
    System.err.println(s"graftbench: oracle SQL for ${oracle.keys.toSeq.sorted.mkString(" ")}")
    Session.stop(spark)
  }
}

/** Order-insensitive digest of a query result: row count, column names
  * and the wrapping sum of a 64-bit hash of each row's canonical text.
  * Doubles are rendered to 9 significant digits, so a last-bit
  * difference from summation order does not change the digest.
  */
object Digest {
  def apply(columns: Seq[String], rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(render(r)))
    f"${rows.length}:${hash64(columns.mkString(","))}%016x:$sum%016x"
  }

  private def hash64(s: String): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))).getLong

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  /** `{"query": "digest", ...}` as [[BatchBench.record]] writes it */
  def load(path: String): Map[String, String] = {
    val text = Files.readString(Paths.get(path))
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** The traced run's output: spans, per-layer numbers, tracing overhead. */
object TraceFile {
  def write(a: Args, spans: Spans, layers: Seq[Metric], overhead: Map[String, Any], setups: Seq[Map[String, Any]]): Unit = {
    val perLayer = layers.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    val body =
      s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds},
         |"per_layer": ${Json.render(perLayer)},
         |"tracing_overhead": ${Json.render(overhead)},
         |"setups": ${Json.render(setups)},
         |"spans": ${spans.toJson}}
         |""".stripMargin
    val p = Paths.get(a.traceOut)
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, body)
    println(s"graftbench: trace written to ${a.traceOut}")
  }
}

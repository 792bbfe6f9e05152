package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import StatefulOps._

/** Crash-anywhere restart equivalence for every public `streaming*`
  * operator of [[StatefulOps]]. Each case feeds N file-source
  * micro-batches (exactly one file per batch, no TTL): once
  * uninterrupted, then, for every k < N, stopped after batch k and
  * resumed from the checkpoint by a second query. The two
  * incarnations' combined output must equal the uninterrupted output
  * as a multiset. A case also has to prove it can see lost state:
  * resuming from an EMPTY checkpoint must change the output for some k.
  */
class StatefulRestartSpec extends SparkSpec {

  private final case class Case(ddl: String, batches: Seq[Seq[String]], op: DataFrame => DataFrame)

  /** one JSON input line; strings are quoted, sequences become arrays */
  private def row(fields: (String, Any)*): String = {
    def lit(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case xs: Seq[_] => xs.map(lit).mkString("[", ",", "]")
      case other => other.toString
    }
    fields.map { case (k, v) => s""""$k":${lit(v)}""" }.mkString("{", ",", "}")
  }

  /** One query incarnation over `inDir` and checkpoint `cp`: each file
    * lands atomically and is drained as its own micro-batch. Returns
    * the rows the incarnation emitted.
    */
  private def incarnation(c: Case, inDir: Path, cp: Path,
                          files: Seq[(Seq[String], Int)]): Seq[String] = {
    val out = new ConcurrentLinkedQueue[String]()
    val in = spark.readStream.schema(c.ddl).option("maxFilesPerTrigger", "1").json(inDir.toString)
    val q = c.op(in).writeStream
      .foreachBatch { (df: DataFrame, _: Long) => df.collect().foreach(r => out.add(r.toString)); () }
      .option("checkpointLocation", cp.toString)
      .start()
    try files.foreach { case (lines, i) =>
      val tmp = Files.createTempFile("restart", ".json")
      Files.writeString(tmp, lines.mkString("\n"))
      Files.move(tmp, inDir.resolve(f"b$i%02d.json"))
      q.processAllAvailable()
    } finally q.stop()
    out.asScala.toSeq
  }

  private def fresh(): (Path, Path) = {
    val root = Files.createTempDirectory("stateful-restart")
    (Files.createDirectories(root.resolve("in")), root.resolve("cp"))
  }

  private def multiset(rows: Seq[String]): Map[String, Int] =
    rows.groupMapReduce(identity)(_ => 1)(_ + _)

  private def check(c: Case): Unit = {
    val files = c.batches.zipWithIndex
    assert(files.size >= 3)
    val (in, cp) = fresh()
    val whole = multiset(incarnation(c, in, cp, files))
    val lostStateShows = (1 until files.size).map { k =>
      val (in1, cp1) = fresh()
      val first = incarnation(c, in1, cp1, files.take(k))
      val resumed = incarnation(c, in1, cp1, files.drop(k))
      assert(multiset(first ++ resumed) == whole,
        s"restart after batch $k: ${(first ++ resumed).sorted} != uninterrupted ${whole.keys.toSeq.sorted}")
      val (in2, cp2) = fresh()
      multiset(first ++ incarnation(c, in2, cp2, files.drop(k))) != whole
    }
    assert(lostStateShows.contains(true),
      "an empty checkpoint never changed the output: this case cannot detect lost state")
  }

  private val dup = "the quick brown fox jumps over the lazy dog again"
  private val other = "completely different words about spark state stores"

  test("streamingDedup is restart-equivalent") {
    def ev(k: String, v: String, ts: Long) = row("key" -> k, "value" -> v, "tsMillis" -> ts)
    check(Case("key STRING, value STRING, tsMillis BIGINT",
      Seq(Seq(ev("a", "x", 1), ev("b", "y", 2)),
        Seq(ev("a", "z", 3), ev("c", "w", 4)),
        Seq(ev("b", "v", 5), ev("c", "u", 6), ev("d", "t", 7))),
      df => streamingDedup(df.as[Keyed], ttlMs = 0L).toDF()))
  }

  test("streamingKeepLatest is restart-equivalent") {
    def ev(k: String, v: String, ts: Long) = row("key" -> k, "value" -> v, "tsMillis" -> ts)
    check(Case("key STRING, value STRING, tsMillis BIGINT",
      Seq(Seq(ev("a", "x", 10)),
        Seq(ev("a", "y", 5), ev("b", "q", 1)),
        Seq(ev("a", "z", 20), ev("b", "r", 0))),
      df => streamingKeepLatest(df.as[Keyed]).toDF()))
  }

  test("streamingMixtureByTokenBudget is restart-equivalent") {
    def ev(key: Long, tok: Long) = row("group" -> "web", "key" -> key, "tok" -> tok)
    check(Case("group STRING, key BIGINT, tok BIGINT",
      Seq(Seq(ev(1, 4), ev(2, 4)), Seq(ev(3, 3)), Seq(ev(4, 1), ev(5, 2))),
      df => streamingMixtureByTokenBudget(df.as[MixtureEvent], _ => 10L).toDF()))
  }

  test("streamingPackOffsets is restart-equivalent") {
    def ev(id: Long, idx: Long, tok: Long) =
      row("stream" -> "s", "id" -> id, "idx" -> idx, "tok" -> tok)
    check(Case("stream STRING, id BIGINT, idx BIGINT, tok BIGINT",
      Seq(Seq(ev(1, 0, 3), ev(1, 1, 2)), Seq(ev(2, 0, 4)), Seq(ev(3, 0, 1), ev(3, 1, 0))),
      df => streamingPackOffsets(df.as[ChunkEvent], budget = 4L).toDF()))
  }

  test("streamingPackOffsetsSharded is restart-equivalent") {
    def ev(shard: Int, id: Long, tok: Long) =
      row("stream" -> "s", "shard" -> shard, "id" -> id, "idx" -> 0, "tok" -> tok)
    check(Case("stream STRING, shard INT, id BIGINT, idx BIGINT, tok BIGINT",
      Seq(Seq(ev(0, 1, 3), ev(1, 2, 5)), Seq(ev(0, 3, 2)), Seq(ev(1, 4, 4), ev(0, 5, 1))),
      df => streamingPackOffsetsSharded(df.as[ShardedChunkEvent], budget = 4L, numShards = 2)
        .toDF()))
  }

  private val docs = "doc_id BIGINT, text STRING"
  private def doc(id: Long, text: String) = row("doc_id" -> id, "text" -> text)
  private val docBatches = Seq(
    Seq(doc(1, dup), doc(2, other)),
    Seq(doc(3, dup)),
    Seq(doc(4, dup), doc(5, other)))

  test("streamingSimhashCandidates is restart-equivalent") {
    check(Case(docs, docBatches, df => streamingSimhashCandidates(df, "doc_id", "text").toDF()))
  }

  test("streamingHammingCandidates63 is restart-equivalent") {
    def fp(id: Long, fp: Long) = row("id" -> id, "fp" -> fp)
    check(Case("id BIGINT, fp BIGINT",
      Seq(Seq(fp(1, 1000L), fp(2, 1L << 40)), Seq(fp(3, 1001L)), Seq(fp(4, 1003L), fp(5, 7L << 40))),
      df => streamingHammingCandidates63(df, "id", "fp").toDF()))
  }

  test("streamingNearDupCandidates is restart-equivalent") {
    check(Case(docs, docBatches, df => streamingNearDupCandidates(df, "doc_id", "text").toDF()))
  }

  test("streamingNearDupCandidatesEventTime is restart-equivalent") {
    // an hour of watermark delay and TTL over minutes of event time:
    // no bucket expires, so the output never depends on when Spark
    // schedules its no-data timeout batches
    def ev(id: Long, text: String, minute: Int) =
      row("doc_id" -> id, "text" -> text, "ts" -> f"2024-01-01 00:$minute%02d:00")
    check(Case("doc_id BIGINT, text STRING, ts STRING",
      Seq(Seq(ev(1, dup, 0), ev(2, other, 1)), Seq(ev(3, dup, 2)), Seq(ev(4, dup, 3), ev(5, other, 4))),
      df => streamingNearDupCandidatesEventTime(df, "doc_id", "text", "ts",
        watermarkDelay = "1 hour", ttlMs = 3600000L).toDF()))
  }

  test("streamingTopK is restart-equivalent") {
    def ev(k: String, ord: Long, id: Long) = row("key" -> k, "ord" -> ord, "id" -> id)
    check(Case("key STRING, ord BIGINT, id BIGINT",
      Seq(Seq(ev("s", 9, 1), ev("s", 5, 2)), Seq(ev("s", 7, 3)), Seq(ev("s", 6, 4), ev("t", 1, 5))),
      df => streamingTopK(df, "key", col("ord"), "id", k = 2).toDF()))
  }

  test("streamingTopKAny is restart-equivalent") {
    def ev(k: String, ord: Double, id: String) = row("key" -> k, "ord" -> ord, "id" -> id)
    check(Case("key STRING, ord DOUBLE, id STRING",
      Seq(Seq(ev("s", 0.9, "a"), ev("s", 0.5, "b")), Seq(ev("s", 0.7, "c")),
        Seq(ev("s", 0.6, "d"), ev("t", 0.1, "e"))),
      df => streamingTopKAny(df, "key", col("ord"), "id", k = 2).toDF()))
  }

  test("streamingSemanticCandidates is restart-equivalent") {
    def v(id: Long, x: Double, y: Double) = row("doc_id" -> id, "vec" -> Seq(x, y))
    check(Case("doc_id BIGINT, vec ARRAY<FLOAT>",
      Seq(Seq(v(1, 1.0, 0.1), v(2, 0.1, 1.0)), Seq(v(3, 0.9, 0.2)), Seq(v(4, 0.2, 0.9), v(5, 1.0, 0.0))),
      df => streamingSemanticCandidates(df, "doc_id", "vec",
        Array(Array(1f, 0f), Array(0f, 1f)), eps = 0.4).toDF()))
  }

  test("streamingDistinctKmv is restart-equivalent") {
    def ev(k: String, v: String) = row("key" -> k, "value" -> v)
    check(Case("key STRING, value STRING",
      Seq(Seq(ev("s", "v1"), ev("s", "v2")), Seq(ev("s", "v2"), ev("s", "v3")),
        Seq(ev("s", "v4"), ev("t", "v1"))),
      df => streamingDistinctKmv(df, "key", "value", k = 4).toDF()))
  }

  test("streamingResolveRevisits is restart-equivalent") {
    def ev(digest: String, original: Boolean, id: Long) = row("digest" -> digest,
      "isOriginal" -> original, "docId" -> id, "uri" -> s"u$id", "body" -> s"body$id")
    check(Case("digest STRING, isOriginal BOOLEAN, docId BIGINT, uri STRING, body STRING",
      Seq(Seq(ev("d1", original = false, 1), ev("d2", original = true, 2)),
        Seq(ev("d1", original = true, 3), ev("d2", original = false, 4)),
        Seq(ev("d1", original = false, 5))),
      df => streamingResolveRevisits(df.as[RevisitEvent]).toDF()))
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state over `KeyValueGroupedDataset` — the Structured
  * Streaming path for semantics the built-in windowed aggregations
  * can't express: the streaming twins of the batch curation operators
  * (dedup, keep-latest, mixture, packing, near-dup, simhash, SemDeDup,
  * top-k, KMV, WARC revisit). A batch operator needs the whole key
  * group; on an unbounded stream the group never completes, so each
  * twin keeps one state row per live key (partitioned by key hash
  * across executors) and folds every micro-batch into it.
  *
  * Every processing-time operator shares ONE state policy: the Spark
  * state API is called only in [[keyedState]] (grouping, Append mode,
  * timeout selection) and [[ttlStep]] (timeout expiry, state store,
  * TTL re-arm), so an operator is a pure `Option[S] => (Option[S],
  * out)` transition. With `ttlMs > 0` a key's state expires that long
  * after its last update, which bounds state size by live key
  * cardinality; `ttlMs = 0` keeps state forever.
  */
object StatefulOps {

  /** The shared per-key state policy. A timed-out key removes its state
    * and emits nothing. Otherwise `step` sees the prior state and
    * returns the next one (`None` keeps the prior state untouched) plus
    * the rows to emit; a key that holds state afterwards re-arms its
    * processing-time timeout when `ttlMs > 0`.
    */
  private def ttlStep[S, O](state: GroupState[S], ttlMs: Long)(
      step: Option[S] => (Option[S], Iterator[O])): Iterator[O] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val (next, out) = step(state.getOption)
      next.foreach(state.update)
      if (ttlMs > 0 && state.exists) state.setTimeoutDuration(ttlMs)
      out
    }

  /** The one `groupByKey` + `flatMapGroupsWithState` driver of the
    * processing-time operators: Append output, processing-time timeouts
    * only when a TTL is set.
    */
  private def keyedState[K: Encoder, V, S: Encoder, O: Encoder](ds: Dataset[V], ttlMs: Long)(
      key: V => K)(f: (K, Iterator[V], GroupState[S]) => Iterator[O]): Dataset[O] =
    ds.groupByKey(key).flatMapGroupsWithState[S, O](OutputMode.Append,
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout)(f)

  final case class Keyed(key: String, value: String, tsMillis: Long)
  final case class DedupResult(key: String, value: String, tsMillis: Long, dupOfCount: Long)
  final case class SeenState(firstTsMillis: Long, count: Long)

  implicit val keyedEnc: Encoder[Keyed] = Encoders.product[Keyed]
  implicit val resultEnc: Encoder[DedupResult] = Encoders.product[DedupResult]
  implicit val stateEnc: Encoder[SeenState] = Encoders.product[SeenState]
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** Per-group transition, factored out so it is unit-testable with
    * Spark's public `TestGroupState`. Emits only the FIRST event per
    * key; later duplicates bump a per-key counter and are suppressed.
    * With `ttlMs > 0`, state for a key expires that long after its last
    * update (processing-time TTL), so the state store stays bounded on
    * an unbounded stream — a key re-arriving after expiry is treated as
    * new, the documented at-least-once-compatible behavior (downstream
    * handlers must stay idempotent, as the reference's messaging
    * contract already requires, `docs/messaging.md:78-82`).
    */
  def dedupGroup(key: String, rows: Iterator[Keyed], state: GroupState[SeenState],
                 ttlMs: Long): Iterator[DedupResult] =
    ttlStep(state, ttlMs) { prior =>
      val batch = rows.toSeq
      val all = prior.map(_.count).getOrElse(0L) + batch.size
      val firstTs = prior.map(_.firstTsMillis)
        .getOrElse(batch.map(_.tsMillis).min)
      val out =
        if (prior.isEmpty)
          Iterator.single {
            val first = batch.minBy(_.tsMillis)
            DedupResult(key, first.value, first.tsMillis, batch.size - 1L)
          }
        else Iterator.empty
      (Some(SeenState(firstTs, all)), out)
    }

  def streamingDedup(events: Dataset[Keyed], ttlMs: Long): Dataset[DedupResult] =
    keyedState(events, ttlMs)(_.key)(dedupGroup(_, _, _, ttlMs))

  // ---- streaming keep-latest (CDC snapshot over a stream) ----

  /** STATE-SCHEMA v2 (round 4 dropped the redundant `tie` field): the
    * flatMapGroupsWithState state encoder is positional, so a checkpoint
    * written by the 3-field v1 state will fail or misdecode on restart
    * against this class. Restarting an existing keep-latest stream on
    * this version requires a NEW checkpoint directory (the stream
    * rebuilds state from the source's retained history).
    */
  final case class Latest(tsMillis: Long, value: String)

  implicit val latestEnc: Encoder[Latest] = Encoders.product[Latest]
  implicit val latestOutEnc: Encoder[(String, Latest)] =
    Encoders.tuple(Encoders.STRING, latestEnc)

  /** unsigned UTF-8 byte order — the comparison Spark's StringType
    * (UTF8String) uses inside `max(struct(ts, value))`, so stream ties
    * match the batch operator exactly, beyond the BMP included (Scala's
    * String ordering compares UTF-16 code units, which diverges on
    * supplementary characters).
    */
  private[streaming] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private val keyedRank: Ordering[Keyed] = (p: Keyed, q: Keyed) => {
    val c = java.lang.Long.compare(p.tsMillis, q.tsMillis)
    if (c != 0) c else utf8Compare(p.value, q.value)
  }

  /** Per-key transition for the streaming analog of
    * [[graft.operators.Dedup.keepLatest]]: state holds the current
    * winner per key — the lexicographic max of (ts, value) comparing
    * the VALUE ITSELF in UTF-8 byte order, the exact tie rule of the
    * batch operator's `max(struct(ts, tieCol))`, so batch and stream
    * agree row for row under equal timestamps. Each micro-batch emits
    * the key's NEW winner iff it changed. State is one row per live
    * key, TTL-bounded like the other stateful ops.
    */
  def keepLatestGroup(key: String, rows: Iterator[Keyed], state: GroupState[Latest],
                      ttlMs: Long): Iterator[(String, Latest)] =
    ttlStep(state, ttlMs) { prior =>
      val best = rows.max(keyedRank)
      val challenger = Latest(best.tsMillis, best.value)
      // a losing challenger keeps the current winner's state (None), but
      // the key was seen, so its TTL still re-arms
      val winner = prior match {
        case Some(cur) =>
          val c = java.lang.Long.compare(challenger.tsMillis, cur.tsMillis)
          val cmp = if (c != 0) c else utf8Compare(challenger.value, cur.value)
          if (cmp <= 0) None else Some(challenger)
        case None => Some(challenger)
      }
      (winner, winner.map(key -> _).iterator)
    }

  /** Streaming CDC compaction: one output row per key per micro-batch
    * WHEN its latest value changed — the upsert-snapshot feed a
    * downstream materializer consumes idempotently.
    */
  def streamingKeepLatest(events: Dataset[Keyed], ttlMs: Long = 0L): Dataset[(String, Latest)] =
    keyedState(events, ttlMs)(_.key)(keepLatestGroup(_, _, _, ttlMs))

  // ---- streaming token-budget mixture (incremental corpus cut) ----

  final case class MixtureEvent(group: String, key: Long, tok: Long)
  final case class BudgetState(cum: Long)
  final case class MixtureKept(group: String, key: Long, cumTokens: Long)

  implicit val mixEvEnc: Encoder[MixtureEvent] = Encoders.product[MixtureEvent]
  implicit val budgetEnc: Encoder[BudgetState] = Encoders.product[BudgetState]
  implicit val mixKeptEnc: Encoder[MixtureKept] = Encoders.product[MixtureKept]

  private val P = graft.functions.TextFunctions.P

  /** the batch operator's hash-order key
    * ([[graft.operators.Sampling.hashBucket]] at seed 0), so stream and
    * batch agree on within-micro-batch admission order. The key reduces
    * mod P BEFORE the affine multiply, mirroring hashBucket: same value
    * by modular arithmetic, but the product can't overflow int64 — the
    * old form silently wrapped here while the batch column errored
    * under ANSI, breaking the exact-agreement contract at |key| beyond
    * ~2.5e17.
    */
  private[streaming] def hashOrd(key: Long): Long =
    Math.floorMod(Math.floorMod(Math.floorMod(key, P) * 37L + 7L, P), 1000000L)

  /** Per-group transition for the streaming analog of
    * [[graft.operators.Sampling.mixtureByTokenBudget]]: state carries
    * the group's running token total across micro-batches; every
    * arrival accumulates (kept or not — the batch filter keeps rows
    * whose INCLUSIVE cumsum fits, and later rows only see larger
    * sums), rows are admitted while the total stays within budget.
    * Within a micro-batch, rows apply in the batch operator's hash
    * order, so driving the whole input through one batch reproduces
    * the batch mixture row-for-row. Once a group's budget is crossed
    * the state stops the group forever (or until TTL expiry) — the
    * incremental "stop ingesting source X at N tokens" a continuously
    * ingesting pipeline needs.
    */
  def mixtureGroup(group: String, rows: Iterator[MixtureEvent], state: GroupState[BudgetState],
                   budgetFor: String => Long, ttlMs: Long): Iterator[MixtureKept] =
    ttlStep(state, ttlMs) { prior =>
      val budget = budgetFor(group)
      val ordered = rows.toSeq.sortBy(e => (hashOrd(e.key), e.key))
      var cum = prior.map(_.cum).getOrElse(0L)
      val out = ordered.flatMap { e =>
        cum += e.tok
        if (cum <= budget) Some(MixtureKept(group, e.key, cum)) else None
      }
      (Some(BudgetState(cum)), out.iterator)
    }

  /** Streaming corpus mixture: one state row per source (the running
    * token total — a few bytes, not the data), emitting each admitted
    * document with its inclusive cumulative count. Batch-driving the
    * full input equals `Sampling.mixtureByTokenBudget` exactly.
    */
  def streamingMixtureByTokenBudget(
      events: Dataset[MixtureEvent], budgetFor: String => Long,
      ttlMs: Long = 0L): Dataset[MixtureKept] =
    keyedState(events, ttlMs)(_.group)(mixtureGroup(_, _, _, budgetFor, ttlMs))

  // ---- streaming packing (incremental context-window offsets) ----

  final case class ChunkEvent(stream: String, id: Long, idx: Long, tok: Long)
  final case class PackState(nextStart: Long)
  final case class PackedChunk(stream: String, id: Long, idx: Long, tok: Long,
                               startTok: Long, winFirst: Long, winLast: Long)

  implicit val chunkEvEnc: Encoder[ChunkEvent] = Encoders.product[ChunkEvent]
  implicit val packStEnc: Encoder[PackState] = Encoders.product[PackState]
  implicit val packedEnc: Encoder[PackedChunk] = Encoders.product[PackedChunk]

  /** Per-stream transition for the streaming analog of
    * [[graft.operators.Packing.packOffsets]]: state is the next global
    * token offset of the stream; each micro-batch lays its chunks
    * end-to-end in (id, idx) order and stamps `budget`-token window
    * ids. When micro-batches arrive in id order (the Kafka-offset
    * shape), batch-driving the full input equals `packOffsets`
    * row-for-row. The recurrence is [[shardedPackGroup]]'s with one
    * shard: shard-local offsets are then global and `w·1 + 0 = w`.
    */
  def packGroup(stream: String, rows: Iterator[ChunkEvent], state: GroupState[PackState],
                budget: Long, ttlMs: Long): Iterator[PackedChunk] =
    shardedPackGroup(stream, 0, rows.map(e => ShardedChunkEvent(stream, 0, e.id, e.idx, e.tok)),
      state, budget, numShards = 1, ttlMs)
      .map(c => PackedChunk(stream, c.id, c.idx, c.tok, c.startTok, c.winFirst, c.winLast))

  /** Streaming sequence packing: per-stream running offset state (one
    * long), chunks stamped with global start offsets and context-window
    * ids as they arrive.
    */
  def streamingPackOffsets(
      chunks: Dataset[ChunkEvent], budget: Long,
      ttlMs: Long = 0L): Dataset[PackedChunk] = {
    require(budget > 0, "budget must be positive")
    keyedState(chunks, ttlMs)(_.stream)(packGroup(_, _, _, budget, ttlMs))
  }

  // ---- sharded streaming packing (parallel within one stream) ----

  final case class ShardedChunkEvent(stream: String, shard: Int, id: Long, idx: Long, tok: Long)
  final case class ShardedPackedChunk(stream: String, shard: Int, id: Long, idx: Long, tok: Long,
                                      startTok: Long, winFirst: Long, winLast: Long)

  implicit val shChunkEvEnc: Encoder[ShardedChunkEvent] = Encoders.product[ShardedChunkEvent]
  implicit val shPackedEnc: Encoder[ShardedPackedChunk] = Encoders.product[ShardedPackedChunk]
  implicit val shKeyEnc: Encoder[(String, Int)] = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)

  /** Per-(stream, shard) transition for [[streamingPackOffsetsSharded]]:
    * the running-offset recurrence [[packGroup]] also runs, but the
    * offset axis is SHARD-LOCAL and window ids stitch into the global
    * id space by interleaving — shard s's w-th window is global window
    * `w·numShards + s`. No cross-shard coordination exists at any
    * point, which is the whole design: global stitched ids come from
    * arithmetic, not from a barrier.
    */
  def shardedPackGroup(stream: String, shard: Int, rows: Iterator[ShardedChunkEvent],
                       state: GroupState[PackState], budget: Long, numShards: Int,
                       ttlMs: Long): Iterator[ShardedPackedChunk] =
    ttlStep(state, ttlMs) { prior =>
      val ordered = rows.toSeq.sortBy(e => (e.id, e.idx))
      var start = prior.map(_.nextStart).getOrElse(0L)
      val out = ordered.map { e =>
        val localFirst = start / budget
        val localLast = if (e.tok == 0) localFirst else (start + e.tok - 1) / budget
        val r = ShardedPackedChunk(stream, shard, e.id, e.idx, e.tok, start,
          localFirst * numShards + shard, localLast * numShards + shard)
        start += e.tok
        r
      }
      (Some(PackState(start)), out.iterator)
    }

  /** Sharded streaming sequence packing — the scale path past
    * [[streamingPackOffsets]]'s per-stream serialization. A single
    * totally-ordered stream MUST serialize through one state task (a
    * global pack order is sequential by definition); when the user can
    * accept PER-SHARD order instead — the usual case: any
    * shard-assignment that is sticky per document keeps every doc's
    * chunks contiguous — state becomes one long per (stream, shard)
    * and the stream packs on `numShards` tasks in parallel.
    *
    * Contract: `startTok` is the shard-local token offset; window ids
    * are globally unique and stable across shards by interleaved
    * stitching (shard s's w-th window = `w·numShards + s`). Windows
    * never span shards; each shard's windows fill at `budget` tokens
    * exactly as the serial operator's do. Batch-driving the full
    * input equals the same arithmetic on a per-shard cumsum, which is
    * how the oracle gates it (`ta_pack_sharded`).
    */
  def streamingPackOffsetsSharded(
      chunks: Dataset[ShardedChunkEvent], budget: Long, numShards: Int,
      ttlMs: Long = 0L): Dataset[ShardedPackedChunk] = {
    require(budget > 0, "budget must be positive")
    require(numShards > 0, "numShards must be positive")
    keyedState(chunks, ttlMs)(e => (e.stream, e.shard)) {
      (key: (String, Int), rows: Iterator[ShardedChunkEvent], state: GroupState[PackState]) =>
        shardedPackGroup(key._1, key._2, rows, state, budget, numShards, ttlMs)
    }
  }

  // ---- streaming near-dup candidates (MinHash + LSH over a stream) ----

  final case class BandedDoc(band: String, docId: Long)
  final case class CandidatePair(da: Long, db: Long, band: String)
  final case class BucketState(docIds: List[Long])

  implicit val bandedEnc: Encoder[BandedDoc] = Encoders.product[BandedDoc]
  implicit val pairEnc: Encoder[CandidatePair] = Encoders.product[CandidatePair]
  implicit val bucketEnc: Encoder[BucketState] = Encoders.product[BucketState]

  /** The bounded-resident bucket step every streaming pair operator
    * shares. Fresh arrivals — distinct BY ID (a doc re-delivered in one
    * batch with a changed payload would otherwise self-pair and occupy
    * two slots) and not yet resident — enter in ascending-id order; each
    * pairs with every resident through `pairWith` (the operator's own
    * per-pair test) and then becomes a resident. Once the bucket holds
    * `cap` docs it is boilerplate: it stops pairing and stops growing,
    * so state per bucket is bounded by construction and pairs per event
    * by `cap`. An arrival `admit` rejects is skipped without taking a
    * slot. Returns the residents, newest first.
    */
  private def pairBucket[R](prior: List[R], arrivals: Iterator[R], cap: Int)(
      id: R => Long, admit: R => Boolean = (_: R) => true)(pairWith: (R, R) => Unit): List[R] = {
    // membership via a Set and an explicit count: per-arrival bookkeeping
    // is O(1) instead of the List's O(n) contains/size (pairing itself is
    // O(residents) — that is the output size, not overhead)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    prior.foreach(seen += id(_))
    val fresh = arrivals.toSeq.distinctBy(id).filterNot(r => seen.contains(id(r))).sortBy(id)
    var resident = prior
    var count = seen.size
    fresh.foreach { r =>
      if (count < cap && admit(r)) {
        resident.foreach(pairWith(r, _))
        resident = r :: resident
        count += 1
      }
    }
    resident
  }

  /** Per-bucket transition (unit-testable via TestGroupState): every new
    * doc in an LSH band bucket pairs with the docs already resident
    * there, across micro-batches. `maxBucket` is the streaming analog of
    * the batch frequency cap ([[graft.operators.Dedup.ngramJaccardPairs]]'
    * `maxShingleFreq`), with [[pairBucket]]'s capacity contract.
    */
  def nearDupGroup(band: String, rows: Iterator[BandedDoc], state: GroupState[BucketState],
                   maxBucket: Int, ttlMs: Long): Iterator[CandidatePair] =
    ttlStep(state, ttlMs) { prior =>
      val pairs = scala.collection.mutable.ListBuffer[CandidatePair]()
      val resident = pairBucket(prior.map(_.docIds).getOrElse(Nil), rows.map(_.docId),
          maxBucket)(identity) { (id, other) =>
        pairs += CandidatePair(math.min(id, other), math.max(id, other), band)
      }
      (Some(BucketState(resident)), pairs.iterator)
    }

  // ---- streaming simhash near-dup pairs (exact hamming, incremental) ----

  final case class BlockedFp(blk: String, docId: Long, fp: Long)
  final case class SimhashPair(da: Long, db: Long, hamming: Long)
  final case class FpBucketState(docs: List[(Long, Long)])

  implicit val blockedFpEnc: Encoder[BlockedFp] = Encoders.product[BlockedFp]
  implicit val simhashPairEnc: Encoder[SimhashPair] = Encoders.product[SimhashPair]
  implicit val fpBucketEnc: Encoder[FpBucketState] = Encoders.product[FpBucketState]

  /** Per-block-bucket transition for [[streamingSimhashCandidates]]:
    * every arrival pairs against the bucket's residents with the EXACT
    * hamming filter applied at pair time — unlike the MinHash variant
    * these are qualifying pairs, not candidates. Same `maxBucket`
    * contract: a bucket at capacity is boilerplate, stops pairing, and
    * stops growing, so state and per-event output are bounded.
    */
  def simhashGroup(blk: String, rows: Iterator[BlockedFp], state: GroupState[FpBucketState],
                   maxHamming: Int, maxBucket: Int, ttlMs: Long): Iterator[SimhashPair] =
    ttlStep(state, ttlMs) { prior =>
      val pairs = scala.collection.mutable.ListBuffer[SimhashPair]()
      val resident = pairBucket(prior.map(_.docs).getOrElse(Nil), rows.map(e => (e.docId, e.fp)),
          maxBucket)(_._1) { case ((id, fp), (oid, ofp)) =>
        val h = java.lang.Long.bitCount(fp ^ ofp).toLong
        if (h <= maxHamming)
          pairs += SimhashPair(math.min(id, oid), math.max(id, oid), h)
      }
      (Some(FpBucketState(resident)), pairs.iterator)
    }

  /** Streaming simhash63 near-dup pairs: each document explodes into
    * its 4 block keys (16/16/16/15-bit blocks of the SAME 63-bit
    * fingerprint family as [[graft.operators.Dedup.simhashPairs63]], so
    * stream and batch agree on buckets AND fingerprints); per-bucket
    * state pairs arrivals with residents under the exact
    * hamming ≤ `maxHamming` filter — lossless for ≤ 3 by pigeonhole,
    * like the batch operator. A pair within distance in several blocks
    * is emitted once per block (at-least-once, like the MinHash
    * variant) — downstream dedups on (da, db). Batch-driving the full
    * corpus and distinct-ing equals [[graft.operators.Dedup.simhashPairs63]].
    */
  def streamingSimhashCandidates(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3,
      maxBucket: Int = 1000, ttlMs: Long = 0L): Dataset[SimhashPair] = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Hashing, TextFunctions}
    streamingHammingCandidates63(
      docs.select(
        col(idCol).as("id"),
        Hashing.simhash63(TextFunctions.shingles(col(textCol), n)).as("fp")),
      "id", "fp", maxHamming, maxBucket, ttlMs)
  }

  /** [[streamingSimhashCandidates]] over a PRECOMPUTED 63-bit
    * fingerprint column — the generic streaming twin of
    * [[graft.operators.Dedup.hammingPairs63]], usable by any
    * fingerprint producer (e.g. the image average-hash,
    * [[graft.operators.MediaDecode.aHash63]]). Same per-block bucket
    * state, occupancy cap, and at-least-once per-block emission;
    * batch-driving the full set and distinct-ing equals the batch
    * all-pairs hamming join.
    */
  def streamingHammingCandidates63(
      fps: org.apache.spark.sql.DataFrame, idCol: String, fpCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000, ttlMs: Long = 0L): Dataset[SimhashPair] = {
    import org.apache.spark.sql.functions._
    import graft.functions.Hashing
    require(maxHamming <= 3, "4-block blocking is only lossless for hamming <= 3")
    val blocked = fps
      .select(col(idCol).cast("long").as("docId"), col(fpCol).cast("long").as("fp"))
      .select(col("docId"), col("fp"),
        explode(array((0 until 4).map(b =>
          concat_ws("-", lit(b), Hashing.simhash63Block(col("fp"), b))): _*)).as("blk"))
      .as[BlockedFp]
    keyedState(blocked, ttlMs)(_.blk)(simhashGroup(_, _, _, maxHamming, maxBucket, ttlMs))
  }

  /** Streaming MinHash+LSH near-dup candidates: each document explodes
    * into its band keys (same signature family as the batch operator,
    * so batch and stream agree on buckets); per-band state pairs
    * arrivals with residents. A pair colliding in several bands is
    * emitted once per band (at-least-once, like the messaging contract)
    * — downstream consumers dedup on (da, db).
    */
  def streamingNearDupCandidates(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBucket: Int = 1000, ttlMs: Long = 0L): Dataset[CandidatePair] = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Hashing, TextFunctions}
    val banded = docs
      .select(
        col(idCol).cast("long").as("docId"),
        explode(Hashing.lshBandKeys(
          Hashing.minhashSignature(TextFunctions.shingles(col(textCol), n), k),
          k, bands)).as("band"))
      .as[BandedDoc]
    keyedState(banded, ttlMs)(_.band)(nearDupGroup(_, _, _, maxBucket, ttlMs))
  }

  final case class BandedDocTs(band: String, docId: Long, ts: java.sql.Timestamp)
  implicit val bandedTsEnc: Encoder[BandedDocTs] = Encoders.product[BandedDocTs]

  /** EVENT-TIME variant of [[streamingNearDupCandidates]]: bucket state
    * expires when the stream's WATERMARK passes the bucket's last
    * event time + `ttl` — the replay-correct retention rule. A
    * processing-time TTL is wrong in both directions at 100 TB: a fast
    * historical replay expires (almost) nothing, so bucket-key
    * cardinality grows with the whole replayed corpus; lagging live
    * traffic expires buckets the data's own clock says are current.
    * Here retention follows event time in both cases.
    *
    * The input must carry `eventTimeCol` and the caller-supplied
    * `watermarkDelay` is applied here (the watermark must be on THIS
    * frame for the timeout clock to advance). Pairing semantics are
    * identical to the processing-time operator: same bands, same
    * `maxBucket` cap, same at-least-once per-band emission.
    */
  def streamingNearDupCandidatesEventTime(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      eventTimeCol: String, watermarkDelay: String, ttlMs: Long,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBucket: Int = 1000): Dataset[CandidatePair] = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Hashing, TextFunctions}
    require(ttlMs > 0, "streamingNearDupCandidatesEventTime: ttlMs must be positive")
    docs
      .select(
        col(idCol).cast("long").as("docId"),
        col(eventTimeCol).cast("timestamp").as("ts"),
        explode(Hashing.lshBandKeys(
          Hashing.minhashSignature(TextFunctions.shingles(col(textCol), n), k),
          k, bands)).as("band"))
      // a null/uncastable event time would NPE in the group function's
      // max-ts fold and poison-pill the query on every restart; rows
      // without a clock cannot participate in event-time retention
      .filter(col("ts").isNotNull)
      // watermark AFTER the projection: a cast/rename strips the
      // watermark metadata, and EventTimeTimeout requires the marked
      // column to reach the flatMapGroupsWithState input
      .withWatermark("ts", watermarkDelay)
      .as[BandedDocTs]
      .groupByKey(_.band)
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (band: String, rows: Iterator[BandedDocTs], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val buffered = rows.toSeq
            val out = nearDupGroup(band,
              buffered.map(r => BandedDoc(r.band, r.docId)).iterator,
              state, maxBucket, ttlMs = 0L)
            // expire when the watermark passes last-event-time + ttl;
            // the timestamp must sit above the current watermark, so a
            // late straggler batch clamps to watermark + ttl
            val maxTs = buffered.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + ttlMs)
            out
          }
      }
  }

  // ---- streaming semantic (SemDeDup) near-dup candidates ----

  final case class ListedVec(list: Int, docId: Long, vec: Seq[Float])
  final case class SemPair(da: Long, db: Long, cos: Double)
  /** residents carry their squared norm so the pair loop computes ONE
    * dot per pair instead of dot + two norms (3× fewer O(d) passes). */
  final case class ListState(docs: List[(Long, Seq[Float], Double)])

  implicit val listKeyEnc: Encoder[Int] = Encoders.scalaInt
  implicit val listedVecEnc: Encoder[ListedVec] = Encoders.product[ListedVec]
  implicit val semPairEnc: Encoder[SemPair] = Encoders.product[SemPair]
  implicit val listStateEnc: Encoder[ListState] = Encoders.product[ListState]

  /** dot product folded left-to-right in double (a squared norm is
    * `dotD(a, a)`) — the SAME summation order as the batch kernels
    * ([[graft.functions.Kernels.vecDot]]/`vecNorm2`), so a streaming
    * pair's cosine is bit-identical to the batch self-join's and the
    * batch-drive oracle can share [[graft.operators.Dedup.semanticPairs]]'
    * SQL re-derivation.
    */
  private def dotD(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
  }

  /** Per-IVF-list transition for [[streamingSemanticCandidates]]: every
    * arrival pairs against the list's residents under the exact
    * cosine > eps filter (qualifying pairs, like the simhash variant —
    * not candidates). Same `maxList` contract as every streaming
    * bucket: a list at capacity is boilerplate (or an undersized
    * quantizer), stops pairing, and stops growing, so state and
    * per-event output are bounded. Zero-norm vectors never pair (no
    * NaN cosine is ever computed), mirroring the batch guard.
    */
  def semGroup(list: Int, rows: Iterator[ListedVec], state: GroupState[ListState],
               eps: Double, maxList: Int, ttlMs: Long): Iterator[SemPair] =
    ttlStep(state, ttlMs) { prior =>
      val pairs = scala.collection.mutable.ListBuffer[SemPair]()
      // zero-norm vectors can never pair (cosine undefined) — `admit`
      // skips them entirely rather than admitting them as residents,
      // where each would permanently burn a maxList slot until the
      // list "fills" with dead vectors and stops pairing live ones.
      // (The nb > 0 guard stays for state written before this rule.)
      val resident = pairBucket(prior.map(_.docs).getOrElse(Nil),
          rows.map(e => (e.docId, e.vec, dotD(e.vec, e.vec))), maxList)(_._1, _._3 > 0) {
        case ((id, vec, na), (oid, ovec, nb)) =>
          if (nb > 0) {
            val cos = dotD(vec, ovec) / math.sqrt(na * nb)
            if (cos > eps)
              pairs += SemPair(math.min(id, oid), math.max(id, oid), cos)
          }
      }
      (Some(ListState(resident)), pairs.iterator)
    }

  // ---- streaming per-key top-k (the curation leaderboard) ----

  final case class KeyedOrd(key: String, ord: Long, id: Long)
  final case class TopKState(pairs: List[(Long, Long)])
  final case class TopKRow(key: String, ord: Long, id: Long)

  implicit val keyedOrdEnc: Encoder[KeyedOrd] = Encoders.product[KeyedOrd]
  implicit val topKStateEnc: Encoder[TopKState] = Encoders.product[TopKState]
  implicit val topKRowEnc: Encoder[TopKRow] = Encoders.product[TopKRow]

  /** Per-key transition for [[streamingTopK]]: fold the micro-batch
    * into a k-bounded leaderboard (same eviction rule as the batch
    * aggregate: best = ord DESC, id ASC) and emit the key's CURRENT
    * top-k, best-first. Emissions are per-batch snapshots (a
    * leaderboard, not a delta); batch-driving the whole corpus in one
    * batch therefore equals [[graft.operators.Sampling.capPerGroup]]
    * exactly. Unlike the batch aggregate, membership is per-ID: a
    * re-delivered event (at-least-once sources re-emit ids across
    * micro-batches) updates its resident entry if it beats it instead
    * of occupying a second slot and evicting a distinct doc. State is
    * ≤ k (ord, id) pairs per key; PER-KEY size is bounded by
    * construction, but KEY CARDINALITY is not — `ttlMs` expires idle
    * keys like every sibling op (the open-web-domain leaderboard would
    * otherwise accrete state forever).
    */
  def topKGroup(key: String, rows: Iterator[KeyedOrd], state: GroupState[TopKState],
                k: Int, ttlMs: Long = 0L): Iterator[TopKRow] =
    ttlStep(state, ttlMs) { prior =>
      val best = topKFold(prior.map(_.pairs).getOrElse(Nil), rows.map(e => (e.ord, e.id)), k)(
        java.lang.Long.compare, java.lang.Long.compare)
      (Some(TopKState(best)), best.iterator.map { case (o, i) => TopKRow(key, o, i) })
    }

  /** The k-bounded upsert fold both leaderboards share: `prior` and the
    * result are best-first (ord DESC, id ASC under `ordCmp`/`idCmp`);
    * an arriving id already on the board keeps its best ord, a new id
    * takes a free slot or displaces the worst entry if it beats it.
    */
  private def topKFold[A, B](prior: List[(A, B)], rows: Iterator[(A, B)], k: Int)(
      ordCmp: (A, A) => Int, idCmp: (B, B) => Int): List[(A, B)] = {
    // worst-first tree + id index: O(log k) per arrival, O(k) memory
    val worstFirst: Ordering[(A, B)] = (a: (A, B), b: (A, B)) => {
      val c = ordCmp(a._1, b._1) // ord ASC
      if (c != 0) c else idCmp(b._2, a._2) // id DESC
    }
    val byId = scala.collection.mutable.HashMap.empty[B, A]
    val tree = scala.collection.mutable.TreeSet.empty[(A, B)](worstFirst)
    prior.foreach { case (o, i) => byId(i) = o; tree += ((o, i)) }
    rows.foreach { case e @ (ord, id) =>
      byId.get(id) match {
        case Some(o) =>
          if (ordCmp(ord, o) > 0) { // same id: keep its best observation
            tree -= ((o, id)); tree += e; byId(id) = ord
          }
        case None =>
          if (byId.size < k) {
            byId(id) = ord; tree += e
          } else {
            val worst = tree.head
            if (worstFirst.lt(worst, e)) {
              tree -= worst; byId -= worst._2
              byId(id) = ord; tree += e
            }
          }
      }
    }
    tree.toList.reverse // best-first: ord DESC, id ASC
  }

  /** Streaming leaderboard: the incremental form of
    * [[graft.operators.Sampling.capPerGroup]] — per key, the best k
    * rows by (ord DESC, id ASC) seen so far, re-emitted as a snapshot
    * every micro-batch. State is O(k) per key, a hot key costs
    * O(log k) per arrival (never a sort), re-delivered ids update
    * their resident entry instead of double-counting, and `ttlMs`
    * (processing-time, like every sibling stateful op) expires keys
    * idle past it — per-key state is bounded by construction but key
    * cardinality is only bounded by the TTL.
    */
  def streamingTopK(df: org.apache.spark.sql.DataFrame,
                    keyCol: String, ordCol: org.apache.spark.sql.Column,
                    idCol: String, k: Int, ttlMs: Long = 0L): Dataset[TopKRow] = {
    import org.apache.spark.sql.functions.col
    require(k > 0, s"streamingTopK: k must be positive, got $k")
    // the state schema is (long ord, long id): a fractional ord would
    // silently truncate (0.93 and 0.41 both rank 0) and a string id
    // would null-cast into a runtime encoder failure — fail LOUD at
    // build time and point at the generic variant instead
    val ordT = df.select(ordCol).schema.head.dataType
    require(!(ordT == org.apache.spark.sql.types.FloatType ||
        ordT == org.apache.spark.sql.types.DoubleType ||
        ordT.isInstanceOf[org.apache.spark.sql.types.DecimalType]),
      s"streamingTopK: fractional ord ($ordT) would truncate through the long state — " +
        "use streamingTopKAny")
    require(df.select(col(idCol)).schema.head.dataType !=
        org.apache.spark.sql.types.StringType,
      "streamingTopK: string ids null-cast through the long state — use streamingTopKAny")
    val ranked = df.select(col(keyCol).cast("string").as("key"),
        ordCol.cast("long").as("ord"), col(idCol).cast("long").as("id"))
      // null ord/id rows are skipped like the batch aggregate's update
      // (and would otherwise fail KeyedOrd's non-nullable encoder)
      .filter(col("ord").isNotNull && col("id").isNotNull)
      .as[KeyedOrd]
    keyedState(ranked, ttlMs)(_.key)(topKGroup(_, _, _, k, ttlMs))
  }

  // ---- generic-typed streaming top-k (string ids / fractional ords) --

  final case class KeyedOrdAny(key: String, ord: Double, id: String)
  final case class TopKStateAny(pairs: List[(Double, String)])
  final case class TopKRowAny(key: String, ord: Double, id: String)

  implicit val keyedOrdAnyEnc: Encoder[KeyedOrdAny] = Encoders.product[KeyedOrdAny]
  implicit val topKStateAnyEnc: Encoder[TopKStateAny] = Encoders.product[TopKStateAny]
  implicit val topKRowAnyEnc: Encoder[TopKRowAny] = Encoders.product[TopKRowAny]

  /** [[topKGroup]] over (double ord, string id) — the streaming twin
    * of the batch string-id heap ([[graft.functions.TopKPairsStr]]):
    * best = ord DESC (Double.compare — NaN largest, Spark's own double
    * sort), id ASC lexicographic.
    *
    * Duplicate-id contract (same as the long-ord [[topKGroup]]): ids
    * are UPSERTED — a repeated id within a key keeps only its best
    * ord, never two entries. The batch heap (TopKPairsStr /
    * capPerGroup) has no id identity and keeps duplicate ids as
    * separate heap entries, so for inputs that legitimately carry the
    * same id twice per key the streaming result is the per-id-best
    * top-k while the batch result is the per-ROW top-k. The
    * batch-equals-streaming claim therefore holds exactly when
    * (key, id) is unique in the input — which every oracle here
    * guarantees (ids are primary keys). Pinned by
    * `StatefulOpsSpec` "streamingTopKAny upserts duplicate ids".
    */
  def topKGroupAny(key: String, rows: Iterator[KeyedOrdAny],
                   state: GroupState[TopKStateAny],
                   k: Int, ttlMs: Long = 0L): Iterator[TopKRowAny] =
    ttlStep(state, ttlMs) { prior =>
      val best = topKFold(prior.map(_.pairs).getOrElse(Nil), rows.map(e => (e.ord, e.id)), k)(
        java.lang.Double.compare, _ compareTo _)
      (Some(TopKStateAny(best)), best.iterator.map { case (o, i) => TopKRowAny(key, o, i) })
    }

  /** [[streamingTopK]] for string ids and/or fractional ords — the
    * incremental twin of [[graft.operators.Sampling.capPerGroup]]'s
    * string/double dispatch. Ord rides a double (exact for fractional
    * scores; integral ords past 2^53 belong on [[streamingTopK]]'s
    * long state), ids compare lexicographically (the batch
    * string-heap's tie rule). Null ords or ids are dropped, matching
    * the batch aggregate's null-skip.
    */
  def streamingTopKAny(df: org.apache.spark.sql.DataFrame,
                       keyCol: String, ordCol: org.apache.spark.sql.Column,
                       idCol: String, k: Int, ttlMs: Long = 0L): Dataset[TopKRowAny] = {
    import org.apache.spark.sql.functions.col
    require(k > 0, s"streamingTopKAny: k must be positive, got $k")
    val ranked = df.select(col(keyCol).cast("string").as("key"),
        ordCol.cast("double").as("ord"), col(idCol).cast("string").as("id"))
      .filter(col("ord").isNotNull && col("id").isNotNull)
      .as[KeyedOrdAny]
    keyedState(ranked, ttlMs)(_.key)(topKGroupAny(_, _, _, k, ttlMs))
  }

  /** Streaming SemDeDup candidates: arrivals are assigned to their IVF
    * list by a PRE-TRAINED quantizer (train offline with
    * [[graft.operators.Similarity.ivfCentroids]] — the deployment shape:
    * the centroid model is a broadcast-sized artifact, re-trained per
    * corpus version, while the stream runs against it), and per-list
    * state pairs each arrival with the residents above the cosine eps —
    * the incremental form of [[graft.operators.Dedup.semanticPairs]].
    * Batch-driving the full corpus and distinct-ing (da, db) equals the
    * batch operator at the same (centroids, eps), which is how the
    * driver oracle gates it.
    *
    * STATE SIZE is `maxList` full vectors per list key — at the default
    * cap and 768-dim float embeddings that is up to ~300 MB in ONE
    * state row, rewritten every batch that touches the list (unlike
    * the batch operator, whose cap only bounds pairing). Size `maxList`
    * to dim and state-store budget: 1000–10000 is the realistic range
    * for high-dim streams; the default suits low-dim/bench corpora.
    */
  def streamingSemanticCandidates(
      docs: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      eps: Double = 0.4, maxList: Int = 100000, ttlMs: Long = 0L): Dataset[SemPair] = {
    import org.apache.spark.sql.functions._
    val unit = graft.operators.Similarity.unitNorm(centroids)
    val listed = docs
      .select(
        graft.functions.Kernels.ivfAssign(col(vecCol), unit).as("list"),
        col(idCol).cast("long").as("docId"),
        col(vecCol).as("vec"))
      .as[ListedVec]
    keyedState(listed, ttlMs)(_.list)(semGroup(_, _, _, eps, maxList, ttlMs))
  }

  // ---- streaming KMV distinct sketch ----

  final case class KeyedHash(key: String, h: Long)
  final case class KmvState(hashes: List[Long])
  final case class KmvSnapshot(key: String, nKept: Long, kthHash: Long, estDistinct: Long)

  implicit val keyedHashEnc: Encoder[KeyedHash] = Encoders.product[KeyedHash]
  implicit val kmvStateEnc: Encoder[KmvState] = Encoders.product[KmvState]
  implicit val kmvSnapshotEnc: Encoder[KmvSnapshot] = Encoders.product[KmvSnapshot]

  private val KmvRange: BigInt =
    BigInt(graft.functions.TextFunctions.P) * BigInt(graft.functions.Kernels.P2)

  /** Per-group transition for [[streamingDistinctKmv]]: fold arriving
    * hashes into the ≤ k smallest distinct set (TreeSet — O(log k) per
    * arrival, duplicates are set-idempotent so at-least-once
    * redelivery never inflates the estimate), emit one snapshot per
    * batch. The estimate reproduces the batch
    * [[graft.operators.Profile.kmvEstimate]] EXACTLY: exact count
    * below k, else (k−1)·R DIV kth in BigInt (both floor positive
    * quotients).
    */
  def kmvGroup(key: String, rows: Iterator[KeyedHash], state: GroupState[KmvState],
               k: Int, ttlMs: Long): Iterator[KmvSnapshot] =
    ttlStep(state, ttlMs) { prior =>
      val set = scala.collection.mutable.TreeSet.empty[Long]
      prior.foreach(s => set ++= s.hashes)
      rows.foreach { r =>
        set += r.h
        if (set.size > k) set -= set.last
      }
      // an empty sketch stores nothing, so it never arms a timeout either
      if (set.isEmpty) (None, Iterator.empty)
      else {
        val kept = set.toList // ascending
        val n = kept.size.toLong
        val kth = kept.last
        val est =
          if (n < k) n else (BigInt(k - 1) * KmvRange / BigInt(kth)).toLong
        (Some(KmvState(kept)), Iterator.single(KmvSnapshot(key, n, kth, est)))
      }
    }

  /** Streaming distinct-cardinality: the incremental form of
    * [[graft.operators.Profile.distinctKmv]] — per key, the KMV
    * sketch of every value seen so far, snapshot re-emitted each
    * micro-batch. Values hash through the same
    * [[graft.functions.TextFunctions.kmvHash]] column expression
    * BEFORE the shuffle (map-side, codegen), so state carries longs,
    * never values. Batch-driving the whole corpus in one batch equals
    * the batch operator exactly — the driver oracle gates it. State is
    * O(k) per key; key cardinality is bounded by `ttlMs` like every
    * sibling op.
    */
  def streamingDistinctKmv(df: org.apache.spark.sql.DataFrame,
                           keyCol: String, valueCol: String,
                           k: Int = 64, ttlMs: Long = 0L): Dataset[KmvSnapshot] = {
    import org.apache.spark.sql.functions.col
    require(k >= 2, s"streamingDistinctKmv: k must be >= 2, got $k")
    val hashed = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("key"),
        graft.functions.TextFunctions.kmvHash(col(valueCol).cast("string")).as("h"))
      .as[KeyedHash]
    keyedState(hashed, ttlMs)(_.key)(kmvGroup(_, _, _, k, ttlMs))
  }

  // ---- streaming WARC revisit resolution ----

  final case class RevisitEvent(digest: String, isOriginal: Boolean, docId: Long,
                                uri: String, body: String)
  final case class OrigState(origDocId: Long, body: String,
                             pending: List[(Long, String)], dropped: Long)
  final case class ResolvedRevisit(digest: String, docId: Long, uri: String,
                                   origDocId: Long, body: String)

  implicit val revisitEventEnc: Encoder[RevisitEvent] = Encoders.product[RevisitEvent]
  implicit val origStateEnc: Encoder[OrigState] = Encoders.product[OrigState]
  implicit val resolvedRevisitEnc: Encoder[ResolvedRevisit] = Encoders.product[ResolvedRevisit]

  /** Per-digest transition for [[streamingResolveRevisits]] — the
    * streaming half of
    * [[graft.operators.Multimodal.resolveRevisits]]: the FIRST
    * original seen for a digest freezes as the keeper (within one
    * batch the smallest doc_id, matching the batch operator's
    * keep-first rule; across batches first-arrival wins, the standard
    * streaming keep-first contract — a later smaller-id capture
    * cannot retro-resolve already-emitted rows), every revisit
    * resolves against it ON ARRIVAL, and a revisit arriving BEFORE
    * its original buffers in state up to `pendingMax` (the smallest
    * doc_ids stay — deterministic; overflow is counted in state and
    * dropped, the bounded-bucket discipline every streaming op here
    * follows, so one hot digest cannot grow state without bound). */
  def revisitGroup(digest: String, rows: Iterator[RevisitEvent],
                   state: GroupState[OrigState], pendingMax: Int,
                   ttlMs: Long): Iterator[ResolvedRevisit] =
    ttlStep(state, ttlMs) { prior =>
      val batch = rows.toSeq
      val keeper = prior.filter(_.origDocId >= 0)
        .map(s => (s.origDocId, s.body))
        .orElse(batch.filter(_.isOriginal).sortBy(_.docId).headOption
          .map(e => (e.docId, e.body)))
      val arriving = batch.filterNot(_.isOriginal).map(e => (e.docId, e.uri))
      val pendingPrior = prior.map(_.pending).getOrElse(Nil)
      val dropPrior = prior.map(_.dropped).getOrElse(0L)
      keeper match {
        case Some((oid, obody)) =>
          val emit = (pendingPrior ++ arriving).sortBy(_._1)
          (Some(OrigState(oid, obody, Nil, dropPrior)),
            emit.iterator.map { case (id, uri) => ResolvedRevisit(digest, id, uri, oid, obody) })
        case None =>
          val merged = (pendingPrior ++ arriving).sortBy(_._1)
          val kept = merged.take(pendingMax)
          (Some(OrigState(-1L, "", kept, dropPrior + (merged.size - kept.size))), Iterator.empty)
      }
    }

  /** Streaming revisit resolution over (digest, original/revisit)
    * events — the serving twin of the batch digest join: state size
    * is one keeper body + a bounded pending list per LIVE digest
    * (TTL-bounded), partitioned by digest hash across executors. On a
    * bounded frame (one batch) the output matches
    * `Multimodal.resolveRevisits` row-for-row: every revisit of a
    * captured digest resolves against the smallest-doc_id original,
    * dangling revisits stay in state and emit nothing. */
  def streamingResolveRevisits(events: Dataset[RevisitEvent], pendingMax: Int = 100000,
                               ttlMs: Long = 0L): Dataset[ResolvedRevisit] = {
    require(pendingMax > 0, s"streamingResolveRevisits: pendingMax must be > 0")
    keyedState(events, ttlMs)(_.digest)(revisitGroup(_, _, _, pendingMax, ttlMs))
  }
}

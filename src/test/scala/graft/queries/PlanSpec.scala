package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions — the 100 TB contract.
  *
  * Correctness is the oracle gate's job; this suite pins the properties
  * that decide whether the same query survives a 1000-executor cluster:
  * filters and projections reaching the parquet scan, small dimensions
  * broadcast instead of shuffled, aggregates map-side partial before the
  * exchange, and the custom kernels staying inside whole-stage codegen.
  * A regression here can keep results identical while silently turning
  * a scan-light broadcast plan into a full-shuffle monster.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** full formatted explain (FileScan metadata untruncated). */
  private def formatted(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** plan after execution — AQE final plan, codegen stage markers set. */
  private def executedPlanOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q6: filter and projection are pushed into the parquet scan") {
    val p = formatted("q6_filter_pushdown")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"l_shipdate filter not pushed:\n$p")
    assert(p.contains("GreaterThan(l_discount,0.05)"), s"l_discount filter not pushed:\n$p")
    // column pruning: the 16-column lineitem scan must read only the 5
    // referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("q2 star join: dimension tables broadcast, no shuffle on the dims") {
    val p = plan("q2_join_star")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    // nation and region must never hash-shuffle (only the fact side may)
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!shuffles.contains("n_nationkey") && !shuffles.contains("r_regionkey"),
      s"dimension shuffled:\n$shuffles")
  }

  test("q1 agg: map-side partial aggregation before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    // partial + final pair ⇒ combine happens before the shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("kernels run inside whole-stage codegen") {
    val p = executedPlanOf("dd_simhash")
    assert(p.contains("graft_simhash32"), s"kernel missing from plan:\n$p")
    // "*(n)" marks a whole-stage-codegen stage; the kernel projection
    // must carry one (i.e., the expression did not fall back to
    // interpreted eval and did not break the codegen span)
    val kernelLines = p.linesIterator.filter(_.contains("graft_simhash32")).toList
    assert(kernelLines.exists(_.contains("*(")),
      s"kernel projection outside codegen:\n${kernelLines.mkString("\n")}")
    // the simhash blocked self-join must broadcast one side, not shuffle
    assert(p.contains("BroadcastHashJoin"), s"blocked join not broadcast at this SF:\n$p")
  }

  test("exact dedup is a single hash-shuffle aggregation") {
    val p = plan("dd_exact")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle:\n$p")
  }

  test("range join runs as a hash join on the manufactured bucket key, not a nested loop") {
    val p = executedPlanOf("q18_range_join")
    assert(p.contains("HashJoin"), s"range join not a hash join:\n$p")
    assert(!p.contains("CartesianProduct"), s"range join degenerated to a cartesian:\n$p")
    // the ONLY nested-loop allowed is the giant-interval side-channel,
    // whose build side is the broadcast (rare-by-contract) giants — the
    // data×data path must stay on the bucket hash join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"data path degenerated to a nested loop:\n$p")
    // and that side-channel must BUILD the giants (joined on the right):
    // a refactor that loses the broadcast() hint would either flip the
    // build side onto the data or fall back to a cartesian — both are a
    // full-corpus replication at 100 TB, not a rare-giant escape hatch
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("BuildRight"), s"giant side-channel not building the broadcast side:\n$l")
    }
  }

  test("asof join is one shuffle plus an in-partition sort") {
    val p = executedPlanOf("q17_asof_join")
    assert(p.contains("Window"), s"no carry-forward window:\n$p")
    // AQE prints final + initial plans — count only the final section:
    // one exchange on user_id for the carry-forward window (the
    // operator itself) + one on (user_id, ts) for the query's
    // right-side dedup agg
    val finalPlan = p.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(shuffles == 2, s"expected 2 shuffles in final plan, got $shuffles:\n$p")
    // the window exchange partitions on the join key alone — scale contract
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains(", ts")),
      s"window exchange not keyed on user_id alone:\n$p")
  }

  test("ta_top_terms: per-doc top-3 is rank-limited before the full sort output") {
    val p = executedPlanOf("ta_top_terms")
    // WindowGroupLimit prunes each partition to the top-k BEFORE the
    // window itself — without it every (doc, term) row survives to the
    // final sort
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed into window:\n$p")
  }

  test("q19: session window aggregates with one exchange on the session key") {
    val p = executedPlanOf("q19_session_window")
    assert(p.contains("SessionWindow") || p.contains("session_window"),
      s"no session window node:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(shuffles <= 1, s"expected at most 1 shuffle, got $shuffles:\n$p")
  }

  test("ann_ivf: centroid assignment is one matrix-loop kernel call inside codegen") {
    val p = executedPlanOf("ann_ivf")
    // a single graft_ivf_assign per corpus row (not nList inline dot
    // expressions) — the shape that survives production nList
    assert(p.contains("graft_ivf_assign"), s"assignment kernel missing:\n$p")
    val lines = p.linesIterator.filter(_.contains("graft_ivf_assign")).toList
    assert(lines.exists(_.contains("*(")),
      s"assignment kernel outside whole-stage codegen:\n${lines.mkString("\n")}")
    assert(p.contains("graft_ivf_scores"), s"probe-scores kernel missing:\n$p")
  }

  test("every ANN top-k selection is the k-bounded aggregate, never a per-probe window") {
    // row_number() OVER (PARTITION BY qid) sorts each probe's FULL
    // candidate list (whole corpus for the exact paths) in ONE task —
    // the hot-key straggler TopKPairs exists to kill. The aggregate
    // combines map-side: ≤ k candidates per probe per partition reach
    // the exchange. Probe-list selection (IVF) is row-local array_sort,
    // so the whole ANN family carries zero Window operators.
    for (name <- Seq("ann_topk_bruteforce", "ann_int8_topk", "ann_pq_topk",
        "ann_ivfpq_topk", "ann_ivf", "ann_ivf_join",
        "ann_lsh_bucketed", "ann_lsh_capped", "ann_lsh_join",
        "ann_binary_rerank",
        // the recall audits compose two pinned top-k inputs through a
        // semi-join + two aggregates — still zero Window end to end
        "ann_recall", "ann_lsh_recall")) {
      val p = executedPlanOf(name)
      assert(p.contains("partial_graft_topk"), s"$name: no map-side partial top-k:\n$p")
      assert(!p.contains("Window"), s"$name: per-probe window selection remains:\n$p")
    }
  }

  test("dd_components: group sizes come from an aggregate + join, not a per-component window") {
    // a window partitioned on comp funnels a mega-component into one
    // reducer at scale; groupBy+join keeps the size side
    // component-cardinality-sized and broadcastable
    val p = executedPlanOf("dd_components")
    assert(!p.contains("Window"), s"unbounded per-component window remains:\n$p")
  }

  test("dd_embedding_cosine: LSH-blocked, never an all-pairs join") {
    val p = executedPlanOf("dd_embedding_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"embedding dedup degenerated to all-pairs:\n$p")
  }

  test("q25: grouping sets are one Expand + one shuffle with partial aggregation") {
    val p = executedPlanOf("q25_grouping_sets")
    assert(p.contains("Expand"), s"no grouping-id expand:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$p")
    assert("HashAggregate".r.findAllIn(finalPlan).size >= 2, s"no partial agg:\n$p")
  }

  test("q26: EXISTS/NOT EXISTS rewrite to semi and anti joins, not subquery loops") {
    val p = executedPlanOf("q26_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS not rewritten to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not rewritten to an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"correlation degenerated:\n$p")
  }

  test("ta_bigrams: per-word top-1 is rank-limited before the window") {
    val p = executedPlanOf("ta_bigrams")
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed into window:\n$p")
  }

  test("q28: salted aggregation is two exchanges — (key,salt) partial, then key final") {
    val p = executedPlanOf("q28_salted_hot_agg")
    val finalPlan = p.split("== Initial Plan ==").head
    val shuffles = finalPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(shuffles.size == 2, s"expected 2 shuffles, got ${shuffles.size}:\n$p")
    // the first exchange must carry the salt — that's what spreads the
    // hot key; the second is group-cardinality-sized
    assert(shuffles.exists(_.contains("__graft_salt")),
      s"partial exchange not salted:\n${shuffles.mkString("\n")}")
  }

  test("brute-force ANN broadcasts the query side, not the corpus") {
    val p = plan("ann_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian product:\n$p")
  }

  test("ta_chunk: chunking is a map-only Generate — zero exchanges") {
    val p = plan("ta_chunk")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected explode of chunk starts:\n$p")
  }

  test("mm_audio_features: decode + window is map-only — zero exchanges") {
    val p = plan("mm_audio_features")
    assert(!p.contains("Exchange"), s"windowed audio decode must not shuffle:\n$p")
  }

  test("mm_image_tiles: decode + tile is map-only — zero exchanges") {
    val p = plan("mm_image_tiles")
    assert(!p.contains("Exchange"), s"tiled image decode must not shuffle:\n$p")
  }

  test("ta_html_extract: WET extraction is a map-only codegen chain — zero exchanges") {
    val p = plan("ta_html_extract")
    assert(!p.contains("Exchange"), s"html extraction must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("MapPartitions"),
      s"html extraction must stay in codegen expressions:\n$p")
  }

  test("ta_html_links: href explode is a map-only Generate — zero exchanges") {
    val p = plan("ta_html_links")
    assert(!p.contains("Exchange"), s"link extraction must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected posexplode of hrefs:\n$p")
  }

  test("ta_html_anchors: anchor-text explode is a map-only Generate — zero exchanges") {
    val p = plan("ta_html_anchors")
    assert(!p.contains("Exchange"), s"anchor extraction must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected posexplode of anchors:\n$p")
  }

  test("ta_sitemap: sitemap parse is a map-only Generate — zero exchanges, no UDF") {
    val p = plan("ta_sitemap")
    assert(!p.contains("Exchange"), s"sitemap extraction must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected posexplode of entries:\n$p")
    assert(!p.contains("MapPartitions"), s"must stay in expressions:\n$p")
  }

  test("ta_html_main: block scoring is map-only higher-order exprs — zero exchanges") {
    val p = plan("ta_html_main")
    assert(!p.contains("Exchange"), s"main-content extraction must not shuffle:\n$p")
    assert(!p.contains("MapPartitions"), s"must stay in expressions:\n$p")
  }

  test("ta_url_canon: canonicalization is map-only — zero exchanges") {
    val p = plan("ta_url_canon")
    assert(!p.contains("Exchange"), s"url canonicalization must not shuffle:\n$p")
  }

  test("dd_url_dedup: exactly one partial-agg'd shuffle on the canonical key") {
    val p = plan("dd_url_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"url dedup must shuffle exactly once:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate around the shuffle:\n$p")
  }

  test("ta_robots_allowed: robots dim broadcasts, kernel decision shuffles nothing") {
    val p = plan("ta_robots_allowed")
    assert(p.contains("BroadcastHashJoin"), s"robots dim must broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"robots compliance must not shuffle the URL side:\n$p")
    assert(p.contains("graft_robots_allowed"), s"kernel fell out of the plan:\n$p")
  }

  test("ta_warc_records: record walk is map-only — zero exchanges") {
    val p = plan("ta_warc_records")
    assert(!p.contains("Exchange"), s"warc record walk must not shuffle:\n$p")
  }

  test("ta_warc_extract: parse + slice + strip + canonicalize fuse map-only — zero exchanges") {
    val p = plan("ta_warc_extract")
    assert(!p.contains("Exchange"), s"warc extraction chain must not shuffle:\n$p")
    assert(!p.contains("Join"), s"warc extraction chain must not join:\n$p")
  }

  test("ta_warc_http: chunked/gzip payload decode fuses map-only — zero exchanges, no join") {
    val p = plan("ta_warc_http")
    assert(!p.contains("Exchange"), s"http payload decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"http payload decode must not join:\n$p")
  }

  test("ta_warc_charset: charset-routed decode fuses map-only — zero exchanges, no join") {
    val p = plan("ta_warc_charset")
    assert(!p.contains("Exchange"), s"charset decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"charset decode must not join:\n$p")
  }

  test("ta_warc_cdx: index build is map-only — zero exchanges, kernel in-plan") {
    val p = plan("ta_warc_cdx")
    assert(!p.contains("Exchange"), s"cdx index build must not shuffle:\n$p")
    assert(!p.contains("Join"), s"cdx index build must not join:\n$p")
    assert(p.contains("graft_surt_key"), s"surt kernel fell out of the plan:\n$p")
  }

  test("ta_warc_facets: the single-pass facet walk is map-only — zero exchanges, one scan") {
    val p = plan("ta_warc_facets")
    assert(!p.contains("Exchange"), s"facet walk must not shuffle:\n$p")
    assert(!p.contains("Join"), s"facet walk must not join:\n$p")
    // ONE parse of the archive bytes: exactly one MapPartitions node
    // (the walk) feeds every facet column
    assert("MapPartitions".r.findAllIn(p).size <= 2, // synth + walk
      s"facets must come from one walk, not per-facet re-parses:\n$p")
  }

  test("ta_warc_redirect: pointer-jumping result reads a snapshot leaf — no window, no cartesian") {
    val p = plan("ta_warc_redirect")
    assert(!p.contains("Window"), s"redirect resolution must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"redirect resolution must not cartesian:\n$p")
    // the rounds ran eagerly through plan-truncating snapshots: the
    // returned plan is the terminal-flag self-join over the LAST
    // snapshot's leaf, never the compounded round lineage
    assert(p.contains("ExistingRDD"), s"result must read a snapshot leaf:\n$p")
  }

  test("ta_redirect_incremental: delta resolution reads snapshot leaves — no window, no cartesian") {
    val p = plan("ta_redirect_incremental")
    assert(!p.contains("Window"), s"incremental resolution must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"incremental resolution must not cartesian:\n$p")
    // the jump rounds ran eagerly through plan-truncating snapshots
    assert(p.contains("ExistingRDD"), s"result must read a snapshot leaf:\n$p")
  }

  test("ta_warc_revisit: one keeper agg + one digest-keyed join — no window, no cartesian") {
    val p = plan("ta_warc_revisit")
    assert(!p.contains("Window"), s"revisit resolution must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"revisit resolution must not cartesian:\n$p")
    // keeper selection is a partial+final agg pair (bounded state)
    assert("HashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final keeper aggregate:\n$p")
    // exactly ONE equi-join, keyed on the digest
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).toList
    assert(joins.size == 1, s"expected exactly one digest-keyed join (${joins.size}):\n$p")
    assert(p.contains("payload_digest"), s"join key must be the digest:\n$p")
  }

  test("ta_link_rank: no window, scalars broadcast, result is a truncated snapshot leaf") {
    val p = plan("ta_link_rank")
    assert(!p.contains("Window"), s"pagerank must not window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the per-iteration scalars must broadcast, not cartesian:\n$p")
    // hostRank snapshots every iteration (plan-truncating
    // eager checkpoint), so the returned plan is a trivial select over
    // the LAST snapshot's leaf — O(1) driver plan work per iteration,
    // never a compounding nested-cache lineage
    assert(p.contains("ExistingRDD"), s"result must be a snapshot leaf:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no join may survive into the returned (truncated) plan:\n$p")
  }

  test("ta_link_rank_apply: rank dim broadcasts onto pages — page side never shuffles") {
    val p = plan("ta_link_rank_apply")
    val join = p.indexOf("BroadcastHashJoin")
    val bcast = p.indexOf("BroadcastExchange", join)
    assert(join >= 0 && bcast > join, s"rank dim must broadcast:\n$p")
    // the streamed (page) side prints between the join node and its
    // BroadcastExchange child: it must be the bare documents scan —
    // no exchange, no window
    val pageSide = p.substring(join, bcast)
    assert(pageSide.contains("documents.parquet"), s"page scan missing:\n$pageSide")
    assert(!pageSide.contains("Exchange"), s"pages must stream straight into the join:\n$pageSide")
    assert(!pageSide.contains("Window"), s"no window on the page side:\n$pageSide")
  }

  test("dd_url_dedup_redirect: resolution dim broadcasts — pages shuffle only for the dedup") {
    val p = plan("dd_url_dedup_redirect")
    val join = p.indexOf("BroadcastHashJoin")
    val bcast = p.indexOf("BroadcastExchange", join)
    assert(join >= 0 && bcast > join, s"resolution map must broadcast:\n$p")
    // the streamed side between the join node and its broadcast child
    // is the page scan — it must reach the join without an exchange
    val pageSide = p.substring(join, bcast)
    assert(pageSide.contains("documents.parquet"), s"page scan missing:\n$pageSide")
    assert(!pageSide.contains("Exchange"), s"pages must stream straight into the join:\n$pageSide")
    // the ONLY corpus-keyed shuffle is the dedup groupBy on the FINAL
    // key; the raw page key never hash-partitions
    assert(!p.contains("Exchange hashpartitioning(url_canon"),
      s"page side must not shuffle on the pre-apply key:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), s"plan shape:\n$p")
  }

  test("mm_exif_meta: EXIF walk is map-only — zero exchanges") {
    val p = plan("mm_exif_meta")
    assert(!p.contains("Exchange"), s"exif parsing must not shuffle:\n$p")
  }

  test("mm_image_phash: fingerprint decode is map-only — zero exchanges") {
    val p = plan("mm_image_phash")
    assert(!p.contains("Exchange"), s"image fingerprinting must not shuffle:\n$p")
  }

  test("mm_audio_phash: fingerprint decode is map-only — zero exchanges") {
    val p = plan("mm_audio_phash")
    assert(!p.contains("Exchange"), s"audio fingerprinting must not shuffle:\n$p")
  }

  test("mm_frame_select: bucket pick is a partial-combined aggregate, never a window") {
    val p = plan("mm_frame_select")
    assert(!p.contains("Window"), s"frame selection must not window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"expected an aggregate pick:\n$p")
  }

  test("mm_frame_select_key: keyframe pick is filter + aggregate, never a window") {
    val p = plan("mm_frame_select_key")
    assert(!p.contains("Window"), s"keyframe selection must not window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"expected an aggregate pick:\n$p")
    assert(p.contains("is_sync"), s"sync filter fell out of the plan:\n$p")
  }

  test("dd_image_neardup: fingerprint pairing is the blocked hash join, never a nested loop") {
    val p = plan("dd_image_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"image near-dup must stay block-joined:\n$p")
  }

  test("ta_pack: prefix sum is bucket-partitioned, never a single-partition window") {
    val p = plan("ta_pack")
    assert(!p.contains("SinglePartition"), s"global single-reducer window:\n$p")
    assert(p.contains("Window"), s"expected the per-bucket cumsum window:\n$p")
  }

  test("ta_tokens_bpe: subword counting is map-only inside whole-stage codegen") {
    val p = plan("ta_tokens_bpe")
    assert(!p.contains("Exchange"), s"per-row token count must not shuffle:\n$p")
    assert(p.contains("graft_bpe_count"), s"expected the BPE kernel expression:\n$p")
    // "*(n)" prefixes mark whole-stage-codegen stages in toString plans
    assert(p.contains("*(1) Project"), s"BPE kernel fell out of codegen:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"token counting must be an expression, not a UDF:\n$p")
  }

  test("dd_keep_latest: compaction is partial-aggregated, not a window sort") {
    val p = plan("dd_keep_latest")
    assert(!p.contains("Window"), s"expected no window operator:\n$p")
    assert(p.contains("partial_max"), s"expected map-side partial max:\n$p")
  }

  test("ta_decontaminate: eval gram set broadcasts; corpus is never shuffled") {
    val p = executedPlanOf("ta_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval grams should broadcast-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the gram join:\n$p")
  }

  test("ta_tfidf_cosine: posting-list pairing, never an all-pairs join") {
    val p = plan("ta_tfidf_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tfidf pairing must stay on the inverted index:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("ta_mixture: two-phase cumsum — the data window partitions on (source, bucket)") {
    val p = plan("ta_mixture")
    assert(!p.contains("SinglePartition"), s"global window found:\n$p")
    // the data-sized cumsum window (the one ordered by the hash key
    // __ord) must carry the range bucket __b in its partition spec —
    // partitioning on source alone serializes each source's corpus
    // through one reducer at 100 TB
    val dataWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("__ord")).toList
    assert(dataWindows.nonEmpty, s"expected the per-(source,bucket) running sum:\n$p")
    assert(dataWindows.forall(_.contains("__b")),
      s"data cumsum window not bucket-partitioned:\n${dataWindows.mkString("\n")}")
    // the bucket-offset side joins back as a broadcast, never a shuffle
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets not broadcast:\n$p")
  }

  test("ta_fuzzy_match: probes broadcast over the lang block, corpus never shuffles") {
    val p = plan("ta_fuzzy_match")
    assert(p.contains("BroadcastHashJoin"), s"probes not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side shuffled for the probe join:\n$p")
  }

  test("ta_decontaminate_bloom: sketch probe is map-side, confirm join broadcasts") {
    val p = plan("ta_decontaminate_bloom")
    assert(p.contains("graft_bloom_might_contain"), s"bloom probe missing:\n$p")
    // the gram-confirm join must broadcast the eval grams (the final
    // row-preserving left join is AQE's choice — hit-set size is
    // data-dependent); probe must sit BEFORE the broadcast join, i.e.
    // appear below it in the plan tree printout
    assert(p.contains("BroadcastHashJoin"), s"confirm join not broadcast:\n$p")
    val probeLine = p.linesIterator.indexWhere(_.contains("graft_bloom_might_contain"))
    val bhjLine = p.linesIterator.indexWhere(_.contains("BroadcastHashJoin"))
    assert(bhjLine < probeLine,
      s"bloom probe not under the confirm join (probe@$probeLine, join@$bhjLine):\n$p")
  }

  test("ta_interleave: schedule keys come off the bucketed cumsum, no global window") {
    val p = plan("ta_interleave")
    assert(!p.contains("SinglePartition"), s"global window found:\n$p")
    val dataWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("__ord")).toList
    assert(dataWindows.nonEmpty && dataWindows.forall(_.contains("__b")),
      s"data cumsum window not bucket-partitioned:\n${dataWindows.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets not broadcast:\n$p")
  }

  test("q36: interval overlap runs as a hash join on the bucket, not a nested loop") {
    val p = plan("q36_interval_overlap")
    assert(!p.contains("CartesianProduct"), s"overlap join degenerated to a cartesian:\n$p")
    assert(p.contains("HashJoin"), s"expected the bucket-keyed hash join:\n$p")
    // the testdata intervals (30/15 min vs 1800 s buckets) have NO
    // giants, so the plan-time emptiness probe must have PRUNED both
    // giant side-channels entirely — zero nested-loop joins. This was
    // the round-10 in-suite outlier: two broadcast exchanges over
    // provably-empty frames cost ~3 s of driver-side build/cleanup
    // inside a full Bench JVM. The giant-PRESENT shape (≤2 BNLJ, each
    // building the broadcast giants) is pinned in TemporalSpec's
    // giant-interval guard test.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 0, s"empty giant side-channels not pruned at plan time:\n$p")
  }

  test("dd_minhash_lsh: pair generation is a join-free posting-list explode with the occupancy guard") {
    // the old shape self-joined the banded frame on band — correct, but a
    // mass-duplicated cluster of m docs shares every band and emits m²/2
    // pairs into one reducer. The inverted-index shape pins: no join at
    // all until pairs exist, and exactly two exchanges (band groupBy +
    // pair distinct)
    for (name <- Seq("dd_minhash_lsh", "dd_minhash_lsh_capped")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name: band pairing must not be a self-join:\n$p")
      assert(p.contains("Generate"), s"$name: expected posting-list explode:\n$p")
      // the occupancy guard is a size() conditional on the posting list —
      // its absence means oversized buckets went back to all-pairs
      assert(p.contains("size(docs"), s"$name: band-occupancy guard missing:\n$p")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(shuffles == 2, s"$name: expected 2 shuffles, got $shuffles:\n$p")
    }
  }

  test("ann_lsh: the bucket-occupancy guard anti-joins out oversized buckets, broadcast") {
    // the shipped entry points run a finite maxBucket by default: the
    // over-cap key set (tiny by definition) must broadcast into a
    // LeftAnti join — never a window count that funnels the degenerate
    // bucket through one task's sort
    for (name <- Seq("ann_lsh_bucketed", "ann_lsh_join", "ann_lsh_capped")) {
      val p = plan(name)
      assert(p.contains("LeftAnti"), s"$name: occupancy guard missing:\n$p")
      assert(!p.contains("Window count"), s"$name: occupancy via window sort:\n$p")
      val antiLines = p.linesIterator.filter(_.contains("LeftAnti")).toList
      assert(antiLines.exists(l => l.contains("Broadcast")),
        s"$name: over-cap key set not broadcast:\n${antiLines.mkString("\n")}")
    }
  }

  test("dd_simhash_collapsed: no all-pairs join, no per-fingerprint window") {
    val p = plan("dd_simhash_collapsed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"collapsed simhash degenerated to all-pairs:\n$p")
    // star edges come from the fingerprint groupBy's posting list, never
    // a window over the (hot) fingerprint key
    assert(!p.contains("Window"), s"per-fingerprint window found:\n$p")
    assert(p.contains("Generate"), s"expected the star-edge explode:\n$p")
  }

  test("ann_int8_topk: quantized scoring broadcasts the probe side, no cartesian") {
    val p = plan("ann_int8_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in quantized scoring:\n$p")
  }

  test("dd_incremental: incoming bands hash-join the corpus posting lists, never all-pairs") {
    val p = plan("dd_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup degenerated to all-pairs:\n$p")
    // corpus side is ONE groupBy into posting lists; pairs come from a
    // codegen Generate over the (capped) list, not a second self-join
    assert(p.contains("Generate"), s"expected the posting-list explode:\n$p")
    assert(!p.contains("Window"), s"no window should touch the band key:\n$p")
  }

  test("dd_common_spans: shingle-keyed pair join, no all-pairs, island window on the pair key") {
    val p = plan("dd_common_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span pairing degenerated to all-pairs:\n$p")
    // the only window is the island row_number partitioned by
    // (da, db, delta) — never by a bare corpus-wide key
    assert(p.contains("windowspecdefinition(da"),
      s"island window not keyed on the doc pair:\n$p")
  }

  test("ta_source_cap: k-bounded partial top-k aggregate, never a window rank") {
    val p = plan("ta_source_cap")
    assert(p.contains("partial_graft_topk"), s"no map-side partial top-k:\n$p")
    assert(!p.contains("Window"), s"per-source cap fell back to a window rank:\n$p")
  }

  test("ann_pq_topk: corpus carries codes, probes broadcast, reconstruction in codegen") {
    val p = plan("ann_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in ADC scoring:\n$p")
  }

  test("ta_doc_rules_apply: pure narrow filter — no exchange anywhere") {
    val p = plan("ta_doc_rules_apply")
    assert(!p.contains("Exchange"), s"rule filter shuffled:\n$p")
  }

  test("dd_semdedup pairs: a hash join keyed on the IVF list, guard anti-joins broadcast") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Dedup.semanticPairs(emb, "vec_id", "embedding",
      eps = 0.4, nList = 16).queryExecution.executedPlan.toString
    // within-cluster pairing must stay keyed on the list id — never the
    // O(n²) pair space
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic pairing degenerated to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"expected an equi-join on the list id:\n$p")
    // the oversized-list guard is a broadcast anti join, not a window
    // count over the (possibly hot) list key
    assert(p.contains("LeftAnti"), s"occupancy guard missing:\n$p")
    assert(!p.contains("Window"), s"occupancy guard fell back to a window:\n$p")
  }

  test("ta_lm_score: count shuffles + equi-joins; the hot ppm math stays in int64 codegen") {
    val p = executedPlanOf("ta_lm_score")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"LM scoring fell off the agg+join shape:\n$p")
    // partial aggregation before every exchange (the count shuffles)
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"bigram counts not map-side combined:\n$p")
    // the decimal fallback branch must not surface as the static result
    // type: the column stays bigint end to end
    val schema = graft.SparkEntry.queries("ta_lm_score")(spark, dir).schema
    assert(schema("lm_ppm").dataType == org.apache.spark.sql.types.LongType)
  }

  test("ann_recall: the audit itself is probe-sized — semi join + aggregates, no window") {
    // the expensive parts are the two top-k INPUTS (pinned elsewhere);
    // the recall overlay must not add a window or a cartesian of its own
    val p = plan("ann_recall")
    assert(p.contains("LeftSemi"), s"hit counting should be a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), s"recall overlay went all-pairs:\n$p")
  }

  test("fb_shed_cap: per-partition admission — no GlobalLimit collapse, parallelism kept") {
    // the pre-r11 shape planned limit() as LocalLimit + single-partition
    // GlobalLimit, serializing the node; the admission must now be a
    // narrow per-task pass with no limit operator at all
    val p = plan("fb_shed_cap")
    assert(!p.contains("GlobalLimit"),
      s"shed admission collapsed to a single partition:\n$p")
    assert(!p.contains("Exchange SinglePartition") || p.contains("count(1)"),
      s"shed forced a single-partition exchange:\n$p") // final count agg only
  }

  test("ta_quality_clf_stateful: frozen-model scoring stays map-only into the state op") {
    // everything below the flatMapGroupsWithState key exchange must be
    // the zero-shuffle serving projection: exactly ONE exchange (the
    // group-by-key), no join back to documents for the routing key
    val p = plan("ta_quality_clf_stateful")
    assert(!p.contains("Join"), s"serving path joined instead of projecting:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected only the groupByKey exchange, got $exchanges:\n$p")
  }
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** LinkRank (integer-fixed-point host PageRank): hand-computed tiny
  * graphs pin the exact arithmetic — two-node cycle (ranks stay at
  * Scale/2), a dangling node (mass redistributes uniformly), the
  * supernode cap (deterministic bytewise-smallest survivors), and
  * rank-mass conservation on a random graph.
  */
class LinkRankSpec extends SparkSpec {
  import LinkRank.{PpmDen, Scale}

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap

  private def edges(es: (String, String)*) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("two-node cycle is the fixed point: each host stays at Scale div 2") {
    for (iters <- Seq(0, 1, 3)) {
      val r = rankMap(LinkRank.hostRank(edges("a" -> "b", "b" -> "a"), iters))
      assert(r == Map("a" -> Scale / 2, "b" -> Scale / 2), s"iters=$iters")
    }
  }

  test("dangling node: exact one-iteration arithmetic with uniform redistribution") {
    // a -> b, b dangling. N=2, r0 = Scale/2 each.
    // iter: share(a)=r0, in(b)=r0; dangle=r0(b), ds=dangle div 2
    // tele = (Scale - Scale*d div 1e6) div 2
    // r1(a) = tele + d*ds div 1e6 ; r1(b) = tele + d*(r0+ds) div 1e6
    val d = 850000L
    val r0 = Scale / 2
    val tele = (Scale - Scale * d / PpmDen) / 2
    val ds = r0 / 2
    val want = Map(
      "a" -> (tele + d * ds / PpmDen),
      "b" -> (tele + d * (r0 + ds) / PpmDen))
    assert(rankMap(LinkRank.hostRank(edges("a" -> "b"), 1)) == want)
  }

  test("supernode cap keeps the bytewise-smallest dsts and drops the rest") {
    val e = edges("hub" -> "z", "hub" -> "c", "hub" -> "a", "hub" -> "b",
      "hub" -> "c", "z" -> "hub")
    val out = LinkRank.hostRank(e, 0, maxOutDegree = 2)
    val degs = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(degs == Map("hub" -> 2L, "z" -> 1L, "a" -> 0L, "b" -> 0L))
    // "c" and "z" fell off hub's capped list; z remains as a src node
    assert(!degs.contains("c"))
  }

  test("rank mass is conserved within integer-truncation slack") {
    val rnd = new scala.util.Random(7L)
    val es = (0 until 60).map(_ => s"h${rnd.nextInt(12)}" -> s"h${rnd.nextInt(12)}")
    val out = LinkRank.hostRank(edges(es: _*), 5)
    val ranks = out.collect().map(_.getLong(2))
    val total = ranks.sum
    val n = ranks.length
    // each div truncates at most 1 per node per term per iteration
    assert(total <= Scale && total >= Scale - 20L * n, s"total=$total n=$n")
    assert(ranks.forall(_ > 0))
  }

  test("uncapped run equals a large-cap run") {
    val es = (0 until 30).map(i => s"h${i % 5}" -> s"h${(i * 3) % 7}")
    val a = rankMap(LinkRank.hostRank(edges(es: _*), 3))
    val b = rankMap(LinkRank.hostRank(edges(es: _*), 3, maxOutDegree = 100))
    assert(a == b)
  }

  test("duplicate edge spellings cannot evict distinct neighbors from the capped heap") {
    // 'a' spelled 5 times must still count once; with cap 2 the
    // smallest TWO DISTINCT dsts survive
    val e = edges(Seq.fill(5)("hub" -> "a") ++ Seq("hub" -> "b", "hub" -> "c"): _*)
    val out = LinkRank.hostRank(e, 0, maxOutDegree = 2)
    val degs = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(degs == Map("hub" -> 2L, "a" -> 0L, "b" -> 0L))
  }

  test("materialized zero-iteration runs release their support caches") {
    // the iterations==0 path never enters the snapshot loop, so the
    // result frame must snapshot BEFORE the support frames unpersist —
    // repeated zero-iteration calls must not grow session storage.
    // A local-checkpoint block itself registers one persistent RDD
    // (reclaimed by the ContextCleaner), so the bound per call is 1 —
    // the leak this pins was +3 cached SUPPORT frames per call.
    def run(): Long =
      LinkRank.hostRank(edges("a" -> "b", "b" -> "c"), 0, maxOutDegree = 4).count()
    assert(run() == 3) // warm
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(run() == 3)
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    assert(grown <= 1, s"support frames must unpersist on the zero-iteration path (+$grown)")
  }
}

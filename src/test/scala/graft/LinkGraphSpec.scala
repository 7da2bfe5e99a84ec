package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LinkGraph
import graft.textkit.TextKit

/** Link-graph analytics: degrees and fixed-point PageRank, checked against
  * an INDEPENDENT in-test reference of the documented recurrence (plain
  * Scala Maps — no Spark), plus the determinism-across-parallelism
  * contract that makes the operator oracle-safe. */
class LinkGraphSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def edgesDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }
  private def nodesDf(ids: Long*) = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** The pageRank recurrence verbatim (LinkGraph.pageRank Scaladoc),
    * evaluated sequentially on Maps; `edges` = (src, dst, weight). */
  private def refPageRankW(nodes: Seq[Long], edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val n = nodes.size.toLong
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val in = edges.groupBy(_._2)
    var rank = nodes.map(_ -> LinkGraph.Scale).toMap
    for (_ <- 1 to iters) {
      val dangle = nodes.filterNot(outW.contains).map(rank).sum
      val dTerm = LinkGraph.DampNum * (dangle / n) / LinkGraph.DampDen
      val teleport = (LinkGraph.DampDen - LinkGraph.DampNum) * LinkGraph.Scale / LinkGraph.DampDen
      rank = nodes.map { v =>
        val csum = in.getOrElse(v, Seq.empty).map { case (s, _, w) => rank(s) * w / outW(s) }.sum
        v -> (teleport + LinkGraph.DampNum * csum / LinkGraph.DampDen + dTerm)
      }.toMap
    }
    rank
  }
  private def refPageRank(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    refPageRankW(nodes, edges.map { case (s, d) => (s, d, 1L) }, iters)

  test("degrees: explicit zeros for sources, sinks and isolated nodes") {
    val got = LinkGraph.degrees(nodesDf(1L, 2L, 3L, 4L), edgesDf((1L, 2L), (1L, 3L), (2L, 3L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L), (4L, 0L, 0L)))
  }

  test("pageRank matches the independent fixed-point reference (incl. dangling + isolated)") {
    // 3-cycle with an extra edge, node 4 dangling (in-edge, no out-edge),
    // node 5 isolated — exercises every term of the recurrence
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L))
    def got(iters: Int) = LinkGraph.pageRank(nodesDf(nodes: _*), edgesDf(edges: _*), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iters = 0: the initial ranks, materialized once despite the dangling mass
    assert(got(0) == refPageRank(nodes, edges, 0))
    val ranks = got(4)
    assert(ranks == refPageRank(nodes, edges, 4))
    // sanity on the shape: the 2-in-edge node outranks the isolated one
    assert(ranks(3L) > ranks(5L))
  }

  test("pageRank conserves mass up to documented truncation loss") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L))
    val got = LinkGraph.pageRank(nodesDf(nodes: _*), edgesDf(edges: _*), iters = 4)
      .collect().map(_.getLong(1)).sum
    val full = nodes.size * LinkGraph.Scale
    assert(got <= full, s"mass grew: $got > $full")
    assert(got > full - 1000, s"mass lost beyond truncation bound: $got vs $full")
  }

  test("syntheticEdges: deterministic splitmix derivation, no self-loops, in-range") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val edges = LinkGraph.syntheticEdges(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && edges.length == edges.toSet.size, "edges must be distinct")
    assert(edges.forall { case (s, d) => s != d }, "no self-loops")
    assert(edges.forall { case (_, d) => d >= 0 && d < n }, "dst in [0, n)")
    // spot-check the hash derivation against TextKit directly
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val expected = (for { i <- ids; k <- 1 to 4 } yield
      (i, (TextKit.mix64(i * 4 + k) >>> 1) % n)).filter { case (s, d) => s != d }.distinct.toSet
    assert(edges.toSet == expected)
  }

  test("contractToDomains: modulo grouping, multiplicity weights, intra-domain drop") {
    // mod 2: (1,2)+(3,2) both become (1,0); (2,4) is intra-domain 0->0
    val got = LinkGraph.contractToDomains(
      edgesDf((1L, 2L), (3L, 2L), (2L, 4L), (2L, 1L)), nDomains = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 2L), (0L, 1L, 1L)))
  }

  test("weighted pageRank matches the weighted reference; weight-1 equals unweighted") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L)
    val wedges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 5L), (3L, 1L, 2L), (2L, 4L, 1L))
    val wdf = wedges.toDF("src", "dst", "w")
    val got = LinkGraph.pageRank(nodesDf(nodes: _*), wdf, iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPageRankW(nodes, wedges, 4))
    // the w ≡ 1 weighted path must be BIT-equal to the unweighted path
    val ones = wedges.map { case (s, d, _) => (s, d, 1L) }.toDF("src", "dst", "w")
    val viaW = LinkGraph.pageRank(nodesDf(nodes: _*), ones, iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = LinkGraph.pageRank(nodesDf(nodes: _*),
      edgesDf(wedges.map { case (s, d, _) => (s, d) }: _*), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaW == plain)
  }

  test("pageRank over the synthetic graph is bit-identical across shuffle parallelism") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): Map[Long, Long] =
      LinkGraph.pageRank(docs, LinkGraph.syntheticEdges(docs), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = run()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      assert(run() == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(base.nonEmpty)
  }
}

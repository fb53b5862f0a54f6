package graft

import org.apache.spark.sql.functions._

import graft.ext.LinkGraph

class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference model: the same integer fixed-point
    * recurrence in plain Scala over an adjacency list. */
  private def refRank(edges: Seq[(String, String)], iterations: Int = 10,
      num: Long = 85L, den: Long = 100L): Map[String, Long] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val hosts = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = hosts.size.toLong
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = ((den - num) * LinkGraph.RankScale / den) / n
    var r = hosts.map(_ -> LinkGraph.RankScale / n).toMap
    for (_ <- 0 until iterations) {
      val inc = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = hosts.map(h => h -> (base + num * inc.getOrElse(h, 0L) / den)).toMap
    }
    r
  }

  private def rankOf(edges: Seq[(String, String)],
      iterations: Int = 10): Map[String, Long] =
    LinkGraph.hostRank(edges.toDF("src_host", "dst_host"),
        iterations = iterations)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("hostRank: exact fixed-point values on a hand-checked triangle") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    // pinned against the DuckDB recursive-CTE oracle AND the Scala
    // reference model (both give these exact units)
    rankOf(edges) shouldBe Map(
      "a" -> 388913058797L, "b" -> 214416470594L, "c" -> 396670470599L)
    rankOf(edges) shouldBe refRank(edges)
  }

  test("hostRank ≡ the Scala reference model on a messier graph") {
    // hub-and-spoke + chain + dangling sink + duplicate and self
    // edges (both must be ignored)
    val edges = Seq(
      "hub" -> "a", "hub" -> "b", "hub" -> "c",
      "a" -> "hub", "b" -> "hub", "c" -> "hub",
      "a" -> "b", "b" -> "c", "c" -> "sink",
      "c" -> "sink", // duplicate
      "a" -> "a") // self-loop
    rankOf(edges) shouldBe refRank(edges)
    rankOf(edges, iterations = 3) shouldBe refRank(edges, iterations = 3)
  }

  /** Weighted reference model: sources split mass proportionally. */
  private def refRankWeighted(edges: Seq[(String, String, Long)],
      iterations: Int = 10, num: Long = 85L,
      den: Long = 100L): Map[String, Long] = {
    val e = edges.filter { case (s, d, w) => s != d && w > 0 }
      .groupBy(t => (t._1, t._2)).map { case ((s, d), ts) =>
        (s, d, ts.map(_._3).sum) }.toSeq
    val hosts = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = hosts.size.toLong
    val totw = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = ((den - num) * LinkGraph.RankScale / den) / n
    var r = hosts.map(_ -> LinkGraph.RankScale / n).toMap
    for (_ <- 0 until iterations) {
      val inc = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => r(s) / totw(s) * w }.sum).toMap
      r = hosts.map(h => h -> (base + num * inc.getOrElse(h, 0L) / den)).toMap
    }
    r
  }

  test("hostRank weighted: proportional mass split ≡ reference model; all-1 weights ≡ unweighted") {
    val wEdges = Seq(
      ("a", "b", 9L), ("a", "c", 1L), // a endorses b 9x harder
      ("b", "a", 1L), ("c", "a", 1L),
      ("a", "b", 2L), // duplicate pair: combines to 11
      ("a", "a", 5L), // self-loop ignored
      ("c", "d", 0L)) // non-positive weight drops (d vanishes)
    val got = LinkGraph.hostRank(
        wEdges.toDF("src_host", "dst_host", "weight"), weightCol = "weight")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe refRankWeighted(wEdges)
    got.keySet should not contain "d"
    got("b") should be > got("c") // the 11:1 split shows in the ranks
    // all-1 weights over a deduplicated edge set ≡ the unweighted path
    val plain = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val viaWeights = LinkGraph.hostRank(
        plain.map { case (s, d) => (s, d, 1L) }
          .toDF("src_host", "dst_host", "weight"), weightCol = "weight")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    viaWeights shouldBe rankOf(plain)
  }

  test("hostEdgesWeighted: multiplicity survives as weight, self-edges drop") {
    val links = Seq(
      ("https://a.com/1", "http://b.com/x"),
      ("https://a.com/2", "https://WWW.B.com/y"), // same host pair
      ("https://a.com/3", "https://a.com/other"), // self → drop
      ("http://c.com/", "https://a.com/z"))
      .toDF("url", "link")
    LinkGraph.hostEdgesWeighted(links).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet shouldBe Set(("a.com", "b.com", 2L), ("c.com", "a.com", 1L))
  }

  test("hostRank: no in-links settles at base; dangling mass leaks") {
    // x -> y only: x has no in-links, y is dangling
    val r = rankOf(Seq("x" -> "y"))
    val base = ((100L - 85L) * LinkGraph.RankScale / 100L) / 2L
    r("x") shouldBe base
    // y: base + 85% of x's full previous rank; total < RankScale (leak)
    r.values.sum should be < LinkGraph.RankScale
    r("y") should be > r("x")
  }

  test("hostRank: zero iterations returns the uniform init; empty edges yield empty") {
    rankOf(Seq("a" -> "b", "b" -> "a"), iterations = 0) shouldBe Map(
      "a" -> LinkGraph.RankScale / 2, "b" -> LinkGraph.RankScale / 2)
    LinkGraph.hostRank(Seq.empty[(String, String)]
      .toDF("src_host", "dst_host")).count() shouldBe 0L
  }

  test("hostEdges: canonicalizes both endpoints and drops self-edges") {
    val links = Seq(
      ("HTTPS://WWW.A.com:443/p?q=1", "http://b.com/x"), // → a.com -> b.com
      ("https://a.com/p2", "https://www.B.com/y"), // dup after canon
      ("https://a.com/p3", "https://a.com:443/other-page"), // self → drop
      ("http://c.com/", "https://a.com/z"))
      .toDF("url", "link")
    LinkGraph.hostEdges(links).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe Set(
      "a.com" -> "b.com", "c.com" -> "a.com")
  }

  test("rankWeightedSelect: per-host quotas are floor(rank·budget/scale), first ids win") {
    val ranks = Seq(
      ("big", 500000000000L), // 0.5 → quota 5 at budget 10
      ("mid", 250000000000L), // 0.25 → 2 (floor of 2.5)
      ("tiny", 40000000000L)) // 0.04 → 0
      .toDF("host", "rank")
    val docs = (for (h <- Seq("big", "mid", "tiny"); i <- 1L to 6L)
      yield (h, i * 10L)).toDF("host", "doc_id")
    val got = LinkGraph.rankWeightedSelect(docs, ranks, totalBudget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    got shouldBe (
      (1L to 5L).map(i => "big" -> i * 10).toSet ++
        (1L to 2L).map(i => "mid" -> i * 10).toSet)
  }

  test("hostRank weighted: fractional weights drop on the CASTED value, never truncate to 0") {
    // all weights in (0,1): each truncates to 0 long — with the raw-
    // column filter they'd pass, totw would be 0, and 'rank div totw'
    // would NULL-leak; cast-first filtering drops them all → empty
    val frac = Seq(("a", "b", 0.9), ("b", "c", 0.5), ("c", "a", 0.1))
      .toDF("src_host", "dst_host", "weight")
    LinkGraph.hostRank(frac, weightCol = "weight").count() shouldBe 0L
    // mixed: the fractional edge drops, the integral ones survive
    val mixed = Seq(("a", "b", 2.0), ("b", "a", 1.0), ("a", "c", 0.5))
      .toDF("src_host", "dst_host", "weight")
    val got = LinkGraph.hostRank(mixed, weightCol = "weight")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe refRankWeighted(
      Seq(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("anchorCorpus: caps bound the aggregate, counts stay uncapped, hot key survives") {
    // one hot target with 20 distinct anchors x 3 duplicate rows each,
    // plus a small target — maxAnchors=3 keeps the first 3 sorted
    // distinct anchors while n_links/n_distinct count the full mass
    val hot = for (i <- 0 until 20; _ <- 0 until 3)
      yield ("https://hot.example.com/page", f"anchor $i%02d")
    val cold = Seq(("https://cold.example.com/p", "only one"))
    val df = (hot ++ cold).toDF("url", "anchor")
    val got = LinkGraph.anchorCorpus(df, maxAnchors = 3, maxLen = 100)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    got("hot.example.com/page") shouldBe ((60L, 20L,
      "anchor 00 | anchor 01 | anchor 02"))
    got("cold.example.com/p") shouldBe ((1L, 1L, "only one"))
    // length cap applies before distinct: two anchors equal after
    // truncation collapse to one
    val trunc = Seq(("https://t.com/x", "same-prefix-AAAA"),
      ("https://t.com/x", "same-prefix-BBBB")).toDF("url", "anchor")
    val g2 = LinkGraph.anchorCorpus(trunc, maxAnchors = 8, maxLen = 11)
      .collect().head
    (g2.getLong(1), g2.getLong(2), g2.getString(3)) shouldBe
      ((2L, 1L, "same-prefix"))
  }

  /** Seeded reference model: teleport mass concentrated on the seed
    * set, non-seeds get no base term — the TrustRank recurrence. */
  private def refRankSeeded(edges: Seq[(String, String)],
      seeds: Set[String], iterations: Int = 10, num: Long = 85L,
      den: Long = 100L): Map[String, Long] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val hosts = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val ns = hosts.count(seeds).toLong
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = ((den - num) * LinkGraph.RankScale / den) / ns
    var r = hosts.map(h =>
      h -> (if (seeds(h)) LinkGraph.RankScale / ns else 0L)).toMap
    for (_ <- 0 until iterations) {
      val inc = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = hosts.map(h => h -> ((if (seeds(h)) base else 0L) +
        num * inc.getOrElse(h, 0L) / den)).toMap
    }
    r
  }

  test("hostRankSeeded: trust flows from seeds only; unreachable hosts settle at exactly 0") {
    // seed s0 feeds a chain s0→a→b; island x→y is unreachable from
    // the seed and must settle at 0, not the uniform teleport floor
    val edges = Seq("s0" -> "a", "a" -> "b", "b" -> "s0", "x" -> "y")
    val got = LinkGraph.hostRankSeeded(
        edges.toDF("src_host", "dst_host"),
        Seq("s0", "ghost-seed-not-in-graph").toDF("host"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe refRankSeeded(edges, Set("s0"))
    got("x") shouldBe 0L
    got("y") shouldBe 0L
    got("s0") should be > 0L
    got("a") should be > got("b") // trust attenuates along the chain
    // two seeds split the teleport mass; reference model agrees
    val got2 = LinkGraph.hostRankSeeded(
        edges.toDF("src_host", "dst_host"), Seq("s0", "x").toDF("host"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got2 shouldBe refRankSeeded(edges, Set("s0", "x"))
    got2("y") should be > 0L // now fed from seed x
    // no seed present in the graph → contract violation
    an[IllegalArgumentException] should be thrownBy
      LinkGraph.hostRankSeeded(edges.toDF("src_host", "dst_host"),
        Seq("nope").toDF("host")).collect()
  }

  test("hostRankSeeded with every host seeded ≡ hostRank, bit for bit") {
    // the two rankings share one power iteration: flagging every host
    // as a seed must reproduce the uniform-teleport ranks exactly
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c",
      "d" -> "a", "e" -> "d", "c" -> "f", "f" -> "f", "a" -> "b")
    val df = edges.toDF("src_host", "dst_host")
    val all = Seq("a", "b", "c", "d", "e", "f", "f").toDF("host")
    def ranks(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = ranks(LinkGraph.hostRank(df))
    plain shouldBe refRank(edges)
    ranks(LinkGraph.hostRankSeeded(df, all)) shouldBe plain
    ranks(LinkGraph.hostRankSeeded(df, all, iterations = 4)) shouldBe
      ranks(LinkGraph.hostRank(df, iterations = 4))
    // empty edges: hostRank ranks no host; seeded still rejects the
    // seed set, since no seed can appear in an empty graph
    val empty = Seq.empty[(String, String)].toDF("src_host", "dst_host")
    LinkGraph.hostRank(empty).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      LinkGraph.hostRankSeeded(empty, all).collect()
  }

  private def compsOf(
      edges: Seq[(String, String)]): Map[String, (String, Long)] =
    LinkGraph.hostComponents(edges.toDF("src_host", "dst_host"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2))))
      .toMap

  test("hostComponents: direction ignored, min-name labels, sizes; ≡ union-find reference") {
    // two components: a 4-cycle (direction mixed) and a directed pair;
    // self-loop and duplicate edges must not disturb anything
    val edges = Seq(
      "b" -> "a", "a" -> "c", "d" -> "c", "b" -> "d", // component {a,b,c,d}
      "z" -> "y", // component {y,z} — reachable only AGAINST direction
      "z" -> "y", // duplicate
      "q" -> "q") // self-loop: q never enters the vertex set
    val got = compsOf(edges)
    got shouldBe refComponents(edges)
    got("a") shouldBe (("a", 4L))
    got("d") shouldBe (("a", 4L))
    got("y") shouldBe (("y", 2L))
    got("z") shouldBe (("y", 2L))
    got.keySet should not contain "q"
  }

  test("hostComponents: long chain converges in log-ish rounds (contraction) and labels by min name") {
    // a 40-host chain — diameter 39; one-hop propagation would need
    // 39 rounds, contraction must land well inside a log-ish bound
    val chain = (0 until 39).map(i => f"h$i%02d" -> f"h${i + 1}%02d")
    val got = compsOf(chain)
    got.keySet.size shouldBe 40
    got.values.toSet shouldBe Set(("h00", 40L))
    // a tight runaway bound still suffices (hash-randomized local
    // minima thin the chain geometrically: ~log rounds, never 39)
    LinkGraph.hostComponents(chain.toDF("src_host", "dst_host"),
        maxIterations = 10)
      .collect().map(_.getString(1)).toSet shouldBe Set("h00")
    got shouldBe refComponents(chain)
  }

  test("hostComponents: many small components ≡ reference; empty edges yield empty") {
    // 12 residue-class components of 5 hosts each (the planted
    // x_host_components shape in miniature)
    val edges = for (k <- 0 until 12; i <- 0 until 4)
      yield f"m${k + 12 * i}%03d" -> f"m${k + 12 * (i + 1)}%03d"
    val got = compsOf(edges)
    got shouldBe refComponents(edges)
    got.values.map(_._1).toSet.size shouldBe 12
    got.values.foreach { case (_, size) => size shouldBe 5L }
    LinkGraph.hostComponents(
      Seq.empty[(String, String)].toDF("src_host", "dst_host"))
      .count() shouldBe 0L
  }
}

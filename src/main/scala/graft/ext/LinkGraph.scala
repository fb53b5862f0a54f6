package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Link-graph host centrality — the graph-level quality prior a
 * curation pipeline derives from the crawl's own link structure
 * (the CC-Net/RefinedWeb lineage: weight hosts by link centrality
 * before sampling documents from them). The engine already extracts,
 * resolves, and canonicalizes every page's links
 * ([[Html.extractLinksDetailed]] → [[Html.resolveHref]] →
 * [[Dedup.normalizeUrl]] → [[Dedup.urlHost]]); this module turns
 * those frames into a host→host edge set and runs a fixed-K PageRank
 * power iteration over it.
 *
 * Arithmetic is INTEGER FIXED-POINT throughout ([[RankScale]] units
 * per unit of rank mass, floor division everywhere): floating-point
 * summation is addition-order-dependent, so a double-valued power
 * iteration could never hash-match a reference implementation —
 * 64-bit integer sums are exact and commutative, making every rank
 * bit-reproducible across engines, partitionings, and retries (the
 * DuckDB oracle replays the identical recurrence). The quantization
 * error this buys is ≤ one part in 10^12 per operation — noise far
 * below anything a sampling policy could act on.
 *
 * Scale posture: hosts are the graph's vertices — millions at
 * 100 TB, never the page count. Host names enter the iteration as
 * 8-byte `xxhash64` keys (text joins back once at the end, the
 * hash-identity convention); each of the K rounds is one narrow
 * equi-join (rank × out-degree edges) plus one narrow groupBy-sum on
 * the 8-byte destination key, with `localCheckpoint` truncating the
 * lineage per round — the `Warc.resolveRedirects` iterative shape.
 * Nothing page-sized or text-valued rides any shuffle.
 *
 * The reference has no link or graph handling at all (it posts
 * generated text to S3/Lambda, src/main.py:959-1020) —
 * training-data-pipeline extension surface.
 */
object LinkGraph {

  /** Fixed-point units per 1.0 of rank mass (10^12: twelve decimal
    * digits of rank resolution; `rank / 1e12` recovers the
    * conventional PageRank value). Total mass across hosts never
    * exceeds one [[RankScale]] (dangling-host mass leaks, it never
    * grows), so `dampingNum * sum` stays far inside a long. */
  val RankScale: Long = 1000000000000L

  /** Scale-adaptive partition count for the iteration frames of the
    * fixed-point loops: ~1M narrow 8-byte-key rows per partition (tens
    * of MB — guide §2.2's fewer-larger-partitions posture), clamped to
    * the session's `spark.sql.shuffle.partitions` so the cluster-tuned
    * parallelism stays the ceiling. The EXPLICIT count matters: AQE
    * never coalesces a user-numbered repartition, so a localCheckpoint
    * taken after it records the exact hash partitioning and every
    * co-partitioned per-round join plans NO exchange — an un-numbered
    * `repartition(col)` gets AQE-coalesced and the checkpoint records
    * the coalesced partitioning, which downstream joins cannot reuse
    * (measured: the per-round exchanges all came back). Locally
    * (thousands of rows) this is 1 — every loop stage is one task; at
    * 100 TB (billions of edges) it rides the configured parallelism. */
  private[ext] def loopPartitions(df: DataFrame, rows: Long): Int = {
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(conf.toLong, rows / 1000000L + 1L)).toInt
  }

  /**
   * Host→host edge set from resolved page links: `(src_host,
   * dst_host)` distinct pairs, self-edges dropped (intra-host links
   * carry no cross-host endorsement — the standard host-graph
   * reduction). `links` carries one row per (page URL, resolved link
   * URL); both sides canonicalize through [[Dedup.normalizeUrl]] +
   * [[Dedup.urlHost]] here, so callers hand over raw resolved URLs.
   * One distinct on a pair of short host strings — the page-sized
   * frame collapses to the host-sized one in this single exchange.
   */
  def hostEdges(links: DataFrame, srcUrlCol: String = "url",
      dstUrlCol: String = "link"): DataFrame =
    links.select(
        Dedup.urlHost(Dedup.normalizeUrl(col(srcUrlCol))).as("src_host"),
        Dedup.urlHost(Dedup.normalizeUrl(col(dstUrlCol))).as("dst_host"))
      .where(col("src_host") =!= col("dst_host"))
      .distinct()

  /** [[hostEdges]] keeping MULTIPLICITY: `(src_host, dst_host,
    * weight)` where weight counts the page-level links behind each
    * host pair — the weighted-graph reduction (a host linking
    * somewhere ten thousand times endorses it more than a single
    * footnote does; the distinct form treats them equally). Same
    * single-exchange collapse, the groupBy replacing the distinct. */
  def hostEdgesWeighted(links: DataFrame, srcUrlCol: String = "url",
      dstUrlCol: String = "link"): DataFrame =
    links.select(
        Dedup.urlHost(Dedup.normalizeUrl(col(srcUrlCol))).as("src_host"),
        Dedup.urlHost(Dedup.normalizeUrl(col(dstUrlCol))).as("dst_host"))
      .where(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("weight"))

  /**
   * Fixed-K PageRank power iteration over a host edge set:
   * `(host, rank)` with `rank` in [[RankScale]] fixed-point units.
   * Every host starts at `RankScale div n`; each round replaces it
   * with
   * {{{
   * rank'(h) = base + (dampingNum * Σ_{(s,h)∈E} (rank(s) div outdeg(s))) div dampingDen
   * base     = ((dampingDen − dampingNum) * RankScale div dampingDen) div n
   * }}}
   * — the damped PageRank recurrence with floor division at each
   * step. Hosts with no in-links settle at `base`; dangling hosts
   * (no out-links) leak their mass, the classic simplification (a
   * QUALITY PRIOR needs relative order, not a stochastic-matrix
   * invariant — redistribution would add a global broadcast per
   * round for no ordering change at the top).
   *
   * `edges` is deduplicated and self-loop-filtered defensively (the
   * [[hostEdges]] contract restated, so raw pairs are safe to pass).
   * K is FIXED (`iterations`, default 10) rather than
   * convergence-tested: a deterministic round count keeps the result
   * reproducible and the oracle expressible — at damping 0.85 ten
   * rounds separate hosts to well past sampling precision. The one
   * driver-side action is a `count` of the host dictionary (the
   * bounded vertex set — the `resolveRedirects` convergence-count
   * posture).
   *
   * Lineage is truncated every `checkpointEvery` rounds (not every
   * round): unlike `resolveRedirects` — whose pointer doubling reads
   * its own frame TWICE per round and counts driver-side — each
   * iteration here is a single-consumer chain (pr → contrib → inc →
   * pr'), so a few un-checkpointed rounds just nest narrow joins in
   * one plan; checkpointing each round would pay one eager
   * materialization job per round for no reuse. Every 3 rounds keeps
   * the plan shallow while cutting the fixed per-query job floor.
   *
   * With a non-empty `weightCol` the iteration runs WEIGHTED
   * PageRank: duplicate `(src, dst)` rows combine by summing their
   * weights, each source splits its mass proportionally —
   * `contrib(e) = (rank(src) div totw(src)) · w(e)` where `totw` is
   * the source's total out-weight. Weights cast to long FIRST; any
   * edge whose casted weight is non-positive drops (so a fractional
   * weight in (0,1) drops rather than truncating to a 0 that would
   * poison `totw` — integral weight columns are the contract).
   * All-1 weights over a deduplicated edge set reproduce the
   * unweighted recurrence exactly (spec-pinned); overflow-safe since
   * `(rank div totw)·w ≤ rank` for every edge.
   */
  def hostRank(edges: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host", iterations: Int = 10,
      dampingNum: Long = 85L, dampingDen: Long = 100L,
      checkpointEvery: Int = 3, weightCol: String = ""): DataFrame =
    powerIteration(edges, srcCol, dstCol, weightCol, None, iterations,
      dampingNum, dampingDen, checkpointEvery)

  /**
   * SEEDED host rank (the TrustRank shape, Gyöngyi/Garcia-Molina/
   * Pedersen 2004): the same damped power iteration as [[hostRank]]
   * but with ALL teleport mass concentrated on a curated seed set —
   * {{{
   * rank'(h) = seed(h)·base + (dampingNum · Σ contrib) div dampingDen
   * base     = ((dampingDen − dampingNum) · RankScale div dampingDen) div nSeeds
   * }}}
   * — so trust flows OUTWARD from the seeds along links: a host
   * unreachable from every seed settles at exactly 0 (not the uniform
   * teleport floor), which is precisely what makes the seeded variant
   * the standard spam-demotion / quality-propagation prior for corpus
   * curation (rank a crawl by proximity to a vetted allowlist instead
   * of raw popularity). Same INTEGER fixed-point arithmetic, same
   * 8-byte-hash iteration shape, same fixed-K reproducibility-and-
   * oracle rationale as [[hostRank]] — literally the same loop, with
   * the teleport flag set on seeds only (seeding every host reproduces
   * [[hostRank]] bit for bit, spec-pinned). Seeds that never appear in
   * the edge set are ignored (they carry no links to propagate over);
   * requires at least one seed present. Initial rank is `RankScale
   * div nSeeds` on seeds, 0 elsewhere.
   */
  def hostRankSeeded(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src_host", dstCol: String = "dst_host",
      seedCol: String = "host", iterations: Int = 10,
      dampingNum: Long = 85L, dampingDen: Long = 100L,
      checkpointEvery: Int = 3): DataFrame =
    powerIteration(edges, srcCol, dstCol, "",
      Some(seeds.select(col(seedCol).as("host"))), iterations,
      dampingNum, dampingDen, checkpointEvery)

  /** The one power iteration behind [[hostRank]] and
    * [[hostRankSeeded]]. Every host carries a teleport flag `s` — 1 on
    * every host when `seeds` is None, 1 on seed hosts only otherwise —
    * and `ns` (the flagged-host count) divides the teleport mass:
    * unseeded, `s · base = base` and `ns = n`, so both rankings run one
    * recurrence. Unweighted edges carry `w = 1`, where
    * `(rank div totw) · w` is exactly `rank div outdeg`. */
  private def powerIteration(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: Option[DataFrame],
      iterations: Int, dampingNum: Long, dampingDen: Long,
      checkpointEvery: Int): DataFrame = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    require(iterations >= 0, "iterations must be non-negative")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      "damping must be a fraction in [0, 1]")
    val e0 = (if (weightCol.isEmpty)
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
        .where(col(srcCol) =!= col(dstCol))
        .distinct()
        .withColumn("__w", lit(1L))
    else
      // filter on the CASTED value: a fractional weight in (0,1)
      // passes a raw-column test but truncates to 0, leaking mass
      // into a 0-divisor totw — cast first, then drop non-positives
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
          col(weightCol).cast("long").as("__w0"))
        .where(col("__s") =!= col("__d") && col("__w0") > 0)
        .groupBy("__s", "__d").agg(sum(col("__w0")).as("__w")))
      .localCheckpoint()
    // Loop-invariant frames are checkpointed PRE-PARTITIONED (explicit
    // scale-adaptive count — see [[loopPartitions]]) and PRE-SORTED on
    // their per-round join keys (guide §2.4: operations keyed the same
    // way share one exchange; localCheckpoint preserves partitioning
    // AND ordering, so the per-round sort-merge join re-sorts neither
    // side): dict on h and edgesDeg on src_h make each round's
    // rank×edges join and the dict-realignment join exchange-free.
    // The one shuffle left per round is the contribution
    // repartition(p, dst_h) feeding the groupBy, whose output
    // co-partitions with dict for the next join. K rounds paid ~3
    // exchanges each before; now K + 3 one-time repartitions total.
    val p = loopPartitions(e0, e0.count())
    val hosts = e0.select(col("__s").as("host"))
      .union(e0.select(col("__d").as("host")))
      .distinct()
    // the teleport flag: a literal 1 unseeded (Spark folds it away, so
    // hostRank plans exactly the uniform recurrence), a stored column
    // when seeded
    val (flagged, s) = seeds match {
      case None => (hosts, lit(1L))
      case Some(sd) =>
        (hosts.join(sd.distinct().withColumn("__seed", lit(1L)), Seq("host"), "left")
          .select(col("host"), coalesce(col("__seed"), lit(0L)).as("s")), col("s"))
    }
    val dict = org.apache.spark.sql.graft.CheckpointBridge.localCheckpointHashed(
      flagged.select(xxhash64(col("host")).as("h"), col("*")), Seq("h"), p)
    // hosts, not pages — the bounded vertex set; unseeded, every host
    // is flagged, so this one count is n
    val ns = dict.where(s === 1L).count()
    if (ns == 0L) {
      require(seeds.isEmpty, "no seed host appears in the edge set")
      return dict.select(col("host"), lit(0L).as("rank"))
    }
    val eh = e0.select(xxhash64(col("__s")).as("src_h"),
      xxhash64(col("__d")).as("dst_h"), col("__w").as("w"))
    val deg = eh.groupBy("src_h").agg(sum(col("w")).as("totw"))
    val edgesDeg = org.apache.spark.sql.graft.CheckpointBridge.localCheckpointHashed(
      eh.join(deg, "src_h"), Seq("src_h"), p)
    val base = ((dampingDen - dampingNum) * RankScale / dampingDen) / ns
    var pr = dict.select(col("h"), (s * lit(RankScale / ns)).as("rank"))
    var k = 0
    while (k < iterations) {
      val contrib = pr.join(edgesDeg, pr("h") === edgesDeg("src_h"))
        .select(col("dst_h"), expr("(rank div totw) * w").as("c"))
      // explicit repartition to p BEFORE the aggregate: the groupBy
      // then needs no exchange of its own and its output co-partitions
      // with dict (a bare groupBy would exchange to the conf default
      // and the dict join would re-exchange to p — two shuffles of the
      // same rows)
      val inc = contrib.repartition(p, col("dst_h"))
        .groupBy("dst_h").agg(sum(col("c")).as("inc"))
      pr = dict.select(col("h"), s.as("s"))
        .join(inc, col("h") === col("dst_h"), "left")
        .select(col("h"),
          expr(s"s * ${base}L + (${dampingNum}L * coalesce(inc, 0L))" +
            s" div ${dampingDen}L").as("rank"))
      k += 1
      if (k % checkpointEvery == 0 && k < iterations)
        // periodic lineage truncation, layout-recording so the next
        // round's rank×edges join stays exchange- and sort-free
        pr = org.apache.spark.sql.graft.CheckpointBridge
          .localCheckpointHashed(pr, Seq("h"), p)
    }
    pr.join(dict, "h").select(col("host"), col("rank"))
  }

  /**
   * Host-graph connected components — the mirror-site / site-family
   * clustering a curation pipeline runs BEFORE sampling (CC-style
   * pipelines cluster mirrored hosts so one family can't dominate a
   * mixture the way its duplicate hosts would individually; the
   * second standard graph prior after centrality). Direction is
   * ignored — endorsement runs one way, "same operator" runs both.
   * Emits `(host, component, comp_size)` where `component` is the
   * lexicographically smallest host NAME in the component (a stable,
   * engine-independent canonical id — the DuckDB oracle reproduces it
   * from pure reachability with no hash in sight) and `comp_size`
   * counts the component's hosts.
   *
   * Hosts enter [[contractComponents]] (the engine's one
   * connected-components loop, shared with
   * [[Dedup.duplicateClusters]]) as 8-byte `xxhash64` keys — the
   * hash-identity convention, so no host text rides an iterated
   * shuffle. The kernel's `(id, root)` answer comes back as `(h, lbl)`
   * and host text joins back once at the end, where one window per
   * root label takes the min name and the size. Self-loops never
   * enter the vertex set. `maxIterations` is the kernel's runaway
   * bound: hitting it THROWS rather than returning a partial partition
   * — components define downstream quotas and dedup keys, so a
   * silently-unconverged answer is corruption, not degradation.
   */
  def hostComponents(edges: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host", maxIterations: Int = 50): DataFrame = {
    // read twice (the dictionary and the kernel's hashed pairs):
    // checkpoint so the upstream edge derivation runs once
    val e0 = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .where(col("__s") =!= col("__d"))
      .localCheckpoint()
    // hash → name dictionary, deduplicated on the 8-byte hash (min keeps
    // it deterministic), so its one exchange co-partitions with the
    // name join below
    val dict = e0.select(col("__s").as("host")).union(e0.select(col("__d").as("host")))
      .select(xxhash64(col("host")).as("h"), col("host"))
      .groupBy("h").agg(min(col("host")).as("host"))
    val lbl = contractComponents(
        e0.select(xxhash64(col("__s")).as("a"), xxhash64(col("__d")).as("b")),
        maxIterations)
      .select(col("id").as("h"), col("root").as("lbl"))
    // hash label → canonical NAME label: the component's min host name
    val byLbl = Window.partitionBy("lbl")
    lbl.join(dict, "h").select(col("host"),
      min(col("host")).over(byLbl).as("component"),
      count(lit(1)).over(byLbl).as("comp_size"))
  }

  /**
   * Connected components of an undirected pair graph — the engine's
   * ONE connected-components loop, behind [[hostComponents]] and
   * [[Dedup.duplicateClusters]]. `pairs` carries endpoint columns `a`
   * and `b` (any orderable type; both coerce to one type first). A pair
   * with a null endpoint, or with `a = b`, names no edge and adds no
   * vertex; duplicate pairs and either direction are equivalent.
   * Emits `(id, root)` for every vertex, where `root` is the id of the
   * component's minimum vertex in `(xxhash64(id), id)` order — a
   * label, not a canonical name: callers derive their own canonical
   * id per root (min id, min host name).
   *
   * Algorithm: hash-min CONTRACTION. Each round, over the CONTRACTED
   * label graph:
   * {{{
   * m(v)    = min(v, min over neighbors of v)      // local min
   * comp(x) = m(comp(x))                           // compose mapping
   * E'      = { (m(a), m(b)) : (a,b) ∈ E, m(a) ≠ m(b) } distinct
   * }}}
   * — every vertex with a smaller neighbor merges into it and LEAVES
   * the edge set, so the working graph shrinks geometrically. The
   * hash-first order is independent of the ids' own order, so a chain
   * of consecutive (or otherwise monotone) ids contracts in expected
   * O(log n) rounds rather than the O(n) a raw-id order would pay;
   * the id tie-break makes the order total, so a hash collision can
   * never merge two components. The component's minimum vertex can
   * never merge away (it is its own local min), so when the edge set
   * empties every component has contracted onto exactly that vertex —
   * the exact fixpoint, reached when the edge count the per-round
   * checkpoint already takes hits zero (no separate convergence job).
   * Later rounds ride edge frames orders of magnitude smaller than the
   * input, unlike one-hop label propagation over the full edge set.
   *
   * Layout: the symmetrized edge frame is checkpointed hash(a)-laid
   * with the `(a, b)` dedup riding that layout (the bridge's
   * `dedupAfter`), which is exactly the key of the next round's
   * local-min groupBy and first relabel join — both exchange-free.
   * Each round's new edge frame re-derives its partition count from the
   * remaining edge count ([[loopPartitions]]); the first checkpoint,
   * taken before any count exists, uses the session's shuffle-partition
   * ceiling. The vertex → label map is a single-consumer chain of
   * narrow joins against the checkpointed `m`s, truncated every 8
   * rounds.
   *
   * All iteration exchanges key on the `(hash, id)` vertex structs; `min` is exactly associative/commutative, so the answer is
   * bit-reproducible across partitionings and retries. Hitting
   * `maxRounds` with edges remaining THROWS rather than returning a
   * partial partition; the default 50 sits far above the expected
   * O(log n) rounds.
   */
  private[ext] def contractComponents(pairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    require(maxRounds > 0, "maxRounds must be positive")
    val bridge = org.apache.spark.sql.graft.CheckpointBridge
    // `array` coerces both endpoints to one type BEFORE hashing (an int
    // 5 and a long 5 must be one vertex); both directions come from one
    // read of `pairs`, which is typically an expensive verification join
    def vertex(c: Column): Column = struct(xxhash64(c).as("k"), c.as("v"))
    val (x, y) = (col("__p")(0), col("__p")(1))
    val sym = pairs.select(array(col("a"), col("b")).as("__p"))
      .where(x =!= y)
      .select(explode(array(
        struct(vertex(x).as("a"), vertex(y).as("b")),
        struct(vertex(y).as("a"), vertex(x).as("b")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
    // `parts` is the count e is laid out with: m takes it too, so the
    // local-min groupBy and the first relabel join stay exchange-free
    var parts = sym.sparkSession.sessionState.conf.numShufflePartitions
    var (e, remaining) = bridge.localCheckpointHashedWithCount(sym, Seq("a"),
      parts, dedupAfter = Seq("a", "b"))
    // kept only when e is empty (then so is this); round 1 replaces it
    // with its local-min map, which covers every vertex (e is symmetric)
    var comp = e.select(col("a").as("__id"), col("a").as("__lbl"))
    var k = 0
    while (remaining > 0L && k < maxRounds) {
      // local min per live label vertex (symmetric e: one side
      // suffices); e is hash(a)-laid, so the groupBy plans no exchange,
      // and m's checkpoint records hash(__v) for its three consumers
      val m = bridge.localCheckpointHashed(
        e.groupBy("a").agg(min(col("b")).as("__mb"))
          .select(col("a").as("__v"), least(col("a"), col("__mb")).as("__m")),
        Seq("__v"), parts)
      comp =
        if (k == 0) m.select(col("__v").as("__id"), col("__m").as("__lbl"))
        else comp.join(m, col("__lbl") === col("__v"), "left")
          .select(col("__id"), coalesce(col("__m"), col("__lbl")).as("__lbl"))
      if ((k + 1) % 8 == 0) comp = comp.localCheckpoint()
      parts = loopPartitions(e, remaining)
      val (e2, r2) = bridge.localCheckpointHashedWithCount(
        e.join(m.select(col("__v").as("__va"), col("__m").as("__ma")),
            col("a") === col("__va"))
          .join(m.select(col("__v").as("__vb"), col("__m").as("__mb2")),
            col("b") === col("__vb"))
          .select(col("__ma").as("a"), col("__mb2").as("b"))
          .where(col("a") =!= col("b")),
        Seq("a"), parts, dedupAfter = Seq("a", "b"))
      e = e2
      remaining = r2
      k += 1
    }
    if (remaining > 0L)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          s"($remaining contracted edges remain); raise the round bound")
    comp.select(col("__id.v").as("id"), col("__lbl.v").as("root"))
  }

  /**
   * Anchor-text corpus — aggregate what the web SAYS about each page:
   * one row per canonical target URL with the distinct anchor texts
   * pointing at it (`[[Html.extractAnchors]]` upstream provides the
   * (resolved target URL, anchor) pairs; callers drop nofollow edges
   * first, the frontier convention). Emits `(url_norm, n_links,
   * n_distinct, anchors)` where `anchors` is the sorted distinct
   * anchor list capped at `maxAnchors` entries of ≤ `maxLen` chars
   * each, joined with `" | "` — the bounded per-target description a
   * retrieval index or quality scorer consumes.
   *
   * Caps apply BEFORE the aggregate: length pre-aggregate
   * (`substring` to `maxLen`), and count via a per-key
   * `row_number <= maxAnchors` over the DISTINCT `(url, anchor)`
   * pair frame — so the `collect_list` buffer holds at most
   * `maxAnchors` entries per key and no unbounded anchor mass ever
   * accumulates. A Wikipedia-shaped target with millions of in-links
   * hash-aggregates its pairs across partitions (partial-agg keys are
   * the PAIRS, never one hot target key), ranks the survivors inside
   * one host-hash partition, and carries at most `maxAnchors · maxLen`
   * chars into and out of the final groupBy. `n_links` (uncapped link
   * count) and `n_distinct` (uncapped distinct-anchor count) are
   * cheap count aggregates over the same frames — counters, not
   * buffers. The exchange key is the 8-byte `xxhash64` of the
   * canonical URL; URL text joins back once at the end (hash-identity
   * convention). Empty anchors (image-only elements) are dropped.
   */
  def anchorCorpus(anchors: DataFrame, urlCol: String = "url",
      anchorCol: String = "anchor", maxAnchors: Int = 8,
      maxLen: Int = 100): DataFrame = {
    require(maxAnchors > 0 && maxLen > 0, "caps must be positive")
    val rows = anchors.select(
        Dedup.normalizeUrl(col(urlCol)).as("__u"),
        substring(col(anchorCol), 1, maxLen).as("__a"))
      .where(col("__a") =!= "")
      .select(xxhash64(col("__u")).as("__uh"), col("__u"), col("__a"))
    // uncapped link count — a counter aggregate, O(1) buffer per key
    val counts = rows.groupBy("__uh").agg(count(lit(1)).as("n_links"))
    // bound the collect's INPUT: distinct pairs (partial aggregation
    // keys on the pair, so a hot target never concentrates in one
    // buffer), then keep only the first maxAnchors anchors per key
    val pairs = rows.select(col("__uh"), col("__a")).distinct()
    val ranked = pairs
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__uh").orderBy("__a")))
      .withColumn("__nd", count(lit(1)).over(Window.partitionBy("__uh")))
      .where(col("__rn") <= maxAnchors)
    // collect_list sees <= maxAnchors rows per key by construction;
    // the groupBy reuses the window's __uh partitioning (no exchange)
    val top = ranked.groupBy("__uh")
      .agg(max(col("__nd")).as("n_distinct"),
        array_join(array_sort(collect_list(col("__a"))), " | ")
          .as("anchors"))
    val dict = rows.select(col("__uh").as("__dh"), col("__u").as("url_norm"))
      .distinct()
    counts.join(top, "__uh")
      .join(dict, col("__uh") === col("__dh"))
      .select(col("url_norm"), col("n_links"), col("n_distinct"),
        col("anchors"))
  }

  /**
   * Stateless host-prior gate — the STREAMING twin of the rank
   * consumption (power iteration is a batch shape; a `readStream` of
   * arriving pages can't iterate): broadcast the bounded
   * batch-computed `(host, rank)` table into a stream-static
   * equi-join on the 8-byte host hash — the `Warc.gateRedirects` /
   * Bloom-decontaminator posture. Each arriving page gains
   * `host` (canonical) and `host_rank` (its host's prior;
   * `defaultRank` for hosts the graph never saw — new hosts carry no
   * endorsement yet). Zero state, no watermark — the same plan gates
   * a batch frame identically (stream ≡ batch pinned in
   * StreamingSpec).
   */
  def gateHostPrior(pages: DataFrame, ranks: DataFrame,
      urlCol: String = "url", defaultRank: Long = 0L): DataFrame = {
    val map = broadcast(ranks.select(
      xxhash64(col("host")).as("__rh"), col("rank").as("__rk")))
    pages
      .withColumn("host", Dedup.urlHost(Dedup.normalizeUrl(col(urlCol))))
      .join(map, xxhash64(col("host")) === col("__rh"), "left")
      .withColumn("host_rank", coalesce(col("__rk"), lit(defaultRank)))
      .drop("__rh", "__rk")
  }

  /**
   * Stateless mirror-family gate — the STREAMING twin of the
   * component consumption (contraction is a batch shape; a
   * `readStream` of arriving pages can't iterate): broadcast the
   * bounded batch-computed `(host, component, comp_size)` table into
   * a stream-static equi-join on the 8-byte host hash — the
   * [[gateHostPrior]] posture. Each arriving page gains `host`
   * (canonical), `family` (its host's component label; the host
   * ITSELF when the graph never clustered it — an unseen host is its
   * own singleton family), and `family_size` (1 for unseen). Zero
   * state, no watermark — the same plan gates a batch frame
   * identically (stream ≡ batch pinned in StreamingSpec). Downstream,
   * family-keyed quotas/dedup run on `family` exactly as host-keyed
   * ones run on `host`.
   */
  def gateMirrorFamily(pages: DataFrame, components: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val map = broadcast(components.select(
      xxhash64(col("host")).as("__ch"), col("component").as("__cf"),
      col("comp_size").as("__cs")))
    pages
      .withColumn("host", Dedup.urlHost(Dedup.normalizeUrl(col(urlCol))))
      .join(map, xxhash64(col("host")) === col("__ch"), "left")
      .withColumn("family", coalesce(col("__cf"), col("host")))
      .withColumn("family_size", coalesce(col("__cs"), lit(1L)))
      .drop("__ch", "__cf", "__cs")
  }

  /**
   * Rank-weighted document selection — the prior put to work: each
   * host gets a document quota proportional to its rank,
   * `quota(h) = (rank(h) * totalBudget) div RankScale` (fixed-point
   * floor division again, so quotas are exact and sum to ≤
   * `totalBudget`), and the host's first `quota` documents in
   * deterministic `idCol` order are kept. Emits the selected rows as
   * `(host, doc_id, quota)`.
   *
   * `totalBudget` must stay ≤ ~10^6 so `rank * totalBudget` (≤
   * RankScale · budget) stays inside a long — a per-host document
   * quota, not a token count. The window is HOST-partitioned (never
   * global); `ranks` is host-bounded and broadcast.
   */
  def rankWeightedSelect(docs: DataFrame, ranks: DataFrame,
      totalBudget: Long, hostCol: String = "host",
      idCol: String = "doc_id"): DataFrame = {
    require(totalBudget > 0 && totalBudget <= 1000000L,
      "totalBudget must be in (0, 10^6] (quota arithmetic headroom)")
    val quota = broadcast(ranks.select(col("host").as("__qh"),
      expr(s"(rank * ${totalBudget}L) div ${RankScale}L").as("quota")))
    val rn = row_number()
      .over(Window.partitionBy(col(hostCol)).orderBy(col(idCol)))
    docs
      .join(quota, col(hostCol) === col("__qh"))
      .withColumn("__rn", rn)
      .where(col("__rn") <= col("quota"))
      .select(col(hostCol).as("host"), col(idCol), col("quota"))
  }
}

package graft.examples

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}
import graft.Bench.RunCost

/**
 * The diagnostic main over `SparkEntry.queries`, in Bench's session with
 * Bench's warm-up and timed run; `graft.Bench` stays the measured surface.
 * With no query named, a mode runs every cataloged query.
 *
 *  - `time <sfDir>`: Bench's timed run `SPARK_GRAFT_BENCH_RUNS` times per
 *    query, as `TIME <q> run<i> <s> s` lines and `TIME_MIN <q> <s> s`.
 *  - `scaling <root>`: the SCALING.md family (by default) at
 *    `<root>/sf0.001`, `sf0.01` and `sf0.1`, one JSON line per (query, sf).
 *  - `cost <sfDir>`: two runs per query, each a `STATS` line of totals
 *    (with the whole-stage and expression classes the run compiled, and
 *    their compile time) and one `JOB` line per Spark job, named by the
 *    action behind it — the per-round job overhead of loop-shaped queries
 *    that no final plan shows.
 *  - `explain <sfDir>`: the formatted physical plan.
 *  - `plan <sfDir>`: the executed plan after `collect`, and its `Exchange`
 *    lines and their count.
 *  - `entry`: the row count of `SparkEntry.entry`'s frame, as
 *    `ENTRY_ROWS=<n>` (no directory).
 *
 * usage: runMain graft.examples.Probe <mode> <dir> [query ...]
 */
object Probe {
  private val Usage = "usage: Probe <time|scaling|cost|explain|plan> <dir> [query ...] | Probe entry"

  private val ScalingQueries = Seq("x_minhash_pairs", "x_substring_dedup",
    "x_jaccard_pairs", "x_dedup_clusters", "x_recipe_e2e",
    "x_gopher_rules", "x_langid_trigram", "x_ngram_novelty",
    "x_dsir_weights", "x_cms_heavy",
    // round-12 kernel families
    "x_winnow", "x_winnow_pairs", "x_cdc_chunks", "x_cdc_scrub",
    "x_nb_classify", "x_worst_window", "x_hash_features",
    // round-12 continuation families
    "x_bloom_decontaminate", "x_decontaminate_substr",
    "x_curriculum_order", "x_dedup_keep_best", "x_neardup_degree",
    // round-12 second-pass families
    "x_segment_dedup", "x_edit_pairs", "x_decon_semantic", "x_pq_probe",
    // round-13 families: PQ training, logreg training, and the two
    // newly capped pair finders (post-guard plans)
    "x_pq_recall", "x_logreg_weights", "x_containment_pairs",
    "x_source_overlap",
    // round-13 second batch: run finders/scrubbers, sketches, reports
    "x_longest_run", "x_verbatim_scrub", "x_self_repeat",
    "x_bottomk_overlap", "x_boilerplate", "x_boilerplate_scrub",
    "x_mattr", "x_map", "x_weighted_reservoir",
    // round-16: re-keyed boilerplate family, URL-normalized dedup,
    // domain report, and the globalRank-decomposed calibration
    "x_url_dedup", "x_domain_stats", "x_logreg_calibration",
    "x_global_rank",
    // round-16 second batch: the WET ingest codec (render + parse)
    "x_wet_roundtrip", "x_wet_stats", "x_warc_http", "x_robots_filter",
    "x_crawl_e2e", "x_html_text", "x_html_links", "x_frontier",
    "x_crawl_schedule", "x_sitemap_recrawl",
    // round-17: byte-oriented WET and redirect-chain resolution
    "x_wet_bytes", "x_redirect_resolve",
    // round-18: charset decode, gzip members, recrawl policy (the
    // changed frontier/funnel/html queries re-probe under their old
    // names above)
    "x_warc_charset", "x_warc_gzip", "x_recrawl_policy",
    // round-18 second batch: robots-announced sitemaps, base-href
    // resolution, rel=canonical dedup
    "x_sitemap_discovery", "x_base_links", "x_canonical_dedup",
    // round-18 third batch: revisit records, robots availability,
    // frontier trap hygiene
    "x_warc_revisit", "x_robots_availability", "x_url_traps",
    "x_redirect_identity",
    // round-19: host centrality + quota select, HTTP wire codings,
    // anchor-text corpus, CJK charsets
    "x_host_rank", "x_rank_weighted_select", "x_warc_encoding",
    "x_anchor_text", "x_warc_charset_cjk", "x_frontier_priority",
    "x_host_rank_weighted",
    // round-20: connected components + family-capped select, seeded
    // (TrustRank-shape) rank; the capped anchor corpus and the
    // 9-class wire-coding matrix re-probe under their old names above
    "x_host_components", "x_mirror_family_select", "x_host_rank_seeded",
    "x_family_rank",
    // round-21 (optimization round): queries whose plans changed —
    // candidate-restricted minhash calibration, scan-floored kernel
    // queries, bridge-checkpointed loops re-probe under their old
    // names above
    "x_minhash_est", "x_cosine_pairs", "x_weighted_sample",
    "x_bpe_encode", "x_pii_scan", "x_pii_redact", "x_decontaminate")
  private val Sfs = Seq("sf0.001", "sf0.01", "sf0.1")

  /** Runs `name` twice in Bench's timed region under Bench's cost
    * listener ([[Bench.costed]]); the first run pays one-off work (caches,
    * codegen) that the second reuses. */
  def cost(spark: SparkSession, sfDir: String, name: String): Seq[RunCost] =
    Bench.withCostListener(spark) { listener =>
      (1 to 2).map(_ => Bench.costed(spark, sfDir, SparkEntry.queries(name), listener))
    }

  /** The `STATS` line of run `i` of query `name`. */
  def statsLine(name: String, i: Int, r: RunCost): String =
    f"STATS $name run$i wall=${r.wall}%.2f s jobs=${r.jobs}%d " +
      f"stages=${r.stages}%d tasks=${r.tasks}%d taskTime=${r.taskMs / 1000.0}%.1f s " +
      f"compiles=${r.compiles}%d compile_ms=${r.compileMs}%.1f"

  /** Collects `name`, then returns its executed (final adaptive) plan and
    * that plan's `Exchange` lines. */
  def plan(spark: SparkSession, sfDir: String, name: String): (String, Seq[String]) = {
    val q = SparkEntry.queries(name)(spark, sfDir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    (executed, executed.linesIterator.filter(_.contains("Exchange")).map(_.trim).toList)
  }

  def main(args: Array[String]): Unit = {
    if (args.toSeq == Seq("entry")) {
      val spark = Bench.session()
      println("ENTRY_ROWS=" + SparkEntry.entry(spark).count())
      spark.stop()
      return
    }
    require(args.length >= 2, Usage)
    val Array(mode, dir) = args.take(2)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else if (mode == "scaling") ScalingQueries
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session()
    Bench.warmUp(spark, if (mode == "scaling") s"$dir/${Sfs.head}" else dir)
    mode match {
      case "time" => names.foreach { n =>
        val ts = (1 to Bench.runs).map { i =>
          val t = Bench.timed(spark, dir, SparkEntry.queries(n))
          println(f"TIME $n run$i $t%.2f s")
          t
        }
        println(f"TIME_MIN $n ${ts.min}%.3f s")
      }
      case "scaling" => for (sf <- Sfs) {
        val sfDir = s"$dir/$sf"
        val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
        for (n <- names) {
          val fn = SparkEntry.queries(n)
          val mn = math.rint((1 to Bench.runs).map(_ => Bench.timed(spark, sfDir, fn)).min * 1000) / 1000
          val rows = fn(spark, sfDir).count()
          println(s"""{"probe":"scaling","query":"$n","sf":"$sf","docs":$docs,"out_rows":$rows,"sec_min":$mn}""")
        }
      }
      case "cost" => names.foreach { n =>
        cost(spark, dir, n).zipWithIndex.foreach { case (r, i) =>
          println(statsLine(n, i + 1, r))
          r.perJob.foreach { j =>
            println(f"  JOB ${j.id}%3d stages=${j.stages}%3d tasks=${j.tasks}%4d " +
              f"taskTime=${j.taskMs / 1000.0}%7.2f s  ${j.site}")
          }
        }
      }
      case "explain" => names.foreach { n =>
        println(s"===== $n =====")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
      case "plan" => names.foreach { n =>
        val (executed, exchanges) = plan(spark, dir, n)
        println(s"=== FINAL PLAN $n ===\n$executed")
        println(s"=== $n exchanges=${exchanges.size}")
        exchanges.foreach(l => println("    " + l.take(110)))
      }
      case other => throw new IllegalArgumentException(s"unknown mode $other; $Usage")
    }
    spark.stop()
  }
}

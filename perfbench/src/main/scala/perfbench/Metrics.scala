package perfbench

/** The benchmark's metric catalog: every name it emits, with its unit. The
  * end-to-end metrics are printed by untraced runs, the per-layer ones by
  * traced runs; BENCHMARK.json lists the same names (the smoke test checks
  * that the two agree). METRICS.md defines each one and records which
  * end-to-end metric a layer metric is expected to move, on which workload.
  */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "op_p50_s" -> "s",
    "op_p90_s" -> "s",
    "retained_heap_mb" -> "MB")

  /** The 57 driver-contract queries, in the order the suite runs them. */
  val Queries: Seq[String] = Seq(
    "q_a1_agg", "q_a2_approx_distinct", "q_a3_opic", "q_a4_rollup", "q_a5_hotkeys",
    "q_array_fns", "q_crawl_expand", "q_d1_exact_dedup", "q_d3_seen_antijoin", "q_dates_trunc",
    "q_dedup_clusters", "q_dedup_clusters_stars", "q_dedup_cosine_exact", "q_dedup_embedding",
    "q_dedup_jaccard", "q_dedup_minhash", "q_dedup_minhash_verify", "q_dedup_simhash",
    "q_fingerprint", "q_j2_join_agg", "q_j3_semijoin", "q_j4_antijoin", "q_j5_salted_join",
    "q_json_extract", "q_lang_id", "q_map_fns", "q_match_fuzzy", "q_match_transfer",
    "q_math_fns", "q_multimodal_decode", "q_multimodal_frames", "q_multimodal_thumbs",
    "q_o2_topk", "q_o4_except", "q_o4_intersect", "q_pagerank", "q_recrawl_due",
    "q_s1_scan_prune", "q_session_window", "q_sim_bruteforce_topk", "q_sim_ivf_topk",
    "q_sim_lsh_topk", "q_sim_recall", "q_sitemap_seeds", "q_snapshot_diff", "q_text_quality",
    "q_u1_parse_url", "q_u2_canon", "q_u3_host_reverse", "q_u8_url_codec", "q_w1_rank",
    "q_w2_token_admission", "q_w3_lag", "q_w4_rolling", "q_warc_roundtrip",
    "q_x1_extract_links", "q_x2_extract_text")

  /** The operator module each query's work is dominated by; the rest roll
    * up into `SparkEntry.other_s`. */
  val QueryModule: Map[String, String] = Map(
    "q_dedup_clusters" -> "Graph", "q_dedup_clusters_stars" -> "Graph", "q_pagerank" -> "Graph",
    "q_d1_exact_dedup" -> "TextDedup", "q_dedup_minhash" -> "TextDedup",
    "q_dedup_simhash" -> "TextDedup", "q_dedup_embedding" -> "TextDedup",
    "q_dedup_minhash_verify" -> "TextDedup",
    "q_sim_bruteforce_topk" -> "Similarity", "q_sim_lsh_topk" -> "Similarity",
    "q_sim_recall" -> "Similarity", "q_sim_ivf_topk" -> "Similarity",
    "q_dedup_cosine_exact" -> "Similarity",
    "q_match_transfer" -> "Match", "q_match_fuzzy" -> "Match", "q_snapshot_diff" -> "Match",
    "q_multimodal_decode" -> "Multimodal", "q_multimodal_frames" -> "Multimodal",
    "q_multimodal_thumbs" -> "Multimodal")

  val Modules: Seq[String] = Seq("Graph", "TextDedup", "Similarity", "Match", "Multimodal")

  val StateTables: Seq[String] = Seq("frontier", "url_seen", "host_state", "fetch_log")

  val PerLayer: Seq[(String, String)] = Seq(
    "functions.Html.scan_ns_per_page" -> "ns",
    "functions.UrlCanon.canon_ns_per_link" -> "ns",
    "functions.Bloom64.probe_ns" -> "ns",
    "functions.links_per_page" -> "count",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.task_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s",
    "spark.codegen_compiles" -> "count",
    "spark.codegen_ms" -> "ms",
    "spark.core_busy_frac" -> "ratio",
    "CrawlRound.admit_s" -> "s",
    "CrawlRound.writes_s" -> "s",
    "CrawlRound.tail_s" -> "s",
    "CrawlRound.fetched200_frac" -> "ratio",
    "CrawlRound.new_frac" -> "ratio") ++
    StateTables.map(t => s"StateTable.write_s.$t" -> "s") ++ Seq(
    "StateTable.bytes_written_per_url" -> "B/URL",
    "StateTable.state_bytes_per_url" -> "B/URL",
    "StateTable.frontier_files" -> "count",
    "StateTable.seen_files" -> "count",
    "StateTable.compactions" -> "count",
    "SeenStore.sidecar_mb" -> "MB") ++
    Modules.map(m => s"operators.${m}_s" -> "s") ++ Seq(
    "SparkEntry.other_s" -> "s",
    "SparkEntry.suite_s" -> "s",
    "Graph.jobs" -> "count",
    "Graph.driver_gap_s" -> "s",
    "Graph.codegen_compiles" -> "count") ++
    Queries.map(q => s"query.${q}_s" -> "s")

  def unitOf(name: String): String =
    (EndToEnd ++ PerLayer).find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"metric $name is not in the catalog"))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile over the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans of registered queries.
  *
  * `PlanDump` regenerates PLANS.md from the headline queries — the
  * plan-quality evidence (pushdown, broadcast, codegen spans, exchange
  * placement) reviewed after each operator lands.
  * `PlanDump <tag> <suffix> <name> [name ...]` writes each named query's
  * plan to `plans/<tag>/<name>_<suffix>.txt` — before/after plan evidence
  * for an optimization.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001; point named plans at the
  * bench's sf0.1 so scan/exchange shapes match what the bench times),
  * SPARK_GRAFT_CPUS (named plans; default 4).
  */
object PlanDump {
  val Headline = Seq(
    "rel_pricing_summary", "rel_revenue_by_nation", "rel_top_orders",
    "rel_supplier_running_revenue", "vec_knn_top10", "vec_knn_sql",
    "txt_bm25_scores", "fus_hybrid_top10", "dedup_minhash_pairs",
    "dedup_minhash_fast", "ann_ivf_top10", "ann_lsh_pairs",
    "ann_int8_top10", "ann_pq_top10", "ann_pq_batch", "ann_ivfpq_pruned",
    "ann_ivf_batch",
    "ana_sql_functions", "ana_pii_redact", "samp_pack_sequences", "ana_lm_scores",
    "pipe_fk_remap", "pipe_upsert", "pipe_query_metrics",
    "evt_sessions", "evt_asof_click", "evt_incident_join", "samp_stratified",
    "dedup_incremental_stored", "dedup_embedding_celled",
    "dedup_celled_incremental", "dedup_span_flags", "samp_domain_mixture",
    "decon_flags", "pipe_flagship", "pipe_sql_chunks",
    "pipe_flagship_ivf", "pipe_flagship_ivfpq",
    "pipe_curation_full", "ana_token_counts_bpe")

  def main(args: Array[String]): Unit = {
    val named = args.nonEmpty
    require(!named || args.length >= 3, "usage: PlanDump [<tag> <suffix> <name> [name ...]]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // PLANS.md keeps its fixed 4-core session; named plans follow the bench's
    val cpus = if (named) sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt else 4
    val spark = GraftSession.localBuilder(cpus, sfDir)
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    if (named) {
      val (tag, suffix) = (args(0), args(1))
      Files.createDirectories(Paths.get(s"plans/$tag"))
      for (name <- args.drop(2)) {
        val out = s"plans/$tag/${name}_$suffix.txt"
        Files.writeString(Paths.get(out), plan(name))
        Caches.release(); spark.sqlContext.clearCache()
        println(s"[plandump] wrote $out")
      }
    } else {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of headline queries\n\n")
      sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. Things to check per plan:\n")
      sb.append("`PushedFilters`/`ReadSchema` at the scan, `BroadcastHashJoin` for dims,\n")
      sb.append("partial+final `HashAggregate` around a single `Exchange`,\n")
      sb.append("`TakeOrderedAndProject` for top-k, codegen `*(n)` spans.\n")
      for (name <- Headline)
        sb.append(s"\n## $name\n\n```\n").append(plan(name)).append("```\n")
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"[plandump] wrote PLANS.md (${Headline.size} plans)")
    }
    spark.stop()
  }
}

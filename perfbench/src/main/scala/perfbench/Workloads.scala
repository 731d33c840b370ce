package perfbench

import graft.queries.Q

/** One workload: the queries it runs, grouped by the module that
  * registers each, and the shuffle width it runs at. `names` picks the
  * queries out of the modules' registries; perfbench/README.md says why
  * each workload runs the ones it does. The engine sees only query names
  * and the data directory. */
final case class Workload(name: String, width: Int,
    registries: Seq[(String, Seq[Q])], names: Seq[String]) {
  val modules: Seq[(String, Seq[Q])] =
    registries.map { case (m, qs) => m -> qs.filter(q => names.contains(q.name)) }
      .filter(_._2.nonEmpty)
  require(modules.map(_._2.size).sum == names.size,
    s"$name: a query name is missing from the registries")
}

object Workloads {
  val olapMix: Workload = Workload("olap_mix", 8, Seq(
    "RefQueries" -> graft.queries.RefQueries.all,
    "RelOps" -> graft.queries.RelOps.all,
    "FuncOps" -> graft.queries.FuncOps.all,
    "ExtOps" -> graft.queries.ExtOps.all,
    "CdcOps" -> graft.queries.CdcOps.all,
    "SeqOps" -> graft.queries.SeqOps.all,
    "TemporalOps" -> graft.queries.TemporalOps.all,
    "TypedOps" -> graft.queries.TypedOps.all,
    "PartitionOps" -> graft.queries.PartitionOps.all),
    Seq("q1_weekly_units", "q2_top_products", "q3_top_suppliers",
      "q4_weekday_seasonality", "q_curate_clean", "q_semi_join",
      "q_agg_stats", "q_group_median", "q_exact_quantiles", "q_merge_upsert",
      "q_path_trigrams", "q_asof_join", "q_cogroup_orders",
      "q_bucketed_join"))

  val llmIndexServe: Workload = Workload("llm_index_serve", 32, Seq(
    "Dedup" -> graft.dedup.Dedup.all,
    "Similarity" -> graft.similarity.Similarity.all,
    "TextOps" -> graft.text.TextOps.all,
    "IndexOps" -> graft.text.IndexOps.all,
    "GraphOps" -> graft.graph.GraphOps.all,
    "Multimodal" -> graft.multimodal.Multimodal.all),
    Seq("q_minhash_lsh_pairs", "q_ann_ivf", "q_token_counts",
      "q_doc_sim_weighted", "q_pagerank", "q_image_dhash_pairs"))

  val streamIngest: Workload = Workload("stream_ingest", 32, Seq(
    "StreamOps" -> graft.streaming.StreamOps.all),
    Seq("q_stream_ann_ingest", "q_stream_hourly"))

  val all: Seq[Workload] = Seq(olapMix, llmIndexServe, streamIngest)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n'; known: ${all.map(_.name).mkString(", ")}"))
}

package perfbench

/** One benchmark workload: a fixed list of `graft.SparkEntry.queries`
  * entries, run over a corpus that `graft.tools.ScaleGenV2.generate`
  * builds from the run's seed at the sizes below.
  */
final case class Workload(name: String, queries: Seq[String], docs: Long,
                          vecs: Long, dupPct: Int, factScale: Long) {
  /** The generator arguments other than the seed: a cache key part. */
  def sizes: String = s"d${docs}_v${vecs}_p${dupPct}_f$factScale"
}

object Workloads {

  /** The layers per-layer metrics are charged to: the engine's packages
    * (`sources` = `graft.Tables` plus `graft.sources`). `functions` and
    * `multimodal` run inside these and show up in their task CPU;
    * `streaming` is in no workload, so it has no metrics.
    */
  val modules: Seq[String] =
    Seq("sources", "ops", "pipelines", "text", "neardup", "sim")

  /** Each workload query → the module its catalog entry calls at top
    * level. Entries that only read tables and apply DataFrame operators
    * are charged to `sources`.
    */
  val module: Map[String, String] = Map(
    "q01_iot_clean" -> "pipelines", "q29_support_efficiency" -> "pipelines",
    "q08_dedup_keep_first" -> "ops", "q11_upsert_merge" -> "ops",
    "q22_revenue_by_nation" -> "ops", "q36_csv_roundtrip" -> "sources",
    "q40_window_analytics" -> "sources", "q44_sink_truncate" -> "sources",
    "x02_jaccard_pairs" -> "neardup", "x86_bm25_wand" -> "text",
    "x05_cosine_topk" -> "sim")

  val all: Map[String, Workload] = Seq(
    // reference-parity ETL over the fact tables (events 10k, orders 15k,
    // lineitem ~60k rows): short queries, so per-query driver work
    // (planning, job and task scheduling) and the ops/pipelines/sources
    // code dominate; q36 and q44 write to disk. The corpus tables are
    // generated too (the generator always writes them), at a token size.
    Workload("etl_facts", Seq("q01_iot_clean", "q29_support_efficiency",
      "q08_dedup_keep_first", "q11_upsert_merge", "q22_revenue_by_nation",
      "q36_csv_roundtrip", "q40_window_analytics", "q44_sink_truncate"),
      docs = 200, vecs = 200, dupPct = 20, factScale = 10),
    // one generated corpus, three cost shapes: a corpus x corpus
    // exact-Jaccard pair self-join over a cached, df-capped shingle index,
    // auto-routed BM25 scoring of a fixed-count query sample, and a
    // broadcast cosine top-k over the embeddings
    Workload("corpus", Seq("x02_jaccard_pairs", "x86_bm25_wand",
      "x05_cosine_topk"), docs = 400, vecs = 200, dupPct = 20, factScale = 0),
  ).map(w => w.name -> w).toMap

  /** Problems with the workload definitions against the live catalog:
    * every workload query must be a catalog entry with an oracle and be
    * charged to a known module, and the module map must name only
    * workload queries — so a renamed entry fails the run loudly.
    */
  def problems(catalog: Set[String], oracles: Set[String]): Seq[String] = {
    val used = all.values.flatMap(_.queries).toSet
    all.values.toSeq.sortBy(_.name).flatMap { w =>
      w.queries.flatMap { q =>
        Seq(
          Option.when(!catalog(q))(s"${w.name}: $q is not a catalog entry"),
          Option.when(!oracles(q))(s"${w.name}: $q has no oracle"),
          Option.when(!module.get(q).exists(modules.contains))(
            s"${w.name}: $q is charged to no known module")).flatten
      } ++ Option.when(w.queries.distinct.size != w.queries.size)(
        s"${w.name}: a query is listed twice")
    } ++ (module.keySet -- used).toSeq.sorted
      .map(q => s"module map names $q, which no workload runs")
  }
}

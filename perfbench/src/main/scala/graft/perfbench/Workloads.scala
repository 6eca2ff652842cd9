package graft.perfbench

/** The benchmark's workloads: name lists only. Every pipeline is looked up
  * by name in the engine's own registries (`SparkEntry.queries` /
  * `SparkEntry.benchOnlyQueries`); no query code lives here.
  *
  * Each pipeline is charged to the engine module whose public function it
  * exercises, so the trace can report per-module layers.
  */
object Workloads {

  /** `nominalPassS` is about the wall of one timed pass on a quiet 4-core
    * host; it turns `--seconds` into a pass count that is the same on
    * every run. */
  final case class Workload(name: String, nominalPassS: Double, pipelines: Seq[(String, String)]) {
    def names: Seq[String] = pipelines.map(_._1)
    def module(pipeline: String): String = pipelines.find(_._1 == pipeline).get._2
  }

  /** Modules whose per-module metrics are reported; `streaming` has its own
    * layer metrics instead. */
  val Modules: Seq[String] = Seq(
    "GraftSession", "sql", "io", "ops", "checks",
    "functions.Dedup", "functions.Similarity", "functions.TextAnalysis",
    "functions.Sketch", "functions.LanguageModel")

  val Streaming = "streaming"

  // Two workloads, each run as long as the run budget allows: a third one
  // (`stream_drain`, the streams alone) left too little time per run for
  // steady medians, so one stream pipeline rides in `elt_ops`, which keeps
  // the streaming layer measured.
  val All: Seq[Workload] = Seq(
    Workload("elt_ops", 5.0, Seq(
      "q1_agg" -> "GraftSession",
      "op_transform_dialect_sf" -> "sql",
      "op_load_csv_roundtrip" -> "io",
      "op_profile_table" -> "ops",
      "op_check_column" -> "checks",
      "s_window_agg" -> Streaming)),
    Workload("curation", 4.2, Seq(
      "p_dedup_exact" -> "functions.Dedup",
      "p_embed_kmeans" -> "functions.Similarity",
      "p_tfidf_terms" -> "functions.TextAnalysis",
      "p_sketch_hll" -> "functions.Sketch",
      "p_lm_score" -> "functions.LanguageModel")))

  def byName(name: String): Option[Workload] = All.find(_.name == name)
}

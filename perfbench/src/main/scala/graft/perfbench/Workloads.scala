package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.queries.{CoreQueries, DedupQueries, PipelineQueries, Q, Registry}

/** An ingest-time artifact: a build the program memoizes per session and
  * input directory, and the registered queries that read it.
  */
final case class Artifact(name: String, consumers: Set[String],
                          build: (SparkSession, String) => Unit)

/** One workload: the registered queries it times, the artifacts it
  * builds, whether it is the write-path workload, and the nominal length
  * of one measured round (set-up and pass) on a 4-core host. A query
  * workload builds its artifacts in each round's set-up; the write path
  * times them as ops, and adds the retail rebuild.
  */
final case class Workload(name: String, queries: Seq[Q],
                          builds: Seq[Artifact], maintain: Boolean,
                          roundSeconds: Double) {

  /** Measured rounds of an untraced run: `seconds` over the nominal round
    * length, rounded, and at least three, so that each query's time is a
    * median of three or more executions. A fixed count, not a deadline, so
    * that every run measures the same rounds of the JIT warm-up curve
    * however fast the host is that minute.
    */
  def measuredRounds(seconds: Double): Int =
    math.max(3, math.round(seconds / roundSeconds).toInt)
}

object Workloads {

  /** The ingest-time builds the workloads use, in the order `graft.Bench`
    * runs them. Builds share nested memos, so this order is kept, never
    * permuted. Consumers are the workloads' queries that read each one.
    */
  val artifacts: Seq[Artifact] = Seq(
    Artifact("o12_cc_drive", Set("o12_incremental_cc", "pipe_corpus_release"),
      (s, d) => PipelineQueries.o12Warehouse(s, d): Unit),
    Artifact("eval_gram_index_build", Set("d16_bloom_decontam", "pipe_corpus_release"),
      (s, d) => DedupQueries.evalGramIndex(s, d): Unit),
    Artifact("bloom_bits_build", Set("d16_bloom_decontam"),
      (s, d) => DedupQueries.bloomStatics(s, d): Unit),
    Artifact("daily_rollup_build", Set("g6_monthly_summary"),
      (s, d) => CoreQueries.dailyCountryRollupShared(s, d): Unit))

  /** Each workload's registered queries. The lists are fixed subsets of
    * the three families (star-schema and events; documents and
    * embeddings; o-series maintained tables), sized so that one pass
    * takes a few seconds at the benchmark's input scale on a 4-core host.
    */
  val queryNames: Map[String, Seq[String]] = Map(
    "analytics" -> Seq("g3_global_multi_agg", "g6_monthly_summary",
      "p3_like_filter", "w2_lag_gap_check", "e1s_hourly_window_stream",
      "x2b_approx_count_distinct", "x7_column_profile",
      "pipe_monthly_summary"),
    "corpus" -> Seq("a1_ann_bruteforce", "a4b_ivf_train_iters",
      "d9_embedding_clusters", "d11b_semantic_dedup_trained",
      "d16_bloom_decontam", "t5_hash_split", "t8_repetition_quality",
      "t15_unicode_normalize"),
    "maintain" -> Seq("o3_ingest_dedup_sort", "o5_versioned_snapshot",
      "o7_scd2_dims", "o8_incremental_gram", "o12_incremental_cc",
      "pipe_corpus_release"))

  /** The builds the maintain workload times as ops: the o12 label drive
    * (CC rounds, Catalog commits, IncrementalCc folds) and the eval-gram
    * index, the two artifacts `pipe_corpus_release` reads.
    */
  val maintainBuilds: Seq[String] = Seq("o12_cc_drive", "eval_gram_index_build")

  /** Nominal seconds of one measured round, as measured at input scale
    * 0.01 on a 4-core host.
    */
  val roundSeconds: Map[String, Double] =
    Map("analytics" -> 6.0, "corpus" -> 6.0, "maintain" -> 15.0)

  def byName(name: String): Option[Workload] = queryNames.get(name).map { names =>
    val byQ = Registry.all.map(q => q.name -> q).toMap
    val qs = names.map(byQ)
    val maintain = name == "maintain"
    val builds =
      if (maintain) artifacts.filter(a => maintainBuilds.contains(a.name))
      else artifacts.filter(_.consumers.exists(names.toSet))
    Workload(name, qs, builds, maintain, roundSeconds(name))
  }
}

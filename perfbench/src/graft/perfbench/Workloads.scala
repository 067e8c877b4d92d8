package graft.perfbench

import graft.Q
import graft.operators._
import org.apache.spark.sql.SparkSession

/** One benchmark workload: the catalog queries it runs, the shared stages
  * it builds before them (in dependency order), the tables its queries
  * read, and whether each query's output is written as parquet (else the
  * action is a noop sink that still computes every row). */
final case class Workload(
    name: String,
    queries: Seq[Q],
    stages: Seq[String],
    tables: Seq[String],
    parquetSink: Boolean)

object Workloads {
  /** Shared-stage build hooks, in dependency order. */
  private val stageHooks: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      "stage_hashed_shingles" -> Dedup.materializeShingles,
      "stage_minhash_sigs" -> Dedup.materializeSigs,
      "stage_support2_pairs" -> Graph.materializeSupport2)

  val allStages: Seq[String] = stageHooks.map(_._1)

  def materialize(stage: String, spark: SparkSession, dir: String): Unit =
    stageHooks.find(_._1 == stage).get._2(spark, dir)

  /** Drop every shared-stage memo so the next pass rebuilds each stage. */
  def clearStages(): Unit = {
    Dedup.clearStageCaches()
    Graph.clearStageCaches()
    Similarity.clearPc1Cache()
    TextAnalysis.clearStageCaches()
  }

  private def pick(catalog: Seq[Q], names: String*): Seq[Q] =
    names.map(n => catalog.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no catalog query $n")))

  /** Small fixed subsets of their catalogs, so that a run of a fresh JVM,
    * whose first pass costs three to four steady passes, fits the
    * benchmark's time budget. In `dedup_graph` every stage has two
    * consumers: q34 and q35 both read the shingle and signature memos,
    * q192 and q197 both read the support-2 pairs. */
  val all: Map[String, Workload] = Seq(
    Workload("star_etl", pick(Relational.catalog ++ Stats.catalog ++
      StreamQueries.catalog,
      "q76_stream_tumbling", "q94_stream_dedup", "q01_star_fact",
      "q03_groupby_avg", "q11_census_star", "q170_cbo_join_reorder"), Nil,
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"), parquetSink = true),
    Workload("dedup_graph", pick(Dedup.catalog ++ Graph.catalog,
      "q34_dedup_ngram_jaccard", "q35_dedup_minhash", "q192_kcore",
      "q197_label_propagation"), allStages, Seq("documents", "lineitem"),
      parquetSink = false)
  ).map(w => w.name -> w).toMap
}

package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.graftshim.SchedulerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-hygiene inspector.
  *
  * `runMain graft.Explain [sfDir] [queryName...]` — prints
  * `explain("formatted")` for the named queries (or a representative
  * default set) so scan pushdown, broadcast choices, and
  * WholeStageCodegen spans can be reviewed.
  *
  * `runMain graft.Explain --audit [sfDir] [queryName...]` — one
  * summary line per query (all declared queries by default) and an
  * `AUDIT.json` record (`GRAFT_AUDIT_OUT` overrides the path). The
  * audit describes the plans that EXECUTED, in the production
  * configuration: checkpoints on, one warm pass (builds the
  * session-pinned spines and persisted indexes a query serves from),
  * then one measured pass through the noop sink — see [[audit]]. Its
  * counts cover every SQL execution the query runs, so the work inside
  * iterative loops (each round's `localCheckpoint`, loop-guard
  * `count`s) is audited where it runs; RDD-API actions are not SQL
  * executions and are not counted. Nested-loop joins outside the intended set
  * (broadcast grids, scalars, centroid assignment, and the documented
  * brute-force baselines) are flagged: a new query that silently plans
  * a cartesian shows up here before it shows up in the bench.
  */
object Explain {

  /** Queries whose nested-loop joins are by design. */
  private val intendedNlj = Set(
    "q10_yearly_grid",      // broadcast year-grid cross join
    "q28_cosine_topk",      // brute-force baseline: broadcast queries
    "q204_ann_sq8_topk",    // broadcast query-codes × compressed scan
    "q216_mmr_rerank",      // broadcast queries candidate gen (q28 shape)
    "q217_kcenter_coreset", // broadcast 1-row center × points (q42 shape)
    "q219_fk_census",       // 7× 1-row child-agg × 1-row parent-agg combine (q135 shape)
    "q220_walk_pmi",        // q160 walk-index grid + broadcast pair-total scalar (q158 shape)
    "q221_blocking_eval",   // 3× 1-row metric scalar combines (q135 shape)
    "q222_embedding_drift", // broadcast 1-row corpus-total scalar (q42 shape)
    "q225_markov_attribution", // variants×states domain grid + 1-row baseline (q117/q42 shapes)
    "q227_anf_diameter",    // broadcast 1-row N(3) total scalar (q42 shape)
    "q228_shapley_attribution", // ≤2^k-row coalition-grid containment probes
    "q229_rfm_segments",    // broadcast 1-row customer-count scalar (q42 shape)
    "q230_lorenz_deciles",  // broadcast 1-row (n, total) scalar (q42 shape)
    "q231_revenue_gini",    // broadcast 1-row (n, total) scalar (q42 shape)
    "q232_cusum_changepoint", // broadcast 1-row total + |max| scalars (q42 shape)
    "q233_benford_census",  // broadcast 1-row corpus-count scalar (q42 shape)
    "q259_sample_allocation", // broadcast mass-total + seats-left scalars (q42 shape)
    "q235_knn_label_agreement", // exact all-pairs candidate sweep (q28/q56 shape)
    "q243_skew_audit",      // broadcast 1-row totals scalar (q42 shape)
    "q263_abstract_invindex", // broadcast 1-row n_docs scalar (q42 shape)
    "q265_profile_journey",   // 2× broadcast 7-row year-grid densify (q10 shape)
    "q278_profile_dense",     // same 2× 7-row year-grid, dense %17 snapshot (q265 shape)
    "q267_decision_stump",    // broadcast 1-row bounds + totals scalars (q162/q42 shape)
    "q268_stump_eval",        // broadcast 1-row bounds + 1-row model scalars (q162/q42 shape)
    "q269_feature_importance", // broadcast 1-row bounds scalar (q162/q42 shape)
    "q270_pr_curve",          // broadcast 1-row bounds + positives-total scalars (q162/q42 shape)
    "q271_rater_kappa",       // broadcast 1-row bounds scalar (q162/q42 shape)
    "q272_mcnemar_compare",   // broadcast 1-row bounds scalar (q162/q42 shape)
    "q246_ks_drift",        // broadcast 1-row group-totals scalars (q42 shape)
    "q247_exact_auc",       // broadcast 1-row group-totals scalar (q42 shape)
    "q248_lift_curve",      // broadcast 1-row (n, conv) totals scalar (q42 shape)
    "q236_conductance",     // broadcast 1-row edge-count scalar (q165 shape)
    "q237_knn_reciprocity", // 1-row count × 1-row count combine (q135 shape)
    "q149_ann_projected",   // projected brute-force baseline (q28 shape)
    "q42_important_parts",  // broadcast global-total scalar
    "q214_dataset_card",    // broadcast 1-row metric scalars (q42 shape)
    "q51_ann_ivf_topk",     // broadcast centroid assignment
    "q72_embed_neardup_ivf", // broadcast centroid assignment (same as q51)
    "q56_embed_neardup",    // exact all-pairs baseline (documented)
    "q66_tfidf_topterms",   // broadcast corpus-size scalar
    "q250_citation_context_terms", // broadcast token-total scalar (q66 shape)
    "q86_weighted_sample",  // broadcast total-weight scalar (q42 shape)
    "q88_bm25_topterms",    // broadcast corpus-stats scalar (q66 shape)
    "q98_citation_pagerank", // broadcast dangling-mass scalar, 1 row/round
    "q104_citation_hits",   // broadcast L1-total scalar, 1 row/half-round
    "q105_citation_pagerank_weighted", // dangling scalar (q98 shape)
    "q143_personalized_pagerank", // dangling scalar (q98 shape)
    "q117_grouped_quantiles", // broadcast groups(≤5)×probs(4) target grid
    "q118_bpe_budget",      // broadcast corpus-total scalar (q42 shape)
    "q119_ann_ivf_indexed", // broadcast centroid probe assignment (q51 shape)
    "q252_ivf_append_serve", // broadcast centroid probe assignment (q119 shape)
    "q261_semantic_contamination", // broadcast centroid probe assignment (q119 shape)
    "q120_quantile_sketch", // broadcast 1-row sketch scalar (q42 shape)
    "q121_bloom_join",      // broadcast 1-row Bloom-filter scalar (q42 shape)
    "q124_mixture_sample",  // broadcast budget + weight-total scalars
    "q194_customer_frontier", // broadcast prune-vector scalar (q42 shape)
    "q125_ann_pq_topk",     // broadcast codebook/ADC-table assignment (q51 shape)
    "q126_token_mixture",   // broadcast token-total + weight-total scalars
    "q146_language_mixture", // broadcast token/weight-total scalars (q126 shape)
    "q152_tfidf_neardup",   // broadcast doc-count scalar (q42 shape)
    "q153_kmv_source_ops",  // broadcast source-name pair grid (20 rows)
    "q154_quality_curriculum", // broadcast doc-count scalar (q42 shape)
    "q155_temperature_mixture", // broadcast token/weight-total scalars (q126 shape)
    "q157_random_walks",    // broadcast walk-index grid (2 rows)
    "q158_pmi_collocations", // broadcast bigram-total scalar (q42 shape)
    "q160_node2vec_walks",  // broadcast walk-index grid (q157 shape)
    "q162_equiwidth_histogram", // broadcast min/max scalar (q42 shape)
    "q163_ab_test",         // 1-row variant x 1-row variant combine (q135 shape)
    "q165_modularity",      // broadcast edge-count scalar (q42 shape)
    "q174_dist_drift",      // broadcast range/total scalars (q162 shape)
    "q175_bm25_indexed",    // broadcast 1-row corpus-stats scalar (q88 shape)
    "q212_bm25_incremental", // broadcast 1-row corpus-stats scalar (q88 shape)
    "q176_copurchase_rules", // broadcast order-count scalar (q42 shape)
    "q184_quantile_normalize", // broadcast total-count scalar (q42 shape)
    "q178_ivf_quality",     // broadcast centroid assignment (q51 shape)
    "q167_rank_fusion",     // broadcast corpus-stats + query-vector scalars (q88 shape)
    "q127_ann_ivfpq_topk",  // broadcast centroid + codebook assignment (q51 shape)
    "q135_cm_join_size",    // 1-row est x 1-row exact scalar combine
    "q188_communities_refined", // broadcast m + Q_int flag scalars (q42 shape)
    "q251_louvain_multilevel", // broadcast m/flag/self-loop scalars (q188 shape)
    "q196_ann_recall_at_k", // brute-force exact side (q28) + centroid assignment (q51)
    "q197_ann_ndcg_at_k",   // brute-force exact side (q28) + centroid assignment (q51)
    "q211_ann_mrr_at_k",    // brute-force exact side (q28) + centroid assignment (q51)
    "q215_hard_negatives")  // brute-force exact side (q28) + centroid assignment (q51)

  /** One query's audit: node counts over the AQE-final physical plans
    * of every SQL execution of the measured pass, plus its jobs and
    * stages. `warmNlj` is the nested-loop-join count of the warm pass.
    * `singlePartitionWindows` counts `WindowExec` nodes with an empty
    * partition spec — one task sees every row (recorded, not gated).
    * Skipped stages were planned but never submitted (AQE exchange
    * reuse, already-computed checkpoint parents). */
  final case class Audit(executions: Int, shuffles: Int, bhj: Int,
                         smj: Int, shj: Int, nlj: Int, warmNlj: Int,
                         singlePartitionWindows: Int, jobs: Int,
                         stages: Int, stagesSkipped: Int, stagesFailed: Int,
                         stageRetries: Int, ok: Boolean, nljIntended: Boolean) {
    def unintendedNlj: Boolean = (nlj > 0 || warmNlj > 0) && !nljIntended
    /** This query's AUDIT.json object. */
    def json: String = Seq("executions" -> executions,
      "shuffles" -> shuffles, "bhj" -> bhj, "smj" -> smj, "shj" -> shj,
      "nlj" -> nlj, "warm_nlj" -> warmNlj, "nlj_intended" -> nljIntended,
      "unintended_nlj" -> unintendedNlj,
      "single_partition_windows" -> singlePartitionWindows,
      "rt_jobs" -> jobs, "rt_stages" -> stages,
      "rt_stages_skipped" -> stagesSkipped,
      "rt_stages_failed" -> stagesFailed, "rt_stage_retries" -> stageRetries,
      "rt_ok" -> ok).map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
  }

  /** The audit's single listener: plan census from the
    * `QueryExecutionListener` callbacks, job/stage counts from the
    * scheduler events. Both arrive on the listener bus, which the
    * caller drains before reading. */
  private final class Census extends SparkListener
      with QueryExecutionListener with AdaptiveSparkPlanHelper {
    val executions, shuffles, bhj, smj, shj, nlj, windows1, jobs,
      attempts, completedOk, failed = new AtomicInteger
    private val plannedIds = ConcurrentHashMap.newKeySet[Int]()
    private val submittedIds = ConcurrentHashMap.newKeySet[Int]()

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      executions.incrementAndGet()
      // collect() walks the FINAL adaptive plan (query stages
      // included); the plan's string would also print the initial one
      collectWithSubqueries(qe.executedPlan) { case p => p }.foreach {
        case _: ShuffleExchangeLike => shuffles.incrementAndGet()
        case _: BroadcastHashJoinExec => bhj.incrementAndGet()
        case _: SortMergeJoinExec => smj.incrementAndGet()
        case _: ShuffledHashJoinExec => shj.incrementAndGet()
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
          nlj.incrementAndGet()
        case w: WindowExec if w.partitionSpec.isEmpty =>
          windows1.incrementAndGet()
        case _ =>
      }
    }
    // failed executions are not counted; a query that fails reports
    // ok = false
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      js.stageInfos.foreach(si => plannedIds.add(si.stageId))
    }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
      attempts.incrementAndGet()
      submittedIds.add(ss.stageInfo.stageId)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (sc.stageInfo.failureReason.isEmpty) completedOk.incrementAndGet()
      else failed.incrementAndGet()

    def result(ok: Boolean, warmNlj: Int, nljIntended: Boolean): Audit =
      Audit(executions.get, shuffles.get, bhj.get, smj.get, shj.get,
        nlj.get, warmNlj, windows1.get, jobs.get, completedOk.get,
        plannedIds.size - submittedIds.size, failed.get,
        attempts.get - submittedIds.size, ok, nljIntended)
  }

  /** Audit one query the way Bench runs it: a warm pass, then a
    * measured pass through the noop sink, then `Checkpoints.releaseAll`.
    * Each pass has its own [[Census]]. The audit reports the measured
    * pass; of the warm pass it keeps only the nested-loop-join count,
    * because first-toucher builds (session-pinned spines, persisted
    * indexes) execute there and nowhere else. `build` is called once
    * per pass (checkpoints inside it execute at build time, so they
    * are part of that pass). */
  def audit(spark: SparkSession, name: String,
            build: SparkSession => DataFrame): Audit = {
    val sc = spark.sparkContext
    def pass(label: String): (Census, Boolean) = {
      SchedulerBridge.drainListenerBus(sc) // no earlier event leaks in
      val c = new Census
      sc.addSparkListener(c)
      spark.listenerManager.register(c)
      val ok =
        try {
          build(spark).write.format("noop").mode("overwrite").save()
          true
        } catch { case NonFatal(e) =>
          System.err.println(s"[audit] $name $label pass FAILED: ${e.getMessage}")
          false
        } finally {
          SchedulerBridge.drainListenerBus(sc)
          spark.listenerManager.unregister(c)
          sc.removeSparkListener(c)
        }
      (c, ok)
    }
    val (warm, _) = pass("warm")
    val (c, ok) = try pass("measured") finally Checkpoints.releaseAll(spark)
    c.result(ok, warm.nlj.get, intendedNlj(name))
  }

  private def auditAll(spark: SparkSession, sfDir: String,
                       names: Seq[String]): Unit = {
    val audits = names.map { n =>
      val a = audit(spark, n, SparkEntry.queries(n)(_, sfDir))
      val flag = if (a.unintendedNlj) "  <-- UNINTENDED NLJ" else ""
      println(f"[audit] $n%-28s exec=${a.executions}%-4d " +
        f"shuf=${a.shuffles}%-4d bhj=${a.bhj}%-4d smj=${a.smj}%-3d " +
        f"shj=${a.shj}%-3d nlj=${a.nlj}%-3d warm_nlj=${a.warmNlj}%-3d " +
        f"win1=${a.singlePartitionWindows}%-2d " +
        f"jobs=${a.jobs}%-4d stages=${a.stages}%-4d" +
        (if (a.ok) "" else " FAILED") + flag)
      n -> a
    }
    val flagged = audits.count(_._2.unintendedNlj)
    println(s"[audit] ${names.size} queries, $flagged unintended nested-loop plans")
    val rows = audits.map { case (n, a) => s""""$n": ${a.json}""" }
    val out = sys.env.getOrElse("GRAFT_AUDIT_OUT", "AUDIT.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      rows.mkString(s"""{"sf": "$sfDir", "plans": "executed", """ +
        s""""unintended_nlj_total": $flagged, "queries": {""", ",\n", "}}"))
  }

  def main(args: Array[String]): Unit = {
    val isAudit = args.headOption.contains("--audit")
    val rest = if (isAudit) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else if (isAudit) SparkEntry.queries.keys.toSeq.sorted
      else Seq("q01_pricing_summary", "q03_topk_revenue", "q05_region_volume",
        "q15_cosupply_edges", "q28_cosine_topk")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (isAudit) auditAll(spark, sfDir, names)
    else names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

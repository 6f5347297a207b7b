package graft

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Min
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The driver registry and the plan shapes README claims, asserted on
  * the initial (pre-execution) AQE plan at sf0.001: every x_* facet is a
  * projection pushed into the one cached extraction run, so its
  * in-memory scan must read only the facet's columns; t16 never builds a
  * pair join; t17 broadcasts its budgets table; s4 shuffles only for
  * its top-k window and final sort. t7's result is a checkpoint scan, so
  * its pin reads the executed plans of the jobs t7 runs instead.
  */
class SparkEntrySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(4)

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def cacheScanColumns(name: String): Seq[Set[String]] =
    plan(name).collect { case s: InMemoryTableScanExec => s.output.map(_.name).toSet }

  private def joins(name: String): Seq[BaseJoinExec] =
    plan(name).collect { case j: BaseJoinExec => j }

  test("registry: the 95 query names, and every oracle names a query") {
    val expected = Set(
      "m1_media_stats", "m2_image_meta", "m3_frame_sample", "m4_resize_plan",
      "m5_audio_features", "q10_semi_join", "q11_setops", "q12_salted_agg",
      "q13_sessions", "q14_cube", "q15_percentiles", "q16_windowed_events",
      "q17_sql_surface", "q18_stream_sessions", "q1_agg", "q2_join_topk",
      "q3_multi_join", "q4_window", "q5_filter_distinct", "q6_events_agg",
      "q7_rollup", "q8_asof_join", "q9_anti_join", "s1_cosine_topk", "s2_lsh_topk",
      "s3_label_centroids", "s4_ivf_topk", "s5_embedding_groups", "s6_ivf_recall",
      "s7_lsh_ann_recall", "s8_ivf_recall_clustered", "s9_quantize_int8",
      "t10_dup_groups", "t11_corpus_select", "t12_lsh_recall", "t13_rolling_fp",
      "t14_simhash_dedup", "t15_simhash_groups", "t16_contamination",
      "t17_token_budget", "t18_curation_funnel", "t19_stream_dedup",
      "t1_token_count", "t20_stream_dedup_bounded", "t21_repetition",
      "t2_quality_score", "t3_lang_id", "t4_fingerprint", "t5_dedup_exact",
      "t6_ngram_jaccard", "t7_minhash_lsh", "t8_simhash", "t9_embedding_dedup",
      "x_big_canonical_core", "x_big_entities_core", "x_canonical_core",
      "x_canonical_entities", "x_classify", "x_content_flags", "x_csv_spans",
      "x_disambig_core", "x_disambig_global", "x_discoveries_core",
      "x_discovery_learn_core", "x_domain_entities", "x_entities",
      "x_entities_core", "x_entity_edges", "x_entity_edges_core", "x_fact_summary",
      "x_fact_summary_core", "x_facts", "x_facts_core", "x_fallback_spans",
      "x_global_core", "x_global_entities", "x_html_spans", "x_keywords",
      "x_knowledge_core", "x_knowledge_json", "x_markdown", "x_markdown_core",
      "x_mention_context_core", "x_normalized_core", "x_normalized_text",
      "x_office_entities", "x_office_facts", "x_office_spans", "x_pdf_spans",
      "x_rejects", "x_stream_entities", "x_stream_spans", "x_tags_meta",
      "x_text_spans", "x_typed_facts_core")
    assert(expected.size == 95)
    assert(SparkEntry.queries.keySet == expected)
    assert(SparkEntry.oracleSql.size == 86)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("facet cache scans are pruned to the facet's columns") {
    val pins = Seq(
      "x_facts_core" -> Set("doc_id", "facts"),
      "x_office_facts" -> Set("doc_id", "facts"),
      "x_fact_summary_core" -> Set("doc_id", "facts"),
      "x_canonical_core" -> Set("doc_id", "canonical_entities"),
      "x_normalized_core" -> Set("doc_id", "entities", "spans"),
      "x_typed_facts_core" -> Set("doc_id", "spans"),
      "x_entities_core" -> Set("doc_id", "entities"))
    pins.foreach { case (name, cols) =>
      assert(cacheScanColumns(name) == Seq(cols), name)
    }
  }

  test("t16 contamination is a semi-join plus aggregates, never a pair join") {
    val js = joins("t16_contamination")
    assert(js.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      js.map(_.nodeName).mkString(", "))
    assert(js.map(_.joinType).toSet == Set(LeftOuter, LeftSemi))
  }

  test("t17 broadcasts the budgets table") {
    assert(joins("t17_token_budget").exists(j =>
      j.isInstanceOf[BroadcastHashJoinExec] && j.joinType == Inner))
  }

  test("s4 IVF top-k: the window's q_id exchange and the final sort's, nothing else") {
    val p = plan("s4_ivf_topk")
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, p.treeString)
    // the first exchange below the window, past its sort and group limit
    def firstExchange(n: SparkPlan): SparkPlan = n match {
      case _: SortExec | _: WindowGroupLimitExec => firstExchange(n.children.head)
      case other => other
    }
    val window = p.collectFirst { case w: WindowExec => w }.get
    firstExchange(window.child) match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.collect { case a: Attribute => a.name } == Seq("q_id"), p.treeString)
        case other => fail(s"window exchange is $other")
      }
      case _ => fail(s"no exchange directly under the window:\n${p.treeString}")
    }
    assert(exchanges.count(_.outputPartitioning.isInstanceOf[RangePartitioning]) == 1, p.treeString)
  }

  /** `p` and every node below it, through AQE stages and cached plans. */
  private def subtree(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => subtree(a.executedPlan)
    case q: QueryStageExec => subtree(q.plan)
    case r: ReusedExchangeExec => subtree(r.child)
    case m: InMemoryTableScanExec => subtree(m.relation.cachedPlan)
    case _ => p.children.flatMap(subtree)
  })

  test("t7 runs the exact-dup keepers semi-join before the MinHash signatures") {
    // a child session: t7's pair memo is per session, so its jobs run here
    val s = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    SparkEntry.queries("t7_minhash_lsh")(s, dir)
    // the signature aggregates: mins over the shingle hash `h`
    def signatureAggs: Seq[BaseAggregateExec] = plans.toArray(Array.empty[SparkPlan]).toSeq
      .flatMap(subtree).collect {
        case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
            a.aggregateExpressions.forall(_.aggregateFunction match {
              case m: Min => m.child.references.exists(_.name == "h")
              case _ => false
            }) => a
      }
    val deadline = System.nanoTime() + 60L * 1000000000L // listener events arrive async
    while (signatureAggs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val aggs = signatureAggs
    assert(aggs.nonEmpty, s"no signature aggregate in ${plans.size} captured plans")
    aggs.foreach { a =>
      // one aggregate feeds every band: none is pruned to one band's mins
      assert(a.aggregateExpressions.size == graft.textops.TextOps.NumHashes, a.treeString)
      assert(subtree(a).exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, a.treeString)
    }
  }
}

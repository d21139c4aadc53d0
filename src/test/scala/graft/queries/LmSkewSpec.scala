package graft.queries

import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In,
  InSet, Literal, Not}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.{LmModel, LmSpec}

/** Skew evidence for the n-gram score join of [[LmSpec.score]]: (a) the
  * vocabulary side broadcasts under the default config, so a hot key
  * never shuffles into a skewed partition; (b) when it cannot
  * broadcast, no hot key reaches the shuffled join; (c) the hot-key
  * split never changes a score. Asserted on the plans that ran
  * ([[executedPlans]]): the returned frame is checkpointed. */
class LmSkewSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus with one pathologically hot token: ~half of all token
    * occurrences are the same word, the rest unique fillers — the
    * "the"-at-100-TB shape compressed into a spec. */
  private def hotCorpus(nDocs: Int, tokensPerDoc: Int) =
    spark.range(nDocs.toLong).select(col("id").as("doc_id"),
      concat_ws(" ",
        (0 until tokensPerDoc).map(j =>
          if (j % 2 == 0) lit("hot")
          else concat(lit("w"), col("id") * tokensPerDoc + j)): _*)
        .as("text"))

  /** Every node of `p`, descending into AQE and query-stage plans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o.children.flatMap(nodes)
  })

  /** The result's plan: the last action is the checkpoint. */
  private def resultPlan(spec: LmSpec, docs: org.apache.spark.sql.DataFrame) =
    executedPlans(LmSpec.score(spec, docs))._2.last

  test("default config: the vocab side of the lm-score join " +
      "broadcasts (no skewable shuffle on the hot token)") {
    val plan = resultPlan(LmSpec(LmModel.Unigram),
      graft.Tables.documents(spark, sf0001)).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join must broadcast under defaults:\n${plan.take(4000)}")
  }

  test("broadcast disabled: hot keys take the literal lookup and the " +
      "shuffled join's input excludes them") {
    // MEASURED FINDING (this spec's earlier form): with the vocab
    // broadcast suppressed and AQE skew thresholds scaled to corpus
    // size (factor 2.0, threshold 32kb, advisory 16kb), AQE did NOT
    // split the hot token's partition — the SMJ's vocab child is a
    // HashAggregate over the shuffle, not a raw AQEShuffleRead, so
    // OptimizeSkewedJoin's pattern cannot match this operator's
    // shape. Hence LmSpec's deterministic hot-key split, whose plan
    // shape is asserted here under the same adversarial config.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    def excludesHot(e: Expression): Boolean = e match {
      case Not(EqualTo(_, Literal(v, _))) => String.valueOf(v) == "hot"
      case Not(In(_, list)) =>
        list.exists(l => String.valueOf(l.eval()) == "hot")
      case Not(InSet(_, set)) => set.exists(v => String.valueOf(v) == "hot")
      case _ => e.children.exists(excludesHot)
    }
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "32kb")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16kb")
      // hotThreshold 1000 < the 8000 "hot" occurrences → the split fires
      val plan = resultPlan(LmSpec(LmModel.Unigram, hotThreshold = 1000L),
        hotCorpus(400, 40))
      val text = plan.toString
      // hot branch: a plan-literal lookup, unioned with the cold join
      assert(text.contains("Union") && !text.contains("BroadcastHashJoin"),
        s"literal hot branch + union expected:\n${text.take(4000)}")
      val smjs = nodes(plan).collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"cold branch must shuffle:\n${text.take(4000)}")
      for (j <- smjs)
        assert(nodes(j.left).exists {
          case f: FilterExec => excludesHot(f.condition)
          case _ => false
        }, s"shuffled join input keeps the hot key:\n${j.treeString.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("hot-key bypass is semantics-preserving: threshold extremes " +
      "agree for every LmSpec model") {
    val corpus = hotCorpus(120, 30)
    for (model <- Seq(LmModel.Unigram, LmModel.AddOneBigram, LmModel.KneserNey)) {
      def rows(t: Long) = LmSpec.score(LmSpec(model, t), corpus)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      // Long.MaxValue → nothing is hot (one plain join); 1 → every
      // n-gram takes the literal lookup; 2 and 1000 split the unigram
      // "hot" token off
      val plain = rows(Long.MaxValue)
      for (t <- Seq(1L, 2L, 1000L))
        assert(rows(t) == plain, s"$model differs at hotThreshold $t")
    }
  }
}

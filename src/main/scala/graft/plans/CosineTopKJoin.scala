package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Whole-operator Catalyst extension (SURVEY.md §4.3 ladder rung (c)):
  * a logical cosine-top-k join node, a planner strategy, and a physical
  * operator — the full custom-operator path for semantics the relational
  * operators can't plan well. The DataFrame composition of top-k
  * (cross-score + window) shuffles |corpus|·|queries| scored rows; this
  * operator broadcasts the bounded query batch, keeps per-partition
  * bounded heaps over the corpus scan, and merges k·|Q|·partitions
  * candidates in a final bounded step — the corpus is never shuffled.
  *
  * Children contract (enforced by the [[graft.operators.Similarity]]
  * entry point that builds this node): both children project exactly
  * (id: long, vec: array<float>).
  */
case class CosineTopKJoin(queries: LogicalPlan, corpus: LogicalPlan, k: Int,
                          // output attrs are CONSTRUCTOR state, not a val:
                          // tree copies must keep the same expr-ids or every
                          // downstream reference dangles
                          output: Seq[Attribute] = CosineTopKJoin.defaultOutput())
    extends BinaryNode {

  override def left: LogicalPlan = queries
  override def right: LogicalPlan = corpus

  // the output attrs are generated BY this node, not passed through from
  // children — without this the analyzer reports MISSING_ATTRIBUTES
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // the physical operator reads EVERY child column positionally; without
  // declaring that, ColumnPruning legally rewrites the children to empty
  // projections (references would be ∅) and execution reads off the end
  // of 0-field rows — a hard JVM crash, not an error
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(queries.output ++ corpus.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): CosineTopKJoin =
    copy(queries = newLeft, corpus = newRight)
}

object CosineTopKJoin {
  def defaultOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("neighbour_id", LongType, nullable = false)(),
    AttributeReference("cosine_sim", DoubleType, nullable = false)())
}

/** Planner strategy: installed by [[graft.expressions.GraftExtensions]]
  * (every [[graft.GraftSession.local]] session) or
  * [[graft.expressions.GraftFunctions.register]].
  */
object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopKJoin(q, c, k, out) =>
      CosineTopKExec(planLater(q), planLater(c), k, out) :: Nil
    case _ => Nil
  }
}

/** Physical operator: collect+broadcast the (bounded) query batch, scan
  * the corpus once with per-(query, partition) bounded heaps, coalesce
  * the k·|Q|·partitions candidates into one bounded merge task.
  */
case class CosineTopKExec(queries: SparkPlan, corpus: SparkPlan, k: Int,
                          output: Seq[Attribute])
    extends SparkPlan with BinaryExecNode {

  override def left: SparkPlan = queries
  override def right: SparkPlan = corpus

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numQueries" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of query vectors"),
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val outRows = longMetric("numOutputRows")
    val qRows: Array[(Long, Array[Float])] = queries.executeCollect().map { r =>
      (r.getLong(0), r.getArray(1).toFloatArray())
    }
    longMetric("numQueries").set(qRows.length)
    val bc = sparkContext.broadcast(qRows)
    val types = output.map(_.dataType).toArray

    val partial = corpus.execute().mapPartitions { iter =>
      val qs = bc.value
      CosineTopKExec.localTopK(kLocal, iter.flatMap { row =>
        // extract primitives immediately: execute() reuses mutable rows
        val cid = row.getLong(0)
        val cv = row.getArray(1).toFloatArray()
        var nb = 0.0; var i = 0
        while (i < cv.length) { nb += cv(i).toDouble * cv(i); i += 1 }
        val nbSqrt = math.sqrt(nb)
        // dim-mismatched pairs are skipped — same null-on-mismatch contract
        // as the cosine Expression, lifted into a ranking
        qs.iterator.filter(q => q._1 != cid && q._2.length == cv.length).map { case (qid, qv) =>
          var dot = 0.0; var na = 0.0; var j = 0
          while (j < qv.length) {
            dot += qv(j).toDouble * cv(j); na += qv(j).toDouble * qv(j); j += 1
          }
          (qid, cid, dot / (math.sqrt(na) * nbSqrt))
        }
      })
    }
    // bounded final merge: k·|Q|·numPartitions candidate rows in one task
    partial.coalesce(1).mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(types)
      CosineTopKExec.localTopK(kLocal, it).map { case (qid, cid, sim) =>
        outRows += 1
        proj(InternalRow(qid, cid, sim)).copy()
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): CosineTopKExec =
    copy(queries = newLeft, corpus = newRight)
}

object CosineTopKExec {
  private type Cand = (Double, Long)
  // (-sim, id): "least" = best; PriorityQueue keeps the WORST on top, so
  // eviction preserves the (sim desc, id asc) output ordering exactly
  private val heapOrd: Ordering[Cand] = Ordering.by { case (sim, id) => (-sim, id) }

  /** Exact per-group top-k with bounded memory (k per group). */
  def localTopK(k: Int, it: Iterator[(Long, Long, Double)]): Iterator[(Long, Long, Double)] = {
    val heaps = scala.collection.mutable.LongMap.empty[scala.collection.mutable.PriorityQueue[Cand]]
    it.foreach { case (qid, cid, sim) =>
      val h = heaps.getOrElseUpdate(qid,
        scala.collection.mutable.PriorityQueue.empty[Cand](heapOrd))
      if (h.size < k) h.enqueue((sim, cid))
      else if (heapOrd.lt((sim, cid), h.head)) { h.dequeue(); h.enqueue((sim, cid)) }
    }
    heaps.iterator.flatMap { case (qid, h) =>
      h.iterator.map { case (sim, cid) => (qid, cid, sim) }
    }
  }
}

package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** A batch's ranked hits as one Catalyst leaf that holds the merged
  * [[TopK.Block]] itself — the reference's flat `TopKId` answer arrays
  * (PAPER.md §1.1) — with the [[Hit]] schema (all columns non-nullable)
  * and rows in (query_id, rank) order. A `LocalRelation` of the nq·k rows
  * would hand every analyzer, optimizer and planner rule a row list to
  * rebuild; this leaf has none. Self-joins get fresh attribute ids
  * through [[newInstance]]. */
final case class HitsRelation(output: Seq[Attribute], top: TopK.Block)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = Statistics(
    sizeInBytes = BigInt(HitsRelation.RowBytes) * top.docs.length,
    rowCount = Some(top.docs.length))
  override protected def stringArgs: Iterator[Any] = HitsRelation.describe(output, top)
}

/** The physical scan of a [[HitsRelation]]. `collect` and `take` write
  * `UnsafeRow`s straight from the block's arrays and start no job; other
  * consumers (`count`, joins, writes) read one partition holding the
  * block. */
final case class HitsScanExec(output: Seq[Attribute], top: TopK.Block) extends LeafExecNode {
  override def executeCollect(): Array[InternalRow] = HitsRelation.rows(top).toArray
  override def executeTake(limit: Int): Array[InternalRow] =
    HitsRelation.rows(top).take(limit).toArray
  protected override def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(Seq(top), 1).flatMap(HitsRelation.rows)
  override protected def stringArgs: Iterator[Any] = HitsRelation.describe(output, top)
}

object HitsRelation {
  /** An `UnsafeRow` of the four fixed-width hit columns: one null-bit
    * word and four 8-byte slots. */
  private val RowBytes: Int = UnsafeRow.calculateBitSetWidthInBytes(4) + 4 * 8

  /** `explain` shows the row count, not the block's identity hash. */
  private[graft] def describe(output: Seq[Attribute], top: TopK.Block): Iterator[Any] =
    Iterator(output, s"${top.docs.length} rows")

  private[graft] def rows(top: TopK.Block): IndexedSeq[InternalRow] =
    top.ranked { (q, rank, doc, score) =>
      val r = UnsafeRow.createFromByteArray(RowBytes, 4)
      r.setInt(0, q.toInt); r.setInt(1, rank); r.setLong(2, doc); r.setLong(3, score)
      r
    }

  private object Planner extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case HitsRelation(output, top) => HitsScanExec(output, top) :: Nil
      case _ => Nil
    }
  }

  /** `top` as a DataFrame (query_id, rank, doc_id, score_micro) over one
    * [[HitsRelation]]. Registers the relation's planner strategy on the
    * session at its first use. */
  def toDF(spark: SparkSession, top: TopK.Block): DataFrame = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(Planner)) ex.extraStrategies = Planner +: ex.extraStrategies
    }
    GraftFrames.ofRows(spark, HitsRelation(Seq(
      AttributeReference("query_id", IntegerType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)(),
      AttributeReference("doc_id", LongType, nullable = false)(),
      AttributeReference("score_micro", LongType, nullable = false)()), top))
  }
}

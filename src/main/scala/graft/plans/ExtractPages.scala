package graft.plans

import graft.pipeline.{DocRow, Extract}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The extraction operator as a first-class Catalyst citizen: a custom
  * `LogicalPlan` node + `SparkStrategy` + physical `SparkPlan`, registered
  * through `SparkSessionExtensions` (pattern: public SparkSessionExtensions
  * examples, SNIPPETS.md [1]). It is the only physical parse operator —
  * the batch pipeline ([[Extract.extractBucket]]), streaming ingest and
  * [[ExtractPages.extract]] all plan through it.
  *
  * `ExtractPages(child, cfg, bucket)` consumes a child relation carrying
  * (url STRING, html BINARY, text STRING) — the BASELINE.json input_hint
  * payload columns — and produces one [[DocRow]] per url. Because the node
  * declares exactly those three references, Catalyst column-prunes the
  * child scan down to them when a projection sits above the node, and
  * pushes child filters below it.
  */
case class ExtractPages(
    child: LogicalPlan, cfg: Extract.Config, bucket: Int,
    // output lives in the constructor so plan copies (withNewChildInternal
    // during optimizer rewrites) keep STABLE expression ids — regenerating
    // attributes per instance breaks parent references at binding time
    override val output: Seq[Attribute] = ExtractPages.freshOutput()) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def references: AttributeSet =
    AttributeSet(child.output.filter(a => ExtractPages.inputCols(a.name)))
  override protected def withNewChildInternal(newChild: LogicalPlan): ExtractPages =
    copy(child = newChild)
}

object ExtractPages {
  private[plans] val inputCols = Set("url", "html", "text")

  /** Output schema and row serialization both come from the [[DocRow]]
    * encoder, so the node's rows are exactly what a `Dataset[DocRow]`
    * would write.
    */
  private[plans] val encoder: ExpressionEncoder[DocRow] = ExpressionEncoder[DocRow]()

  def freshOutput(): Seq[Attribute] = encoder.schema.map(f =>
    AttributeReference(f.name, f.dataType, f.nullable)())

  /** Column-API entry: wrap a pages DataFrame in the logical node (no
    * repartition). The session must have the strategy registered
    * ([[GraftExtensions]] via spark.sql.extensions, or [[register]] on a
    * live session).
    */
  def extract(pages: DataFrame, cfg: Extract.Config = Extract.Config(),
              bucket: Int = 0): DataFrame =
    GraftBridge.ofRows(pages.sparkSession, ExtractPages(pages.queryExecution.logical, cfg, bucket))

  /** Register the planner strategy on a live session; idempotent. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(ExtractPagesStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ExtractPagesStrategy
}

/** Plans the logical node to the physical exec. */
object ExtractPagesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractPages(child, cfg, bucket, out) =>
      ExtractPagesExec(planLater(child), cfg, bucket, out) :: Nil
    case _ => Nil
  }
}

/** Physical operator: one narrow pass over the child's partitions through
  * the parse core — no shuffle introduced (partitioning/skew policy stays
  * with the surrounding plan, e.g. the pipeline's salted repartition).
  * The LLM and OCR engines are resolved here, on the driver, and shipped
  * with the task closure.
  */
case class ExtractPagesExec(child: SparkPlan, cfg: Extract.Config, bucket: Int,
                            override val output: Seq[Attribute]) extends UnaryExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    def idx(name: String): Int = childOut.indexWhere(_.name == name)
    val (ui, hi, ti) = (idx("url"), idx("html"), idx("text"))
    require(ui >= 0 && hi >= 0 && ti >= 0,
      s"ExtractPages child must provide url/html/text, got ${childOut.map(_.name)}")
    val (b, mode, llm, ocr, useOcr) = (bucket, cfg.mode, cfg.llmParser, cfg.ocr, cfg.useOcr)
    child.execute().mapPartitions { it =>
      val toRow = ExtractPages.encoder.createSerializer()
      it.map { row =>
        val url = row.getUTF8String(ui).toString
        val html = if (row.isNullAt(hi)) null else row.getBinary(hi)
        val text = if (row.isNullAt(ti)) null else row.getUTF8String(ti).toString
        toRow(Extract.parseRow(url, html, text, b, mode, llm, ocr, useOcr))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ExtractPagesExec =
    copy(child = newChild)
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — injects the
  * strategy at session build time, the deployment-grade registration path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => ExtractPagesStrategy)
    ext.injectOptimizerRule(_ => TopKWindowRewrite)
  }
}

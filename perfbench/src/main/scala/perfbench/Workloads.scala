package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** One operation of a workload: the unit that is timed. */
sealed trait Op { def name: String }

/** A registry query: `SparkEntry.queries(name)` over the workload's
  * tables, executed like a sink would (every row produced). */
final case class QueryOp(name: String) extends Op {
  def fn: (SparkSession, String) => DataFrame = SparkEntry.queries(name)
}

/** The reference pipeline shape (File source -> Pivot -> File sink),
  * driven from a CDAP pipeline JSON. */
final case class PipelineOp(name: String, json: String) extends Op

object Workloads {
  /** The dedup/text queries whose time is in native row-local expressions
    * and postings pair builds. text_dup_span_exact and
    * text_dup_spans_removed_exact are left out: they are iteration-bound
    * (4-5 s each at local[4], two thirds of a pass), which would make this
    * a loop workload and leave too few samples per run. */
  val CurationText: Seq[String] = Seq("dedup_minhash", "dedup_minhash_oph",
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_winnow_pairs",
    "dedup_containment", "text_bleu", "text_rouge", "text_chrf", "text_gopher")

  val Quarters: Seq[String] = Seq("Q1", "Q2", "Q3", "Q4")
  val TallBrands: Seq[String] = Seq("Nike", "Reebok", "Addidas")

  val PurchaseSchema: StructType = StructType(Seq(
    StructField("Quarter", StringType), StructField("Product", StringType),
    StructField("Brand", StringType), StructField("Sales", IntegerType),
    StructField("ShopID", IntegerType)))

  def ops(workload: String, template: String): Seq[Op] = workload match {
    case "pivot_tall" => Seq(PipelineOp("pivot_tall", template))
    case "curation_text" => CurationText.map(QueryOp)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Independent spelling of pivot_tall with Spark's own pivot operator. */
  def expectedTall(spark: SparkSession, csv: String): DataFrame = {
    val cells = for (q <- Quarters; b <- TallBrands) yield s"${q}_$b"
    val crossTab = spark.read.schema(PurchaseSchema).option("header", true).csv(csv)
      .groupBy("Product")
      .pivot(concat_ws("_", col("Quarter"), col("Brand")), cells)
      .agg(sum("Sales").cast(IntegerType))
    crossTab.select(col("Product") +: cells.map(c => col(c).as(s"${c}_Sum")): _*)
  }
}

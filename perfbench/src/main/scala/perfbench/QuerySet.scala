package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Expected output of one query: row count plus two order-independent
  * digests of every output column. */
case class Digest(rows: Long, xor: Long, sumMod: Long) {
  def tsv: String = s"$rows\t$xor\t$sumMod"
}

object QuerySet {
  /** The job-heavy iterative families, frozen by name. */
  val Iterative: Seq[String] = Seq(
    "dedup_cluster", "emb_pca2", "q_fk_integrity")

  /** One-shot queries, frozen by name: a stratified sample over the
    * `operators` modules (see perfbench/README.md for the draw). */
  val OneShot: Seq[String] = Seq(
    "cdc_change_stats", "dedup_prefix", "mm_keyframe_select",
    "q_attribution", "sample_priority", "sim_ann_ivfpq", "text_pii_scrub",
    "text_zipf")

  def all: Seq[String] = Iterative ++ OneShot

  def isIterative(name: String): Boolean = Iterative.contains(name)

  /** The module of every declared query, by the module's own map. */
  lazy val moduleOf: Map[String, String] = Seq(
    graft.operators.Relational, graft.operators.CdcQueries,
    graft.operators.Dedup, graft.operators.Similarity,
    graft.operators.TextAnalysis, graft.operators.Multimodal,
    graft.operators.Pipeline, graft.operators.Corpus).flatMap { m =>
      val mod = m.getClass.getSimpleName.stripSuffix("$")
      m.queries.keys.map(_ -> mod)
    }.toMap

  /** Hashable form of a column: maps have no defined entry order, so
    * they hash as their sorted entry array. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** The timed action's plan: consumes every output column of `df`
    * (xxhash64 over the whole row), so no projected work can be pruned,
    * and folds it order-independently into one row. */
  def digestPlan(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => hashable(col(s"`${f.name}`"), f.dataType)): _*)
    df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(col("h") % lit(1000000007L)))
  }

  def digestOf(row: org.apache.spark.sql.Row): Digest =
    Digest(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2))

  /** Frees what one query left behind: cached data, persisted RDDs
    * (local checkpoints) and the program's two memo maps. */
  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Pipeline.resetMemo()
    graft.functions.TimeSeries.resetMemo()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def loadExpected(path: java.nio.file.Path): Map[String, Digest] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .map(a => a(0) -> Digest(a(1).toLong, a(2).toLong, a(3).toLong)).toMap
  }
}

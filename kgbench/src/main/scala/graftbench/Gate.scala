package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.gold.GoldDeriver
import graft.kg.Store

/** Correctness gate of one run: the committed triples against the
  * independent gold set of `GoldDeriver` (as sets of (subj, pred, obj,
  * repo, path, contentSha)), and lineage against the input table: a
  * triple violates lineage when its contentSha is not the sha256 of its
  * input row's content (or its (repo, path) has no input row). */
final case class Gate(precision: Double, recall: Double,
    lineageViolations: Long, rows: Long) {
  def ok: Boolean = precision == 1.0 && recall == 1.0 && lineageViolations == 0
}

object Gate {
  type Triple = (String, String, String, String, String, String)
  private val cols = Seq("subj", "pred", "obj", "repo", "path", "contentSha")

  def gold(nFiles: Int, sentsPerFile: Int): Set[Triple] =
    GoldDeriver.goldTriples(nFiles.toLong, sentsPerFile).map(g =>
      (g.subj, g.pred, g.obj, g.repo, g.path, g.contentSha))

  /** A committed stage read back with its manifest schema, as
    * `Store.runStage` reads it; fails when the stage is not committed. */
  def committed(spark: SparkSession, root: String, stage: String): DataFrame = {
    val (_, _, schemaJson) = Store.readManifest(root, stage).getOrElse(
      throw new IllegalStateException(s"stage $stage is not committed in $root"))
    spark.read.schema(DataType.fromJson(schemaJson).asInstanceOf[StructType])
      .parquet(s"$root/$stage")
  }

  def rows(triples: DataFrame): Seq[Triple] =
    triples.select(cols.map(col): _*).collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5)))

  def check(spark: SparkSession, triples: Seq[Triple], committedTriples: DataFrame,
      table: String, gold: Set[Triple]): Gate = {
    val got = triples.toSet
    val hit = got.count(gold.contains)
    val shas = spark.read.parquet(table).select(col("repo"), col("path"),
      sha2(col("content").cast("binary"), 256).as("inputSha"))
    val violations = committedTriples.join(shas, Seq("repo", "path"), "left")
      .filter(col("inputSha").isNull || col("inputSha") =!= col("contentSha"))
      .count()
    Gate(
      precision = if (got.isEmpty) 0.0 else hit.toDouble / got.size,
      recall = if (gold.isEmpty) 0.0 else hit.toDouble / gold.size,
      lineageViolations = violations, rows = triples.size.toLong)
  }
}

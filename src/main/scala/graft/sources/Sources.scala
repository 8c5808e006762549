package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources/sinks beyond parquet (SURVEY.md §2.1):
  *   - S3: the reference's pipeline-JSON annotation record as a first-class
  *     source — schema'd read + the events×triggers explode the Duration
  *     stage performs (component/Duration/preprocess.py:96-113);
  *   - S5: CSV sinks for aux prediction/timeline outputs
  *     (component/Duration/predictions .csv analogs).
  */
object Sources {

  /** Schema of one sentence-annotation record — the reference's golden
    * JSON shape (views.py:20-52, Mu_test_data records; FIXTURES.md §2). */
  val annotationSchema: StructType = StructType(Seq(
    StructField("tokens", ArrayType(StringType)),
    StructField("events", ArrayType(StructType(Seq(
      StructField("event_type", StringType),
      StructField("triggers", ArrayType(StructType(Seq(
        StructField("event_type", StringType),
        StructField("text", StringType),
        StructField("start_token", IntegerType),
        StructField("end_token", IntegerType))))),
      StructField("arguments", ArrayType(StructType(Seq(
        StructField("role", StringType),
        StructField("text", StringType),
        StructField("start_token", IntegerType),
        StructField("end_token", IntegerType))))),
      StructField("duration", StringType),
      StructField("speculation", BooleanType))))),
    StructField("ner", ArrayType(ArrayType(StringType))),
    StructField("relations", ArrayType(ArrayType(StringType))),
    StructField("line_num", IntegerType),
    StructField("sen_num", IntegerType),
    StructField("sentence", StringType)))

  /** S3: read newline-delimited annotation JSON with the FIXED schema (no
    * sampling-based inference pass — at 10^12-file scale schema inference
    * is a full extra scan). */
  def readAnnotations(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(annotationSchema).json(path)

  /** Parse annotation records embedded as a JSON string column. */
  def parseAnnotation(df: DataFrame, jsonCol: String): DataFrame =
    df.withColumn("ann", from_json(col(jsonCol), annotationSchema))

  /** Read a file whose ROOT is a JSON array of annotation records — the
    * layout of the reference's golden corpora
    * (component/Duration/Mu_test_data/ *.pred.json) — with DETERMINISTIC
    * record numbering: wholetext → from_json(array) → posexplode, so
    * `rec_idx` is the array position, never a partitioning accident.
    * (Fine for golden-corpus files; petabyte annotation feeds should be
    * NDJSON through `readAnnotations`, which splits.) */
  def readAnnotationArray(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(posexplode(from_json(col("value"), ArrayType(annotationSchema)))
        .as(Seq("rec_idx", "ann")))
      .select(col("rec_idx"), col("ann.*"))

  /** Directory of the reference's golden annotation corpora
    * (`<name>.pred.json`, one JSON array of records each). */
  val GoldenDir = "/root/reference/component/Duration/Mu_test_data"

  /** Path of golden corpus `name` (e.g. "test_ace"); fails with one
    * message naming the path when the reference corpus is absent. */
  def goldenCorpus(name: String): String = {
    val path = s"$GoldenDir/$name.pred.json"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new java.io.FileNotFoundException(s"reference corpus absent at $path")
    path
  }

  /** The Duration-stage input explode: events × triggers → one row per
    * trigger (preprocess.py:104-113 — the UDTF/X1 shape as pure SQL). */
  def explodeTriggerRows(ann: DataFrame): DataFrame =
    ann
      .select(col("line_num"), col("sen_num"), col("tokens"),
        posexplode(col("events")).as(Seq("event_idx", "event")))
      .select(col("line_num"), col("sen_num"), col("tokens"), col("event_idx"),
        col("event.event_type").as("event_type"),
        col("event.duration").as("duration"),
        explode(col("event.triggers")).as("trigger"))
      .select(col("line_num"), col("sen_num"), col("tokens"), col("event_idx"),
        col("event_type"), col("duration"),
        col("trigger.text").as("trigger_text"),
        col("trigger.start_token").as("root_idx"))

  /** S5: CSV sink for aux outputs (predictions / timelines). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}

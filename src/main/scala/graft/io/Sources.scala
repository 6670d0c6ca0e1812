package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.schema.Schemas

/** Source readers (SURVEY.md §2.1 S1-S3).
  *
  * The bronze JSON reader uses an EXPLICIT schema where the reference infers
  * (`bronze_to_silver.py:108-114`): at 100 TB, inference is an extra full
  * input pass with batch-dependent types. PERMISSIVE mode routes malformed
  * lines into `_corrupt_record` for the quality layer instead of erroring —
  * the reference silently dropped them.
  */
object Sources {

  /** S1 — bronze JSONL scan (batch). */
  def bronzeJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.transaction)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("recursiveFileLookup", "true")
      .json(path)

  /** S1 incremental — file-source stream for bookmark semantics (each
    * trigger sees only not-yet-checkpointed files; see
    * [[graft.streaming.IncrementalIngest]]).
    */
  def bronzeJsonStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(Schemas.transaction)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("recursiveFileLookup", "true")
      .json(path)

  /** S3 — silver parquet scan (partition-pruning capable via y/m/d layout). */
  def silverParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}

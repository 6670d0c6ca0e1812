package graft.schema

import org.apache.spark.sql.types._

/** Typed schemas for the medallion pipeline.
  *
  * The reference infers its bronze schema at read time
  * (`src/glue_jobs/bronze_to_silver.py:108-114`) and hardens only 4 columns by
  * cast (`:123-126`). We replace inference with an explicit `StructType` — on a
  * 100 TB ingest, schema inference means an extra full pass over the input and
  * non-deterministic typing across batches, so an explicit contract is the only
  * scalable choice. Field list per the generator
  * (`scripts/generate_test_data.py:21-35`).
  */
object Schemas {

  /** Bronze source record: 10 scalar JSON fields. `amount` arrives as a JSON
    * number (double); `transaction_date` as a `yyyy-MM-dd HH:mm:ss` string.
    */
  val transaction: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("customer_id", StringType),
    StructField("amount", DoubleType),
    StructField("transaction_date", StringType),
    StructField("transaction_type", StringType),
    StructField("merchant_id", StringType),
    StructField("payment_method", StringType),
    StructField("currency", StringType),
    StructField("status", StringType),
    StructField("category", StringType),
    // permissive-mode capture for the quality layer (reference drops bad
    // records silently; we keep them observable)
    StructField("_corrupt_record", StringType)))
}

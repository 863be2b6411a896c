package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus ingestion — the wire format crawl dumps and published
  * datasets actually arrive in (one JSON document per line). The
  * reference ingests only its own syslog wire format; a training-data
  * pipeline's front door is this.
  *
  * Malformed lines are NEVER dropped silently: the input is read ONCE
  * as text and parsed with `from_json` (PERMISSIVE + corrupt-record
  * column), so the ORIGINAL line travels next to its parse and
  * [[split]]'s quarantine holds every rejected raw line VERBATIM —
  * whether it failed to parse at all or parsed but missed a required
  * field (a re-serialization of the parsed subset would drop extra
  * fields and formatting, destroying the evidence an operator needs).
  * At 100 TB "0.3% of the dump failed to parse" is a signal someone
  * must see, not a rounding error. `from_json` is Spark's own JSON
  * parser as a codegen expression over a distributed text scan — no
  * UDFs, and the line scan splits by file ranges exactly like the
  * native JSON source; the quarantine split is one boolean filter.
  */
object CorpusJsonl {

  /** documents-table schema + the corrupt-record capture column. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("_corrupt", StringType)))

  private def parse(lines: DataFrame): DataFrame =
    lines.select(col("value").as("_raw"),
        from_json(col("value"), schema,
          Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_corrupt")).as("j"))
      .select(col("j.doc_id").as("doc_id"), col("j.text").as("text"),
        col("j.lang").as("lang"), col("j.source").as("source"),
        col("j._corrupt").as("_corrupt"), col("_raw"))

  /** Batch read: every line of `path`, parsed or quarantined, with the
    * verbatim source line in `_raw`.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Streaming read of a landing directory (new files per trigger) —
    * the same schema/quarantine contract, for a curate-at-ingest chain
    * fed by dump deliveries (a `foreachBatch` that runs the batch
    * quality and [[graft.operators.Dedup]] operators per micro-batch).
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    parse(spark.readStream.text(path))

  /** (valid documents, quarantine). A line is quarantined when it
    * failed to parse at all (corrupt column set) OR parsed to a
    * document missing its required identity/content fields — both are
    * operator-visible defects, and both quarantine the ORIGINAL line
    * byte-for-byte. Valid docs drop the capture columns.
    */
  def split(parsed: DataFrame): (DataFrame, DataFrame) = {
    val bad = col("_corrupt").isNotNull ||
      col("doc_id").isNull || col("text").isNull
    val good = parsed.filter(!bad)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val quarantine = parsed.filter(bad)
      .select(col("_raw").as("raw_line"))
    (good, quarantine)
  }
}

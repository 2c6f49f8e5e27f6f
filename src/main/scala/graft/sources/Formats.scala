package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Batch file-format contracts beyond parquet: JSON-lines, CSV, ORC —
  * the interchange formats the reference's lake pipelines move data
  * through (/root/reference/DataEngineering/DataBricks/spark_stream.py
  * ingests CSV; AIO_delta_table_generator.py's sources arrive as
  * CSV/JSON extracts before bronze). Each gated entry writes the
  * documents table to the format and reads it back with an EXPLICIT
  * schema (no inference drift), so the writer, the reader, and the
  * type fidelity of the format sit inside the hash gate — the oracle is
  * the documents table itself.
  *
  * Scale stance: format roundtrips are embarrassingly parallel
  * (per-partition files both ways); explicit schemas keep reads
  * single-pass (schema inference re-scans the data — never at 100 TB).
  */
object Formats {

  private def scratch(fmt: String) = graft.TmpPaths.unique(s"graft_formats_$fmt")

  /** Write `df` as `fmt`, read it back with `df`'s schema. */
  def roundtrip(df: DataFrame, fmt: String, path: String,
                options: Map[String, String] = Map.empty): DataFrame = {
    val spark = df.sparkSession
    df.write.mode("overwrite").options(options).format(fmt).save(path)
    spark.read.schema(df.schema).options(options).format(fmt).load(path)
  }

  // ---- query-map entries (hash-gated; oracle = documents itself) ----

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")

  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(docs(spark, dir), "json", scratch("jsonl"))

  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(docs(spark, dir), "orc", scratch("orc"))

  /** CSV needs explicit quote/escape discipline for free text. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(docs(spark, dir), "csv", scratch("csv"),
      Map("header" -> "true", "quote" -> "\"", "escape" -> "\""))

  /** XML (native in Spark 4): rowTag contract + entity-escaping of
    * free text ride inside the gate. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(docs(spark, dir), "xml", scratch("xml"),
      Map("rowTag" -> "doc"))

  def oracleSql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents"
}

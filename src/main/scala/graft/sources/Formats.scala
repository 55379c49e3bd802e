package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Columnar-format breadth beyond parquet: ORC round-trip.
  *
  * The engine's tables live in parquet, but a lakehouse routinely hosts
  * ORC neighbors (Hive heritage) — and Spark's ORC source has the same
  * pushdown/pruning contract as parquet (vectorized reader, predicate
  * pushdown, column pruning via `ReadSchema`). The gated query writes a
  * projection of `documents` to ORC, reads it back, and aggregates; the
  * DuckDB oracle computes the same aggregate from the ORIGINAL parquet,
  * so a hash match proves the ORC sink+source preserved every value —
  * the round-trip IS the assertion. */
object Formats {

  /** Write-once ORC mirror of (doc_id, lang, n_chars), placed and keyed
    * like the index tables so a regenerated corpus re-materializes. */
  private def orcMirror(spark: SparkSession, dir: String): String =
    IndexStore.writeOnce(spark, dir, "orc_docs") { path =>
      Tables.documents(spark, dir)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").orc(path)
    }

  /** Per-language accounting read from the ORC mirror — hash-gated
    * against DuckDB over the original parquet (`rel_orc_roundtrip`). */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(orcMirror(spark, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang")

  /** Write-once JSON-Lines mirror — the interchange format every
    * text-corpus pipeline ingests from (one JSON object per line,
    * splittable, appendable). Schema is pinned on the READ side
    * (required for production JSONL: schema inference scans the data
    * twice and silently widens types). */
  private def jsonlMirror(spark: SparkSession, dir: String): String =
    IndexStore.writeOnce(spark, dir, "jsonl_docs") { path =>
      Tables.documents(spark, dir)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(path)
    }

  /** Per-(lang, source) accounting read from the JSONL mirror with an
    * explicit schema — hash-gated against DuckDB over the original
    * parquet (`rel_jsonl_roundtrip`), so a match proves the JSON
    * sink+source round-trip lossless including null handling. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    spark.read.schema(schema).json(jsonlMirror(spark, dir))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang", "source")
  }

  /** Write-once RFC-4180 CSV mirror CARRYING THE TEXT COLUMN — the
    * adversarial case for CSV (embedded commas and quotes force the
    * writer to quote and double-quote); escape is pinned to '"' because
    * Spark's default backslash-escape is NOT RFC-4180 and round-trips
    * incorrectly through standards-compliant readers. */
  private def csvMirror(spark: SparkSession, dir: String): String =
    IndexStore.writeOnce(spark, dir, "csvrt_docs") { path =>
      Tables.documents(spark, dir)
        .select("doc_id", "lang", "text")
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        // the WRITER trims cell whitespace by default — silent corruption
        // for text payloads; pin both off (spec-covered)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    }

  /** Per-document text digest read back from the CSV mirror — the DuckDB
    * oracle md5s the ORIGINAL parquet text, so a hash match proves the
    * CSV sink+source preserved every byte of every document through
    * quoting (`rel_csv_roundtrip`). Schema pinned on read (CSV inference
    * is the classic silent-corruption source: a numeric-looking text
    * column would widen). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    spark.read.schema(schema)
      .option("header", "true").option("escape", "\"")
      // multiLine: a quoted text cell containing a newline is ONE record
      // — without it the reader splits the record mid-field (ADVICE r7;
      // current testdata has no embedded newlines, but this operator is
      // the adversarial CSV-fidelity proof, so the read path must cover
      // the full quoted-content space the RFC-4180 writer can emit).
      // emptyValue pinned so an empty-string text reads back as '' (and
      // md5('')), not NULL.
      .option("multiLine", "true")
      .option("emptyValue", "")
      .csv(csvMirror(spark, dir))
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }
}

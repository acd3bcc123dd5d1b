package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{TextAnalysis, TrainingData}

/** Streaming shard-digest maintenance — the incremental form of
  * [[graft.ops.TrainingData.shardManifest]]'s integrity columns.
  *
  * The batch manifest's BIN structure is positional (a prefix-sum over
  * doc order) and therefore not incrementally maintainable: one late
  * document shifts every later bin in its shard. The (part, shard)
  * digest layer, however, is a bit-XOR of per-doc hashes — associative,
  * commutative, self-inverse — so a stream can fold documents into
  * per-shard digests in ANY arrival order and land on exactly the batch
  * digest. That algebraic property is the point of choosing XOR in the
  * batch operator, and this twin is its proof: ingest maintains shard
  * integrity continuously, and the positional bin packing runs as a
  * batch pass only when a training run actually ships.
  *
  * Scale shape: stateless per-row projection → a streaming (part, shard)
  * aggregate whose state is one (count, sum, xor, min, max) tuple per
  * shard — bounded by the shard geometry, not the stream length.
  */
object ManifestStream {

  /** Batch twin — also the oracle surface. */
  def shardDigestBatch(docs: DataFrame, shardDocs: Int = 128): DataFrame =
    digest(project(docs, shardDocs))

  /** Streaming side: same projection + agg over a parquet directory
    * stream; complete/update output, state bounded by shard count. */
  def shardDigestStream(spark: SparkSession, dir: String,
      shardDocs: Int = 128): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    digest(project(spark.readStream.schema(schema).parquet(dir), shardDocs))
  }

  private def project(docs: DataFrame, shardDocs: Int): DataFrame =
    docs.select(col("lang"),
      floor(col("doc_id") / shardDocs).cast("long").as("shard"),
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      graft.expr.Hash60.h60Col(concat(lit("m:"), col("doc_id").cast("string")))
        .as("h"))

  private def digest(rows: DataFrame): DataFrame =
    rows.groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        expr("bit_xor(h)").as("digest"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
}

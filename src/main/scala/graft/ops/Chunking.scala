package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-defined chunking (Rabin/FastCDC family): chunk boundaries are
  * chosen by the CONTENT of a sliding window — position i ends a chunk when
  * hash(window ending at i) ≡ 0 (mod 2^k) — so inserting or deleting bytes
  * re-aligns every boundary after the edit point and identical regions of
  * DIFFERENT documents still produce identical chunks. That is the property
  * fixed-size chunking lacks and the reason CDC is the storage/transfer
  * dedup primitive (and the shifted-content complement to the exact
  * SUBSTRING dedup of [[Dedup]]: spans need a shared anchor grid, CDC
  * chunks self-synchronize).
  *
  * Execution shape: boundary detection is a pure per-row array expression
  * (positions → window hashes → filter), so the only shuffle in the whole
  * pipeline is the final chunk-hash groupBy — narrow (hash, len) rows, the
  * chunk texts never move. The window hash is the repo-standard md5-derived
  * h60 (portable, exactly replayed by the oracle); a production deployment
  * would swap a gear-hash codegen `Expression` into the same plan shape.
  */
object Chunking {

  /** Fixed-size sliding token windows with overlap — the RAG/embedding-index
    * chunker (stride < window ⇒ window−stride tokens of context repeat at
    * each boundary), complementing the content-defined [[chunks]]: CDC
    * self-synchronizes for DEDUP, sliding windows preserve context for
    * RETRIEVAL. Chunk k covers token positions [k·stride, k·stride+window);
    * the final chunk is the (possibly short) tail so every token is covered
    * ≥ once. Pure per-row explode — no shuffle anywhere in the plan; chunk
    * payloads surface as (n_tokens, md5) so the wide text never moves.
    *
    * @return (doc_id, chunk_idx, n_tokens, chunk_hash)
    */
  def slidingChunks(docs: DataFrame, window: Int = 32,
      stride: Int = 24): DataFrame =
    Dedup.fanOut(docs).select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), x => x =!= "").as("tl"))
      .withColumn("len", size(col("tl")))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("tl"),
        explode(expr(s"sequence(0, (len - 1) div $stride)")).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        expr(s"slice(tl, ci * $stride + 1, $window)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))

  /** The chunk relation itself — one row per (doc, chunk) with its span and
    * content hash. Pure per-row computation (no shuffle at all); chunks
    * exactly tile each document: start₀ = 0, endₖ = startₖ₊₁, end_last =
    * length(text) — ChunkingPropertySpec holds this for arbitrary text.
    *
    * @return (doc_id, chunk_idx, start, end, chunk_hash) — [start, end)
    *         0-based character spans
    */
  def chunks(docs: DataFrame, window: Int = 16, mask: Int = 63): DataFrame = {
    // boundary positions: every i in [window, len] whose trailing window
    // hashes to 0 mod (mask+1); 0 and len close the first and last chunk.
    // r13 optimization: the boundary scan is ONE native per-row pass
    // ([[graft.expr.CdcBounds]] — same md5-prefix arithmetic, same
    // code-point substr semantics, sorted-distinct by construction)
    // instead of an interpreted transform/filter HOF chain instantiating
    // an md5+hex+conv expression tree per character position.
    val bounds = graft.expr.VectorOps.cdcBounds(col("text"), window, mask)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), bounds.as("b"))
      // empty text collapses bounds to the single [0]: sequence(0, -1)
      // would DESCEND and index past the array — no spans to emit anyway
      .filter(size(col("b")) >= 2)
      .select(col("doc_id"), col("text"),
        posexplode(expr("transform(sequence(0, size(b) - 2), j -> struct(b[j] AS s, b[j + 1] AS e))"))
          .as(Seq("chunk_idx", "sp")))
      .filter(col("sp.e") > col("sp.s"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("sp.s").cast("long").as("start"), col("sp.e").cast("long").as("end"),
        md5(col("text").substr(col("sp.s") + 1, col("sp.e") - col("sp.s")))
          .as("chunk_hash"))
  }

  /** Cross-document chunk-level dedup stats over [[chunks]]: chunks shared
    * by ≥ 2 (doc, position) sites are surfaced with their copy/document
    * counts — the "how much of this corpus is re-used byte-ranges" relation
    * a storage layer acts on.
    *
    * @return (chunk_hash, chunk_len, n_copies, n_docs), n_copies ≥ 2
    */
  def chunkDedup(docs: DataFrame, window: Int = 16, mask: Int = 63): DataFrame =
    chunks(docs, window, mask)
      .select(col("chunk_hash"), (col("end") - col("start")).as("chunk_len"),
        col("doc_id"))
      .groupBy(col("chunk_hash"), col("chunk_len"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_copies") >= 2)
}

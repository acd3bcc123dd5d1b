package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — MinHash-LSH dedup ON INGEST.
  *
  * The batch pipeline ([[graft.ops.Dedup.minhashLsh]]) finds near-dup pairs
  * over a static corpus; a 100 TB ingestion pipeline wants the same answer
  * incrementally: as each document arrives, which already-accepted document
  * does it near-duplicate? This is that operator, and it is the same
  * algorithm, not an approximation of it:
  *
  *  - per-row (stateless, codegen): sorted word-shingle array, k salted
  *    MinHash mins, band keys — the identical native expressions the batch
  *    path uses ([[graft.expr.SortedWordShingles]], [[graft.expr.MinHashSigs]]).
  *  - per LSH bucket (stateful): `flatMapGroupsWithState` keyed by
  *    (band, key). State is the bucket's accepted docs (id, shingle array,
  *    band-key vector); each arriving doc merge-intersects against the
  *    bucket's state — exactly the candidate generation + verification the
  *    batch join does, localized to the bucket. Candidates never cross
  *    buckets, so state and work scale with bucket occupancy (the LSH
  *    guarantee), never the corpus.
  *  - exactly-once across buckets WITHOUT a second stateful operator: a
  *    pair colliding in several bands would emit once per band, and
  *    de-duplicating downstream would chain a second stateful op onto the
  *    stream. Instead each state entry carries the doc's full band-key
  *    vector, and a verified pair emits ONLY from the first band on which
  *    the two vectors agree — a local, deterministic rule, so the plan has
  *    exactly one stateful operator.
  *
  * Stream ≡ batch: on the same corpus, any arrival order, any batch
  * boundaries, the emitted (a, b, jaccard) set equals
  * `Dedup.minhashLsh(docs, numHashes, rowsPerBand, threshold)` with pairs
  * normalized a = min, b = max (StreamingSpec drives multi-batch arrival).
  *
  * State boundedness: buckets use NoTimeout because near-dup identity does
  * not age out (a year-old duplicate is still a duplicate). A deployment
  * that wants horizon-bounded dedup (like [[EventStreams.dedupStream]]'s
  * watermark form) sets `maxBucketDocs`, which caps each bucket to its most
  * recently seen N docs — the dedup-recall trade is explicit and
  * per-bucket, never an unbounded scan.
  */
object NearDupStream {

  case class BucketDoc(band: Int, key: String, doc_id: Long,
      arr: Seq[String], allKeys: Seq[String])
  case class BucketState(ids: List[Long], arrs: List[Seq[String]],
      keys: List[Seq[String]])
  case class NearDupHit(a: Long, b: Long, jaccard: Double)

  /** Sorted-array merge intersect — the Scala twin of the
    * [[graft.expr.SortedArrayIntersect]] expression (state lives as Scala
    * collections inside the group function, so the comparison runs here). */
  private def intersectCount(x: Seq[String], y: Seq[String]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < x.length && j < y.length) {
      val c = x(i).compareTo(y(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** floor-micro-units jaccard — identical arithmetic to the batch verify
    * (same IEEE ops in the same order, so stream ≡ batch holds bitwise). */
  private def jaccard(x: Seq[String], y: Seq[String]): Double = {
    val inter = intersectCount(x, y)
    math.floor(inter.toDouble / (x.length + y.length - inter).toDouble * 1000000d) / 1000000d
  }

  private def firstSharedBand(x: Seq[String], y: Seq[String]): Int = {
    var i = 0
    while (i < x.length && i < y.length) {
      if (x(i) == y(i)) return i
      i += 1
    }
    -1
  }

  /** The per-row (stateless) prefix shared with the batch path: shingle
    * array + band-key vector, exploded to one row per (band, key) bucket —
    * a streaming-safe projection of codegen expressions only. */
  def bandedDocs(
      spark: SparkSession,
      docs: DataFrame,
      numHashes: Int,
      rowsPerBand: Int): Dataset[BucketDoc] = {
    import spark.implicits._
    val numBands = numHashes / rowsPerBand
    val bandKeys = array((0 until numBands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => col("sigs").getItem(b * rowsPerBand + r)): _*))
    }: _*)
    docs
      .select(col("doc_id"),
        graft.expr.VectorOps.sortedWordShingles(col("text"), 3).as("arr"))
      .filter(size(col("arr")) > 0)
      .withColumn("sigs", graft.expr.VectorOps.minhashSigs(col("arr"), numHashes))
      .withColumn("allKeys", bandKeys)
      .select(col("doc_id"), col("arr"), col("allKeys"),
        posexplode(col("allKeys")).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("doc_id"), col("arr"), col("allKeys"))
      .as[BucketDoc]
  }

  /** Streaming near-dup pairs (a, b, jaccard), a < b, jaccard ≥ threshold.
    * Input may be a streaming OR batch DataFrame with (doc_id, text, ...) —
    * the same plan runs in both modes (StreamingSpec asserts equality). */
  def nearDupStream(
      spark: SparkSession,
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      maxBucketDocs: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    bandedDocs(spark, docs, numHashes, rowsPerBand)
      .groupByKey(d => (d.band, d.key))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), it: Iterator[BucketDoc], state) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
          var st = state.getOption.getOrElse(BucketState(Nil, Nil, Nil))
          // deterministic intra-batch order: a batch is a SET of rows, so
          // process by doc_id to make "already accepted" well-defined
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            var ids = st.ids
            var arrs = st.arrs
            var keys = st.keys
            while (ids.nonEmpty) {
              // emit only from the FIRST band the pair shares (see Scaladoc)
              if (firstSharedBand(keys.head, d.allKeys) == d.band) {
                val j = jaccard(arrs.head, d.arr)
                if (j >= threshold) {
                  val (a, b) = if (ids.head < d.doc_id) (ids.head, d.doc_id)
                    else (d.doc_id, ids.head)
                  out += NearDupHit(a, b, j)
                }
              }
              ids = ids.tail; arrs = arrs.tail; keys = keys.tail
            }
            st = BucketState((d.doc_id :: st.ids).take(maxBucketDocs),
              (d.arr :: st.arrs).take(maxBucketDocs),
              (d.allKeys :: st.keys).take(maxBucketDocs))
          }
          state.update(st)
          out.iterator
      }
      .toDF()
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.StableHash

/** Deduplication operators for a large-scale training-data pipeline,
  * over a documents table (doc_id: long, text: string, ...). All are
  * built from codegen'd Spark built-ins — no UDFs — so they survive a
  * 100 TB scale-up: every stage is a projection, an explode, or a
  * hash aggregation with map-side combine.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on content hash: keep the smallest id per distinct
    * sha256(text). One shuffle keyed by the hash; hot keys impossible
    * (hashes are uniform). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Ids of rows to drop under exact dedup (everything but the keeper). */
  def exactDropIds(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exact(docs, idCol, textCol).select(col("keep_id"))
    docs.select(col(idCol), sha2(col(textCol), 256).as("sha"))
      .join(keep, docs(idCol) === keep("keep_id"), "left_anti")
      .select(col(idCol))
  }

  // -------------------------------------------------------------- shingles

  /** Word k-shingles of lowercased text as a distinct array column.
    *
    * The tokenization is BOUND ONCE through a single-element-array
    * lambda (`transform(array(tokens), ts -> …)`): higher-order
    * lambdas are interpreted and re-evaluate captured expression trees
    * per element, so referencing `split(lower(text))` directly inside
    * the window lambda re-tokenized the whole document once per
    * shingle — measured 5× the entire MinHash pipeline at sf0.1. A
    * bound lambda variable is a materialized value. Result semantics
    * are identical (same tokens, same windows, same distinct order). */
  def shingles(text: Column, k: Int = 3): Column = {
    val tokens = split(lower(text), "\\W+")
    element_at(
      transform(array(tokens), ts =>
        array_distinct(
          filter(
            transform(
              sequence(lit(0), greatest(size(ts) - k, lit(0))),
              i => when(size(ts) >= k,
                concat_ws(" ", slice(ts, i + 1, lit(k)))).otherwise(null)),
            x => x.isNotNull))),
      1)
  }

  // --------------------------------------------------------------- minhash

  /** MinHash signatures for all docs: explode shingles, digest each
    * shingle ONCE (StableHash.h60), then ONE hash aggregation with
    * `numHashes` min((a_s·h + b_s) mod P) columns — a single codegen'd
    * pass over the shingle stream with map-side partial mins, so the
    * shuffle carries only numHashes longs per doc. (A nested
    * transform() over a seeds array would re-evaluate the shingle
    * expression numHashes times per row — measured 200× slower; and
    * per-seed string hashes would digest each shingle numHashes
    * times.) The hash family is engine-portable (StableHash), so the
    * whole pipeline is reproducible by an independent SQL oracle.
    * Returns (id, sig: array<long>). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol))).as("sh"))
      .withColumn("h31", StableHash.h60(col("sh")) % lit(StableHash.P31))
    val minCols = (0 until numHashes).map(s =>
      min(StableHash.universal(col("h31"), s)).as(s"m$s"))
    sh.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until numHashes).map(s => col(s"m$s")): _*).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows and hash each band → (band_idx, band_hash)
    * bucket keys. Near-duplicate pairs collide in ≥1 band whp when
    * Jaccard ≥ ~ (1/bands)^(bands/numHashes). */
  def lshBands(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        StableHash.h60(concat_ws(",", slice(sig, b * rows + 1, lit(rows)))).as("bh")))
  }

  /** Candidate near-duplicate pairs via MinHash + LSH:
    * shingle → signature → band-bucket join → estimated Jaccard from
    * signature agreement, filtered at `threshold`.
    *
    * Scale shape: the only wide operations are (a) the explode of
    * `bands` rows per doc (constant fan-out) and (b) a self-join keyed
    * by (band, band_hash) whose per-bucket size is bounded by actual
    * near-duplicate cluster size — uniform hashing means no skew from
    * popular vocabulary, unlike content-keyed joins.
    */
  /** Returns a MATERIALIZED frame (eager localCheckpoint): the
    * intermediate bucketed-signature cache is released before
    * returning, so repeated invocations in a long-lived session leave
    * no blocks behind beyond the (candidate-pair-sized) result itself —
    * release that with `graft.graph.Engine.release(result)` when done.
    * Materializing here also means downstream consumers (partition
    * sizing counts, the CC clustering pass) re-read the pair blocks
    * instead of re-executing the bucket self-join. */
  def minhashCandidates(docs: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        numHashes: Int = 64,
                        bands: Int = 16,
                        threshold: Double = 0.7): DataFrame = {
    val (lazyOut, buckets) =
      minhashCandidatesLazy(docs, idCol, textCol, numHashes, bands, threshold)
    val out = lazyOut.localCheckpoint(true)
    buckets.unpersist(false)
    out
  }

  /** The un-materialized candidate pipeline + its persisted bucket
    * frame — split out so tests can audit the self-join plan (both
    * sides must read the cache) before the public wrapper checkpoints
    * the result and releases the cache. */
  private[graft] def minhashCandidatesLazy(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): (DataFrame, DataFrame) = {
    val withSig = minhashSignatures(docs, idCol, textCol, numHashes)
    // persist BEFORE the self-join: without it both join sides re-run
    // the shingle-explode + signature aggregation — the dominant stage
    // executed twice (measured as the two slowest bench queries). The
    // cache is numHashes longs + bands keys per doc, held only until
    // the result below is materialized.
    val buckets = withSig
      .select(col("id"), col("sig"), explode(lshBands(col("sig"), numHashes, bands)).as("b"))
      .select(col("id"), col("sig"), col("b.band"), col("b.bh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = buckets.as("a")
    val b = buckets.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    val out = pairs
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), x => x))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    (out, buckets)
  }

  // ---------------------------------------------------------- ngram jaccard

  /** Exact n-gram Jaccard similarity for a (small) candidate pair set:
    * join text back in and compute |A∩B|/|A∪B| with array functions.
    * Used to verify LSH candidates exactly. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("jid"), shingles(col(textCol), k).as("sh"))
    pairs
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        when(size(array_union(col("sh_a"), col("sh_b"))) === 0, lit(0.0))
          .otherwise(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))))
      .drop("sh_a", "sh_b")
  }

  // ------------------------------------------------------------- clustering

  /** Near-duplicate CLUSTERS from a candidate-pair table (id_a, id_b):
    * connected components over the pair graph, canonical id = min doc
    * id per cluster — the standard "keep one representative per
    * duplicate cluster" step, computed with the graph kernel itself
    * (exact min-label semantics, graft.algos.ConnectedComponents on the
    * SpmvKernel frontier loop). Returns (doc_id, canonical_id); docs
    * absent from any pair are their own canonical. */
  def duplicateClusters(pairs: DataFrame, parts: Int): DataFrame = {
    // materialize the candidate pairs once — CC's shaping + compile
    // would otherwise re-execute the pair pipeline per action
    // (when `pairs` comes from minhashCandidates it is already an
    // eager localCheckpoint, so this copy is a cheap block read)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    // kernel CC carries labels as IEEE doubles — exact only for
    // 0 <= vid < 2^53 (KernelProgram.MaxExactVid). Doc ids outside
    // that window (negative, or 64-bit content hashes / snowflakes
    // — the COMMON shape at 100 TB) are re-keyed through a dense-id
    // dictionary; the bounds agg is one tiny job over checkpointed blocks.
    val b = edges.agg(
      min(least(col("src"), col("dst"))).as("lo"),
      max(greatest(col("src"), col("dst"))).as("hi")).head
    val inWindow = b.isNullAt(0) ||
      (b.getLong(0) >= 0L && b.getLong(1) < (1L << 53))
    val out =
      if (inWindow)
        graft.algos.ConnectedComponents.run(edges, parts).state
          .select(col("vid").as("doc_id"), col("label").as("canonical_id"))
      else rekeyedKernelClusters(edges, parts)
    // the result above is (or selects from) an EAGER localCheckpoint,
    // so the pair-edge blocks are never read again — free them now
    // instead of leaking one block set per invocation.
    graft.graph.Engine.release(edges)
    out
  }

  /** Kernel CC for doc ids OUTSIDE [0, 2^53): re-key through a dense-id
    * dictionary, run the compiled frontier CC over the new ids, map
    * back. The dictionary is the distinct id set range-partitioned and
    * sorted, then zipWithIndex'd — new ids are DENSE (< |V| « 2^53) and
    * MONOTONE in the original ids, so the kernel's min-label semantics
    * pick exactly the cluster member with the smallest ORIGINAL id,
    * as in the in-window path. Cost: one |V|-sized sort + two
    * dictionary joins each way.
    */
  private def rekeyedKernelClusters(edges: DataFrame, parts: Int): DataFrame = {
    val spark = edges.sparkSession
    System.err.println(
      "[graft] duplicateClusters: doc ids outside [0, 2^53) — re-keying " +
        "through a dense-id dictionary to stay on the kernel CC path")
    val dict = spark.createDataFrame(
      edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .distinct()
        // range-partition + sort, then zipWithIndex: indices ascend in
        // partition order, so they are globally monotone in `id`
        .repartitionByRange(parts, col("id"))
        .sortWithinPartitions("id")
        .queryExecution.toRdd.map(_.getLong(0))
        .zipWithIndex()
        .map { case (id, nid) => org.apache.spark.sql.Row(id, nid) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("nid",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .localCheckpoint(true)
    val rekeyed = edges
      .join(dict.select(col("id").as("src"), col("nid").as("nsrc")), "src")
      .join(dict.select(col("id").as("dst"), col("nid").as("ndst")), "dst")
      .select(col("nsrc").as("src"), col("ndst").as("dst"))
    val cc = graft.algos.ConnectedComponents.run(rekeyed, parts) // (nid, nlabel)
    val out = cc.state
      .select(col("vid"), col("label").as("nlabel"))
      .join(dict.select(col("nid").as("vid"), col("id").as("doc_id")), "vid")
      .join(dict.select(col("nid").as("nlabel"), col("id").as("canonical_id")), "nlabel")
      .select(col("doc_id"), col("canonical_id"))
      .localCheckpoint(true)
    graft.graph.Engine.release(cc.state)
    graft.graph.Engine.release(dict)
    out
  }

  // ---------------------------------------------------------------- simhash

  /** Number of SimHash bits: 60 = the width of StableHash.h60, so the
    * whole sketch (hash → bit votes → packing) is reproducible in any
    * engine without 64-bit overflow games. Hamming semantics are
    * unchanged — just a 60-bit fingerprint instead of 64. */
  val SimhashBits = 60

  /** 60-bit SimHash from word tokens: per-bit majority vote of token
    * hashes, packed into a long. Expressed as 60 conditional sums over
    * the exploded token set — one hash aggregation, map-side combined.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(split(lower(col(textCol)), "\\W+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", StableHash.h60(col("tok")))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val packed = (0 until SimhashBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), packed.as("simhash"))
  }

  /** SimHash near-dup candidates with Hamming distance ≤ maxHamming,
    * banded on 4×15-bit chunks (pigeonhole: distance ≤3 ⇒ some chunk
    * equal). Returns a MATERIALIZED frame — the chunked-fingerprint
    * cache behind the self-join is released before returning; release
    * the result with `graft.graph.Engine.release(result)`. */
  def simhashCandidates(sim: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = array((0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7fffL)).as("ck"))): _*)
    val chunked = sim.select(
      col("id"), col("simhash"), explode(chunks).as("c"))
      .select(col("id"), col("simhash"), col("c.chunk"), col("c.ck"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = chunked.as("a"); val b = chunked.as("b")
    val out = a.join(b, col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .localCheckpoint(true)
    chunked.unpersist(false)
    out
  }
}

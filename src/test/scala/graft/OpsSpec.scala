package graft

import org.apache.spark.sql.functions._
import graft.ops._

class DedupSpec extends SparkTestBase {

  private def docsDF(rows: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river bank", // exact dup of 1
    3L -> "the quick brown fox jumps over the lazy dog near the river shore", // near dup of 1
    4L -> "completely different content about spark catalyst optimizer internals",
    5L -> "another unrelated text mentioning distributed graph analytics engines")

  test("exact dedup keeps min id per hash group") {
    val d = Dedup.exact(docsDF(base))
    assert(d.count() == 4) // 1&2 collapse
    val dupRow = d.filter(col("dup_count") === 2).collect()
    assert(dupRow.length == 1 && dupRow(0).getAs[Long]("keep_id") == 1L)
    val drops = Dedup.exactDropIds(docsDF(base)).collect().map(_.getLong(0)).toSet
    assert(drops == Set(2L))
  }

  test("minhash LSH finds the near-dup pair and not unrelated pairs") {
    val cands = Dedup.minhashCandidates(docsDF(base), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L))) // identical → jaccard 1
    assert(cands.contains((1L, 3L)) || cands.contains((2L, 3L))) // near dup
    assert(!cands.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("exact ngram jaccard verifies candidates (identical pair = 1.0)") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(pairs, docsDF(base)).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(math.abs(j((1L, 2L)) - 1.0) < 1e-12)
    assert(j((1L, 4L)) < 0.1)
  }

  test("duplicate clusters: CC over candidate pairs, canonical = min id") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 7L), (5L, 9L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 5L -> 5L, 9L -> 5L)
    val got = Dedup.duplicateClusters(pairs, parts).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("duplicate clusters re-key ids outside the kernel-exact window and STAY on the kernel") {
    val s = spark; import s.implicits._
    // negative and >= 2^53 ids are legal doc ids (64-bit content
    // hashes / snowflakes — the common shape at 100 TB); the kernel
    // path carries labels as doubles, so these are re-keyed through a
    // dense-id dictionary (monotone, so canonical = min ORIGINAL id is
    // preserved)
    val big = (1L << 53) + 5L
    val big2 = Long.MaxValue - 17L
    val pairs = Seq((-3L, 8L), (8L, big), (big2, -40L)).toDF("id_a", "id_b")
    val want = Map(-3L -> -3L, 8L -> -3L, big -> -3L, -40L -> -40L, big2 -> -40L)
    val got = Dedup.duplicateClusters(pairs, parts).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("LSH self-join reads the persisted bucket frame on both sides") {
    // the signature pipeline (shingle explode + 64-way min agg) is the
    // dominant stage — without the persist it executes twice, once per
    // self-join side (audited on the lazy pipeline; the public wrapper
    // checkpoints the result, which hides the plan)
    val (lazyOut, buckets) =
      Dedup.minhashCandidatesLazy(docsDF(base), "doc_id", "text", 64, 16, 0.5)
    val plan = lazyOut.queryExecution.executedPlan.toString
    val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheScans >= 2, s"expected both join sides on the cache:\n$plan")
    buckets.unpersist(false)
  }

  test("sketch ops release their internal caches; results release via Engine.release") {
    val sc = spark.sparkContext
    def blocks(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = blocks()

    val mh = Dedup.minhashCandidates(docsDF(base), threshold = 0.5)
    assert(mh.count() >= 1)
    val sh = Dedup.simhashCandidates(Dedup.simhash(docsDF(base)), maxHamming = 16)
    assert(sh.count() >= 1)
    // each op may leave exactly ONE new block set: its materialized
    // (checkpointed) result — never the internal bucket/chunk caches
    graft.graph.Engine.release(mh)
    graft.graph.Engine.release(sh)
    assert(blocks() == before,
      s"sketch ops leaked cache blocks: ${blocks() -- before}")
  }

  test("simhash: identical docs share hash; hamming bands catch near dups") {
    val sim = Dedup.simhash(docsDF(base)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(1L) == sim(2L))
    val cands = Dedup.simhashCandidates(Dedup.simhash(docsDF(base)), maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }
}

class SimilaritySpec extends SparkTestBase {

  private def vecsDF(rows: Seq[(Long, Array[Float])]) = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => i.toLong -> Array.fill(dim)(r.nextGaussian().toFloat))
  }

  private def cosineScala(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na / 1.0 * nb)
  }

  test("brute-force top-k matches an in-memory ranking") {
    val vs = randVecs(40, 16, seed = 61)
    val df = vecsDF(vs)
    val q = vecsDF(vs.take(3))
    val got = Similarity.bruteForceTopK(df, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("nbr_id")).toMap
    val lookup = vs.toMap
    vs.take(3).foreach { case (qid, qv) =>
      val want = vs.filter(_._1 != qid)
        .map { case (id, v) => (id, cosineScala(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val gotIds = (1 to 5).map(rk => got((qid, rk)))
      assert(gotIds == want, s"query $qid")
    }
  }

  test("LSH top-k achieves decent recall vs brute force") {
    val vs = randVecs(120, 16, seed = 67)
    val df = vecsDF(vs)
    val q = vecsDF(vs.take(5))
    val exact = Similarity.bruteForceTopK(df, q, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val approx = Similarity.lshTopK(df, q, k = 3, dim = 16, nPlanes = 4, tables = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall=$recall") // loose: tiny dims, hash planes
  }

  test("cosine near-dup finds planted duplicates") {
    val vs = randVecs(50, 16, seed = 71)
    // plant: 100 is a tiny perturbation of 0
    val planted = vs :+ (100L -> vs.head._2.map(x => x + 0.001f))
    val dups = Similarity.cosineNearDup(vecsDF(planted), threshold = 0.99,
      dim = 16, nPlanes = 4, tables = 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((0L, 100L)))
  }

  test("dimensionality mismatch raises instead of silently degenerating") {
    // FloatDotProduct yields null on length mismatch and when(null>=0)
    // would otherwise quietly zero every SRP bit — collapsing all
    // vectors into one bucket (a quadratic cross-join). Must fail fast.
    val bad = randVecs(8, 16, seed = 73) :+ (99L -> Array.fill(12)(0.5f))
    val ex = intercept[Exception] {
      Similarity.lshTopK(vecsDF(bad), vecsDF(bad.take(2)), k = 3,
        dim = 16, nPlanes = 4, tables = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dimensionality mismatch")), s"got: $ex")
  }
}

class TextAnalysisSpec extends SparkTestBase {

  private def docsDF(rows: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("token counts: whitespace and bpe-ish") {
    val df = docsDF(Seq(1L -> "hello world, it's 2026!", 2L -> ""))
      .select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("bpe"))
    val m = df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(m(1L)._1 == 4) // hello / world, / it's / 2026!
    // hello|world|,|it|'|s|2026|! = 8
    assert(m(1L)._2 == 8)
    assert(m(2L) == ((0, 0)))
  }

  test("quality score separates prose from junk") {
    val df = TextAnalysis.withQuality(docsDF(Seq(
      1L -> "The quick brown fox jumps over the lazy dog and runs to the forest with a happy smile on its face.",
      2L -> "!!! ??? ;;; ### $$$ %%% @@@ &&& *** ((()))",
      3L -> "x")))
    val scores = df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(scores(1L) > 0.5)
    assert(scores(2L) < 0.1)
    assert(scores(3L) == 0.0)
  }

  test("language id picks the right stopword family") {
    val df = TextAnalysis.withLangId(docsDF(Seq(
      1L -> "the cat is on the mat and it is happy with this",
      2L -> "der hund ist nicht auf der matte und das ist auch gut",
      3L -> "le chat est dans la maison avec les enfants et il est content",
      4L -> "el perro es grande y la casa es blanca para su familia",
      5L -> "zzz qqq xxx")))
    val m = df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_id")).toMap
    assert(m == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("fingerprint is deterministic and locality-sensitive") {
    val a = "the quick brown fox jumps over the lazy dog and then some more words here"
    val b = a + " with a tiny suffix appended"
    val c = "completely different material on an unrelated topic entirely for contrast purposes okay"
    val df = docsDF(Seq(1L -> a, 2L -> a, 3L -> b, 4L -> c))
    val fps = TextAnalysis.withFingerprint(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[java.lang.Long](2).toVector).toMap
    assert(fps(1L) == fps(2L)) // deterministic
    val sharedAB = fps(1L).zip(fps(3L)).count { case (x, y) => x == y }
    val sharedAC = fps(1L).zip(fps(4L)).count { case (x, y) => x == y }
    assert(sharedAB > sharedAC) // locality
  }
}

class MultimodalSpec extends SparkTestBase {

  test("media plumbing: schema, batched feature extraction, determinism") {
    val media = Multimodal.syntheticMedia(spark, 30, payloadBytes = 512)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.features.length == 16))
    // image/video rows keep the fixed opaque payload; audio rows carry
    // real WAV containers (44-byte header + 2 bytes/frame)
    feats.foreach { f =>
      if (f.kind == "audio") assert(f.n_bytes > 44 && (f.n_bytes - 44) % 2 == 0)
      else assert(f.n_bytes == 512)
    }
    // deterministic: same id → same features across runs
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30, 512))
      .collect().map(f => f.media_id -> f.features.toVector).toMap
    feats.foreach(f => assert(again(f.media_id) == f.features.toVector))
  }

  test("WAV codec: PCM16 round-trip is exact, duration from frame count") {
    val samples = Array.tabulate[Short](1603)(i => ((i * 37) % 4096 - 2048).toShort)
    val w = Multimodal.decodeWavPcm16(Multimodal.encodeWavPcm16(16000, samples))
    assert(w.sampleRate == 16000 && w.channels == 1 && w.bitsPerSample == 16)
    assert(w.nFrames == 1603 && w.durationMs == 1603L * 1000 / 16000)
    assert(w.samples.toSeq == samples.toSeq) // bit-exact sample recovery
    // stereo: frames = samples/channels
    val st = Multimodal.decodeWavPcm16(
      Multimodal.encodeWavPcm16(8000, Array[Short](1, -1, 2, -2), channels = 2))
    assert(st.channels == 2 && st.nFrames == 2 && st.durationMs == 0)
  }

  test("WAV decoder walks extra chunks and rejects non-WAV payloads") {
    // inject a LIST chunk between fmt and data: decoder must skip it
    val base = Multimodal.encodeWavPcm16(8000, Array[Short](5, 6, 7))
    val listChunk = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val padded = base.slice(0, 36) ++ listChunk ++ base.slice(36, base.length)
    // fix RIFF size field (+12 bytes)
    val bb = java.nio.ByteBuffer.wrap(padded).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, bb.getInt(4) + 12)
    val w = Multimodal.decodeWavPcm16(padded)
    assert(w.samples.toSeq == Seq[Short](5, 6, 7))

    intercept[IllegalArgumentException](Multimodal.decodeWavPcm16(Array.fill[Byte](100)(7)))
    intercept[IllegalArgumentException](Multimodal.decodeWavPcm16("RIFFxxxxWAVE".getBytes))
    // truncated data chunk (header claims more than the payload has)
    intercept[IllegalArgumentException](
      Multimodal.decodeWavPcm16(base.slice(0, base.length - 2)))
  }

  test("audio features come from decoded samples, not byte hashes") {
    // two WAVs with identical byte LENGTH but different samples must
    // produce different features; silence must produce all-zero bins
    val loud = Multimodal.encodeWavPcm16(8000, Array.fill[Short](64)(20000))
    val quiet = Multimodal.encodeWavPcm16(8000, Array.fill[Short](64)(0))
    val fl = Multimodal.audioFeatures(Multimodal.decodeWavPcm16(loud))
    val fq = Multimodal.audioFeatures(Multimodal.decodeWavPcm16(quiet))
    assert(fq.forall(_ == 0.0f))
    assert(fl.forall(b => math.abs(b - 20000 / 32768.0f) < 1e-4f))
  }

  test("frame sampling strides video payloads only") {
    val media = Multimodal.syntheticMedia(spark, 9, payloadBytes = 1024)
    val frames = Multimodal.sampleFrames(media, stride = 256)
    val byMedia = frames.collect().groupBy(_.getLong(0))
    assert(byMedia.keySet == Set(2L, 5L, 8L)) // ids ≡ 2 mod 3 are video
    byMedia.values.foreach(f => assert(f.length == 4)) // 1024/256
  }

  test("audit is pure column ops over binary payloads") {
    val media = Multimodal.syntheticMedia(spark, 12, payloadBytes = 64).toDF()
    val a = Multimodal.audit(media).collect()
    assert(a.length == 12 && a.forall(_.getAs[Boolean]("non_empty")))
  }
}

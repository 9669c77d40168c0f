package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algos._
import graft.ops._

/** Driver contract — one `queries` entry per operator family from
  * SURVEY.md §2 (+ the training-data ops), each over the driver's
  * parquet tables under `sfDir`; `oracleSql` gives the DuckDB-
  * equivalent SQL for the SQL-expressible subset. Graph queries run on
  * a deterministic derived edge table (mod-bucketed lineitem keys) so
  * Spark and DuckDB see the identical graph.
  */
object SparkEntry {

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Derived edge table: src = l_orderkey mod 1000, dst = l_partkey
    * mod 1000, one row per lineitem (parallel edges kept; graph algos
    * shape as needed). Same expression in the DuckDB oracles. */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem").select(
      (col("l_orderkey") % 1000).as("src"),
      (col("l_partkey") % 1000).as("dst"))

  private val edgesSql =
    "SELECT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst FROM lineitem"

  private def parts(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Exact row count of a projection over a single parquet relation,
    * read DRIVER-SIDE from the parquet footers (row-group counts) —
    * the same number `df.count()` returns, without launching a job.
    * Falls back to `df.count()` for any other plan shape (filters,
    * joins, checkpointed RDDs). */
  private[graft] def fastRowCount(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => strip(c)
      case other => other
    }
    strip(df.queryExecution.optimizedPlan) match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
          if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val conf = df.sparkSession.sessionState.newHadoopConf()
          try fs.location.inputFiles.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
          catch { case scala.util.control.NonFatal(_) => df.count() }
        case _ => df.count()
      }
      case _ => df.count()
    }
  }

  /** Partition count sized to the graph: ~100k edges per partition,
    * capped at the session's shuffle partitions (so at real scale it
    * IS spark.sql.shuffle.partitions — this only right-sizes the
    * iterative superstep jobs on small derived graphs, where
    * task-launch overhead × supersteps would otherwise dominate).
    * The size probe reads parquet footers driver-side when it can
    * (identical count, no job — the old `edges.count()` was a full
    * scan job repeated by every graph query). */
  private def graphParts(spark: SparkSession, edges: DataFrame): Int = {
    val e = fastRowCount(edges)
    math.max(2, math.min(parts(spark), (e / 100000L).toInt + 1))
  }

  /** Flagship: PageRank over the repo-link pipeline at tiny scale —
    * corpus → edge extraction (sha256 invariant) → 10 kernel
    * supersteps → top-ranked repos. Exercises ingest + kernel end-to-end. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.ingest._
    val corpus = RepoCorpus.generate(spark, RepoCorpus.Config(nRepos = 300, filesPerRepo = 3))
    val (e, dict) = EdgeExtraction.ingest(EdgeExtraction.withSha(corpus))
    val pr = PageRank.run(e, parts(spark), maxIters = 10)
    pr.state.join(dict, "vid").select(col("repo"), col("rank"))
      .orderBy(desc("rank"), asc("repo")).limit(20)
  }

  /** The derived edge table with a deterministic integer-valued weight
    * in [1, 5] (exact in double, so engine-portable). */
  private def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem").select(
      (col("l_orderkey") % 1000).as("src"),
      (col("l_partkey") % 1000).as("dst"),
      (lit(1.0) + (col("l_linenumber") % 5).cast("double")).as("w"))

  private type Query = (SparkSession, String) => DataFrame

  // ---- the superstep algorithms, one body each over the algos API,
  // which decides each algorithm's edge shape and program. Partitions
  // are sized to the graph (graphParts): on these small derived graphs
  // the supersteps are task-launch-bound, so full-width stages would
  // cost more in scheduling than they save; at real scale graphParts
  // IS spark.sql.shuffle.partitions.

  /** Reference-exact PageRank (pr.h), a fixed 20-superstep budget
    * (matches the 20-step unrolled oracle), top 25 ranks. */
  private val pagerankTop: Query = (s, d) => {
    val e = edges(s, d)
    val r = PageRank.run(e, graphParts(s, e), maxIters = 20)
    r.state.select(col("vid"), round(col("rank"), 6).as("rank"))
      .orderBy(desc("rank"), asc("vid")).limit(25)
  }

  /** Connected components on the kernel's frontier (SpmvKernel SpMSpV)
    * mode over the undirected closure: the size of each component,
    * labelled by its min vid. */
  private val ccSizes: Query = (s, d) => {
    val e = edges(s, d)
    val r = ConnectedComponents.run(e, graphParts(s, e))
    r.state.groupBy(col("label"))
      .agg(count(lit(1)).as("size")).orderBy(asc("label"))
  }

  /** Frequency LPA (max count, then min label), 5 supersteps, on the
    * kernel (LabelPropagation.run): the 20 largest labels. */
  private val lpaTop: Query = (s, d) => {
    val e = edges(s, d)
    val r = LabelPropagation.run(e, graphParts(s, e), maxIters = 5)
    r.state.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("label")).limit(20)
  }

  /** BFS from vid 0 on the frontier mode (hops = iter+1 at discovery):
    * vertices per hop count, null for the unreached. */
  private val bfsDepths: Query = (s, d) => {
    val e = edges(s, d)
    val r = Traversal.bfs(e, 0L, graphParts(s, e))
    r.state.groupBy(col("hops"))
      .agg(count(lit(1)).as("n")).orderBy(asc("hops"))
  }

  /** Directed SSSP from vid 0 on the frontier mode: vertices per
    * reached distance. The relax is msg + w over a `w` column (the
    * reference's -DHAS_WEIGHT build, sssp.h:49-66), msg + 1 without. */
  private def ssspDists(s: SparkSession, e: DataFrame): DataFrame = {
    val r = Traversal.sssp(e, 0L, graphParts(s, e))
    r.state.filter(col("dist").isNotNull)
      .groupBy(col("dist")).agg(count(lit(1)).as("n")).orderBy(asc("dist"))
  }

  private val ssspUnweighted: Query = (s, d) => ssspDists(s, edges(s, d))
  private val ssspWeighted: Query = (s, d) => ssspDists(s, weightedEdges(s, d))

  /** In-degree per vertex: the reference's Deg_Program (deg.h:32-52)
    * is one sum superstep, which the count aggregation computes
    * directly. */
  private val degreeIn: Query = (s, d) => Degree.in(edges(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans/aggregations over the driver tables (S-/A-family)
    "q_checksum" -> ((s, d) => read(s, d, "lineitem")
      .agg(round(sum(col("l_quantity")), 2).as("checksum"),
        count(lit(1)).as("n_rows"))),
    "q_stats" -> ((s, d) => read(s, d, "orders")
      .agg(round(avg(col("o_totalprice")), 4).as("avg_price"),
        round(stddev(col("o_totalprice")), 4).as("sd_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        count(lit(1)).as("n_rows"))),
    "q_topk" -> ((s, d) => read(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10)),
    // NOTE value sums run over DECIMAL, not DOUBLE: double summation
    // order differs between engines, so a float sum landing within an
    // ulp of a 1e-4 rounding boundary would flake the oracle; the
    // decimal aggregate is order-independent and exact.
    "q_events_hourly" -> ((s, d) => read(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("total"))),
    "q_mode_degree" -> ((s, d) => Degree.out(edges(s, d))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(desc("n_vertices"), asc("degree")).limit(1)),

    // ---- graph: degree / filtering / classification (F-family)
    "q_degree_out" -> ((s, d) => Degree.out(edges(s, d))),
    "q_degree_in" -> degreeIn,
    "q_vertex_classes" -> ((s, d) => {
      // reference classify_vertices (matrix.hpp:1125-1282): regular =
      // in∩out, source = out-only, sink = in-only. The three class
      // streams (still the semi/anti-join classification) are tagged
      // and union'd so ONE aggregation job returns all three counts —
      // the three separate .count() actions ran 16 AQE jobs.
      val e = edges(s, d)
      val outV = e.select(col("src").as("vid")).distinct()
      val inV = e.select(col("dst").as("vid")).distinct()
      val tagged = outV.join(inV, Seq("vid"), "left_semi").select(lit(0).as("k"))
        .unionAll(outV.join(inV, Seq("vid"), "left_anti").select(lit(1).as("k")))
        .unionAll(inV.join(outV, Seq("vid"), "left_anti").select(lit(2).as("k")))
      tagged.agg(
        coalesce(sum(when(col("k") === 0, 1L).otherwise(0L)), lit(0L)).as("n_regular"),
        coalesce(sum(when(col("k") === 1, 1L).otherwise(0L)), lit(0L)).as("n_source"),
        coalesce(sum(when(col("k") === 2, 1L).otherwise(0L)), lit(0L)).as("n_sink"))
    }),

    // ---- graph algorithms (J-/A-family; exact parity vs reference semantics)
    "q_triangles" -> ((s, d) => {
      val n = TriangleCount.count(edges(s, d), parts(s))  // wedge join is compute-bound: full parallelism
      val sp = s; import sp.implicits._
      Seq(n).toDF("n_triangles")
    }),
    // Each superstep algorithm has one body on the tile-compiled kernel
    // (graph/SpmvKernel), bound to two names: the original query name
    // and its `_kernel` name; `q_degree_kernel` is `q_degree_in`. Each
    // name keeps its own oracle SQL.
    "q_pagerank_top" -> pagerankTop,
    "q_pagerank_kernel" -> pagerankTop,
    "q_cc_kernel" -> ccSizes,
    "q_bfs_kernel" -> bfsDepths,
    "q_sssp_kernel" -> ssspUnweighted,
    "q_ssspw_kernel" -> ssspWeighted,
    "q_degree_kernel" -> degreeIn,
    "q_cc_sizes" -> ccSizes,
    "q_lpa" -> lpaTop,
    "q_lpa_kernel" -> lpaTop,
    "q_bfs_depths" -> bfsDepths,
    "q_sssp" -> ssspUnweighted,
    "q_sssp_weighted" -> ssspWeighted,

    // ---- training-data ops: dedup / text / similarity
    "q_dedup_exact" -> ((s, d) => Dedup.exact(read(s, d, "documents"), "doc_id", "text")),
    "q_token_counts" -> ((s, d) => read(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws_tokens"))),
    "q_quality" -> ((s, d) => TextAnalysis.withQuality(read(s, d, "documents"))
      .select(col("doc_id"), col("n_words"),
        round(col("punct_ratio"), 4).as("punct_ratio"),
        round(col("quality_score"), 4).as("quality_score"))),
    "q_lang_id" -> ((s, d) => TextAnalysis.withLangId(read(s, d, "documents"))
      .groupBy(col("lang_id")).agg(count(lit(1)).as("n"))),
    "q_minhash_dups" -> ((s, d) =>
      Dedup.minhashCandidates(read(s, d, "documents"), threshold = 0.5)),
    "q_dedup_clusters" -> ((s, d) => {
      // full near-dup pipeline: minhash LSH candidates → CC clusters →
      // canonical representative per document. minhashCandidates
      // returns a MATERIALIZED pair frame, so the graphParts count and
      // the CC pass both read its checkpoint blocks — the LSH bucket
      // self-join executes exactly once.
      val docs = read(s, d, "documents")
      val cands = Dedup.minhashCandidates(docs, threshold = 0.5)
      docs.select(col("doc_id"))
        .join(Dedup.duplicateClusters(cands, graphParts(s, cands)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
    }),
    "q_ngram_jaccard" -> ((s, d) => {
      // exact 3-gram Jaccard over a deterministic pair set (each doc
      // with its successor) — the LSH-candidate verification operator
      val docs = read(s, d, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(pairs, docs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "q_simhash" -> ((s, d) => Dedup.simhash(read(s, d, "documents"))),
    "q_fingerprints" -> ((s, d) =>
      // flat (doc_id, band, minhash) index-table form: one row per
      // non-empty band; the array form chokes the driver's pandas
      // compare AND pays interpreted-lambda re-evaluation
      TextAnalysis.fingerprintTable(read(s, d, "documents"))),
    "q_ann_topk" -> ((s, d) => {
      val em = read(s, d, "embeddings")
      // deterministic query set (a LIMIT over a parquet scan is not)
      Similarity.bruteForceTopK(em, em.filter(col("vec_id") < 16), k = 5)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"))
    }),
    "q_ann_lsh" -> ((s, d) => {
      // the ANN scale path: SRP-bucketed candidate join + exact rank
      // of the candidate union (vs q_ann_topk's brute-force baseline)
      val em = read(s, d, "embeddings")
      Similarity.lshTopK(em, em.filter(col("vec_id") < 16), k = 5, dim = EmbeddingDim)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"))
    }),
    "q_cosine_neardup" -> ((s, d) => {
      // random embeddings contain no true near-dups, so plant some:
      // shifted-id near-copies (tiny deterministic perturbation) must
      // come back out of the LSH-bucketed pair search
      val em = read(s, d, "embeddings")
      val planted = em.filter(col("vec_id") < 8).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
      Similarity.cosineNearDup(em.select("vec_id", "embedding").unionAll(planted),
        threshold = 0.99, dim = EmbeddingDim)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }),
    "q_media_audit" -> ((s, d) =>
      // multimodal binary-column path: text bytes riding as opaque
      // blobs through the media schema, audited with pure column ops
      Multimodal.audit(Multimodal.fromDocuments(read(s, d, "documents")))),
    "q_wav_decode" -> ((s, d) => {
      // REAL audio decode end-to-end: build a deterministic PCM16 WAV
      // blob per document, then parse it back with the byte-level
      // RIFF/WAVE decoder — rate, frame count, duration and the sample
      // sum all come out of the PARSED bytes, while the oracle
      // recomputes them from doc_id arithmetic alone. Any header or
      // sample-extraction bug breaks the hash.
      val sp = s; import sp.implicits._
      read(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = (64 + id % 64).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (((id * 31 + i * 7) % 4096) - 2048).toShort)
        val w = Multimodal.decodeWavPcm16(Multimodal.encodeWavPcm16(8000, samples))
        (id, w.sampleRate.toLong, w.nFrames.toLong, w.durationMs,
          w.samples.foldLeft(0L)(_ + _))
      }.toDF("doc_id", "sample_rate", "n_samples", "duration_ms", "sum_samples")
    }),

    // ---- sources/sinks end-to-end (S2 text scan, S4 converter, S5
    // binary reader): weighted derived edges → text edge-list (plus a
    // planted #/% comment file the scan must skip) → fixed-width LE
    // binary via the converter → binary reader → order-independent
    // checksum aggregate. Any corruption anywhere in the chain moves
    // a sum. The one-row result is collected before the work dir is
    // deleted.
    "q_edgelist_roundtrip" -> ((s, d) => {
      val e = weightedEdges(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-el")
      val work = dir.toString
      try {
        sources.EdgeListSource.writeText(e, s"$work/text")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$work/text/zz-comments.txt"),
          "# generated edge list\n% matrix-market style comment\n\n")
        val t = sources.EdgeListSource.readText(s, s"$work/text")
        sources.EdgeListSource.writeBinary(t, s"$work/edges.bin", weighted = true)
        val b = sources.EdgeListSource.readBinary(s, s"$work/edges.bin", weighted = true)
        val sums = b.agg(count(lit(1)).as("n_edges"),
          sum(col("src")).as("sum_src"), sum(col("dst")).as("sum_dst"),
          round(sum(col("w")), 2).as("sum_w"))
        s.createDataFrame(java.util.Arrays.asList(sums.collect(): _*), sums.schema)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }),

    // ---- streaming end-to-end: the windowed event aggregation run as
    // an actual Structured Streaming job (file stream → watermarkless
    // Complete-mode window agg → AvailableNow to completion), which
    // must equal the plain batch groupBy the oracle computes.
    "q_stream_hourly" -> ((s, d) =>
      graft.streaming.LinkStream.runWindowedEventCounts(s, s"$d/events.parquet")))

  /** Embedding dimensionality of the driver's embeddings table (fixed
    * by the generator; the SRP plane literals depend on it). */
  private val EmbeddingDim = 64

  /** Undirected closure of the derived edge table as a DuckDB CTE
    * body; `selfLoops=false` drops src==dst first when asked. */
  private def undirectedSql(dropSelfLoops: Boolean): String = {
    val w = if (dropSelfLoops) " WHERE src<>dst" else ""
    s"ue AS (SELECT DISTINCT a,b FROM (SELECT src AS a,dst AS b FROM raw$w " +
      s"UNION ALL SELECT dst,src FROM raw$w))"
  }

  /** CC oracle: min-label over the undirected closure via recursive
    * reachability pairs (terminates — UNION dedups (v,m) pairs, both
    * drawn from the finite vertex set). */
  private def ccSizesSql: String =
    s"WITH RECURSIVE raw AS ($edgesSql), ${undirectedSql(dropSelfLoops = false)}, " +
      "v AS (SELECT DISTINCT a AS vid FROM ue), " +
      "r AS (SELECT vid AS v, vid AS m FROM v " +
      "UNION SELECT ue.b, r.m FROM r JOIN ue ON ue.a=r.v) " +
      "SELECT label, COUNT(*) AS size FROM " +
      "(SELECT v, MIN(m) AS label FROM r GROUP BY v) GROUP BY label"

  /** Shortest-hop recursion bounded at 100 — these mod-1000 graphs are
    * dense (≥6 edges/vertex at the smallest sf) so the true diameter
    * is single-digit; 100 only caps the cycle-walk frontier. */
  private val HopBound = 100

  private def bfsDepthsSql: String =
    s"WITH RECURSIVE raw AS ($edgesSql), ${undirectedSql(dropSelfLoops = true)}, " +
      "v AS (SELECT DISTINCT a AS vid FROM ue), " +
      s"r AS (SELECT vid AS v, 0 AS d FROM v WHERE vid=0 " +
      s"UNION SELECT ue.b, r.d+1 FROM r JOIN ue ON ue.a=r.v WHERE r.d < $HopBound), " +
      "h AS (SELECT v, MIN(d) AS hops FROM r GROUP BY v) " +
      "SELECT h.hops AS hops, COUNT(*) AS n FROM v LEFT JOIN h ON v.vid=h.v GROUP BY h.hops"

  private def ssspSql: String =
    s"WITH RECURSIVE raw AS ($edgesSql), " +
      "e AS (SELECT DISTINCT src,dst FROM raw), " +
      "v AS (SELECT DISTINCT src AS vid FROM raw UNION SELECT DISTINCT dst FROM raw), " +
      s"r AS (SELECT vid AS v, 0 AS d FROM v WHERE vid=0 " +
      s"UNION SELECT e.dst, r.d+1 FROM r JOIN e ON e.src=r.v WHERE r.d < $HopBound) " +
      "SELECT CAST(dist AS DOUBLE) AS dist, COUNT(*) AS n FROM " +
      "(SELECT v, MIN(d) AS dist FROM r GROUP BY v) GROUP BY 1"

  /** Frequency-LPA unrolled to exactly `iters` synchronous steps —
    * identical tie-break to the kernel LPA (max count, then min
    * label). A converged run is a fixpoint, so running the full
    * unrolled budget matches Spark's early-stop. */
  private def lpaSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"w$i AS (SELECT ue.b AS vid, p.label AS lab, COUNT(*) AS c " +
        s"FROM ue JOIN l${i - 1} p ON p.vid=ue.a GROUP BY 1,2 " +
        s"QUALIFY ROW_NUMBER() OVER (PARTITION BY ue.b ORDER BY COUNT(*) DESC, p.label ASC) = 1), " +
        s"l$i AS (SELECT v.vid, COALESCE(w$i.lab, p.label) AS label FROM v " +
        s"JOIN l${i - 1} p ON p.vid=v.vid LEFT JOIN w$i ON w$i.vid=v.vid)"
    }.mkString(", ")
    s"WITH raw AS ($edgesSql), ${undirectedSql(dropSelfLoops = true)}, " +
      "v AS (SELECT DISTINCT a AS vid FROM ue), " +
      s"l0 AS (SELECT vid, vid AS label FROM v), $steps " +
      s"SELECT label, COUNT(*) AS n FROM l$iters GROUP BY label ORDER BY n DESC, label LIMIT 20"
  }

  /** Reference-semantics PageRank (rank₀=α; rank←α+(1−α)·Σ rank/deg;
    * no dangling redistribution; parallel edges each contribute)
    * unrolled to exactly `iters` steps — the fixed-budget mode never
    * stops early, so the unrolled SQL is step-for-step identical. */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"r$i AS (SELECT v.vid, 0.15 + 0.85*COALESCE(s.y, 0) AS rank FROM v LEFT JOIN " +
        s"(SELECT e.dst AS vid, SUM(p.rank/deg.d) AS y FROM e JOIN r${i - 1} p ON p.vid=e.src " +
        s"JOIN deg ON deg.vid=e.src GROUP BY e.dst) s ON s.vid=v.vid)"
    }.mkString(", ")
    s"WITH e AS ($edgesSql), " +
      "v AS (SELECT DISTINCT src AS vid FROM e UNION SELECT DISTINCT dst FROM e), " +
      "deg AS (SELECT src AS vid, COUNT(*) AS d FROM e GROUP BY src), " +
      s"r0 AS (SELECT vid, CAST(0.15 AS DOUBLE) AS rank FROM v), $steps " +
      s"SELECT vid, ROUND(rank, 6) AS rank FROM r$iters " +
      "ORDER BY ROUND(rank,6) DESC, vid LIMIT 25"
  }

  /** DuckDB array literals of the embedded stopword lists (kept in
    * lockstep with graft.ops.Stopwords). */
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** q_quality oracle: replicates TextAnalysis.qualityColumns
    * term-for-term. `[!-/:-@\[-`{-~]` is ASCII \p{Punct} spelled as
    * RE2 ranges (the documents are pure ASCII). */
  private def qualitySql: String = {
    val en = sqlList(graft.ops.Stopwords.enWords)
    "WITH base AS (SELECT doc_id, text, LENGTH(text) AS n_chars, " +
      "list_filter(regexp_split_to_array(LOWER(text), '\\W+'), w -> LENGTH(w)>0) AS words, " +
      "LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct FROM documents), " +
      "b2 AS (SELECT doc_id, n_chars, words, punct, LENGTH(words) AS n_words, " +
      "list_distinct(words) AS dwords, " +
      "CASE WHEN LENGTH(words)>0 THEN CAST(list_sum(list_transform(words, w -> LENGTH(w))) AS DOUBLE)/LENGTH(words) ELSE 0.0 END AS mean_word_len FROM base), " +
      "b3 AS (SELECT doc_id, n_words, " +
      "CASE WHEN n_chars>0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 1.0 END AS punct_ratio, " +
      s"CASE WHEN LENGTH(dwords)>0 THEN CAST(LENGTH(list_intersect(dwords, $en)) AS DOUBLE)/LENGTH(dwords) ELSE 0.0 END AS stop_ratio, " +
      "CASE WHEN n_words>=5 AND n_chars>=20 THEN 1.0 ELSE 0.0 END AS length_ok, mean_word_len FROM b2) " +
      "SELECT doc_id, n_words, ROUND(punct_ratio,4) AS punct_ratio, " +
      "ROUND(length_ok * (1.0 - LEAST(punct_ratio*4, 1.0)) * LEAST(stop_ratio*5 + 0.2, 1.0) * " +
      "(CASE WHEN mean_word_len BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.3 END), 4) AS quality_score FROM b3"
  }

  /** q_lang_id oracle: same stopword-hit argmax; the CASE order
    * (de, en, es, fr) reproduces the lexicographic tie-break. */
  private def langIdSql: String = {
    val ls = graft.ops.Stopwords.lists
    val scoreCols = ls.map { case (k, ws) =>
      s"CAST(LENGTH(list_intersect(dwords, ${sqlList(ws)})) AS DOUBLE)/${ws.size} AS s_$k"
    }.mkString(", ")
    val g = ls.map(l => s"s_${l._1}").mkString("GREATEST(", ",", ")")
    val cases = ls.init.map { case (k, _) => s"WHEN s_$k = $g THEN '$k'" }.mkString(" ")
    "WITH base AS (SELECT doc_id, " +
      "list_distinct(list_filter(regexp_split_to_array(LOWER(text), '\\W+'), w -> LENGTH(w)>0)) AS dwords FROM documents), " +
      s"sc AS (SELECT doc_id, $scoreCols FROM base), " +
      s"best AS (SELECT doc_id, CASE WHEN $g <= 0 THEN 'und' $cases ELSE '${ls.last._1}' END AS lang_id FROM sc) " +
      "SELECT lang_id, COUNT(*) AS n FROM best GROUP BY lang_id"
  }

  /** q_ngram_jaccard oracle: replicates Dedup.shingles exactly —
    * tokens = `\W+` split of lowercase text WITHOUT empty-token
    * filtering, 3-gram windows joined by ' ', distinct; empty shingle
    * set when fewer than 3 tokens. */
  private def ngramJaccardSql: String =
    "WITH toks AS (SELECT doc_id, regexp_split_to_array(LOWER(text), '\\W+') AS t FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN LENGTH(t) >= 3 THEN " +
      "list_distinct(list_transform(range(0, LENGTH(t)-2), i -> array_to_string(list_slice(t, i+1, i+3), ' '))) " +
      "ELSE [] END AS s FROM toks), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb " +
      "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1) " +
      "SELECT id_a, id_b, ROUND(CASE WHEN LENGTH(list_distinct(list_concat(sa, sb))) = 0 THEN 0.0 " +
      "ELSE CAST(LENGTH(list_intersect(sa, sb)) AS DOUBLE) / LENGTH(list_distinct(list_concat(sa, sb))) END, 6) AS jaccard " +
      "FROM pairs"

  // ------------------------------------------------------------------
  // Sketch-pipeline oracles. These replicate the MinHash / SimHash /
  // fingerprint / SRP pipelines term-for-term in DuckDB SQL — possible
  // because the sketches hash with graft.functions.StableHash (sha256-
  // derived, every intermediate < 2^63) and the SRP hyperplanes are
  // plan-time literals. Seed constants and plane literals below are
  // generated from the SAME Scala code the Spark plans use.
  // ------------------------------------------------------------------

  private val H = graft.functions.StableHash
  private def hSql(e: String): String = H.h60Sql(e)

  /** `\W+`-token CTEs over documents — raw (shingle semantics keep
    * empty tokens, mirroring Dedup.shingles) and empty-filtered. */
  private val rawToksCte =
    "toks AS (SELECT doc_id, regexp_split_to_array(LOWER(text), '\\W+') AS t FROM documents)"
  private val neToksCte =
    "toks AS (SELECT doc_id, list_filter(regexp_split_to_array(LOWER(text), '\\W+'), " +
      "w -> LENGTH(w) > 0) AS t FROM documents)"
  private val shinglesCte =
    "sh AS (SELECT doc_id, CASE WHEN LENGTH(t) >= 3 THEN " +
      "list_distinct(list_transform(range(0, LENGTH(t)-2), i -> array_to_string(list_slice(t, i+1, i+3), ' '))) " +
      "ELSE [] END AS s FROM toks)"

  /** CTE chain ending in `cand(id_a, id_b, est_jaccard)` — the full
    * MinHash+LSH candidate pipeline (Dedup.minhashCandidates). */
  private def minhashCandCtes(numHashes: Int, bands: Int, threshold: Double): String = {
    val rows = numHashes / bands
    val aList = (0 until numHashes).map(H.seedA).mkString("[", ",", "]")
    val bList = (0 until numHashes).map(H.seedB).mkString("[", ",", "]")
    s"$rawToksCte, $shinglesCte, " +
      s"hs AS (SELECT doc_id, list_transform(s, x -> ${hSql("x")} % ${H.P31}) AS hl " +
      "FROM sh WHERE LENGTH(s) > 0), " +
      s"seeds AS (SELECT $aList AS seed_a, $bList AS seed_b), " +
      s"sig AS (SELECT doc_id, list_transform(range(0, $numHashes), " +
      s"k -> list_min(list_transform(hl, h -> (seed_a[k+1] * h + seed_b[k+1]) % ${H.P31}))) AS sg " +
      "FROM hs, seeds), " +
      "bk AS (SELECT doc_id, sg, bb.band AS band, " +
      hSql(s"array_to_string(list_slice(sg, bb.band*$rows+1, bb.band*$rows+$rows), ',')") +
      s" AS bh FROM sig, (SELECT unnest(range(0, $bands)) AS band) bb), " +
      "pr AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sg AS sg_a, y.sg AS sg_b " +
      "FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id), " +
      s"cand AS (SELECT * FROM (SELECT id_a, id_b, " +
      s"CAST(LENGTH(list_filter(range(0, $numHashes), i -> sg_a[i+1] = sg_b[i+1])) AS DOUBLE) / $numHashes " +
      s"AS est_jaccard FROM pr) WHERE est_jaccard >= $threshold)"
  }

  private def minhashDupsSql: String =
    s"WITH ${minhashCandCtes(64, 16, 0.5)} SELECT id_a, id_b, est_jaccard FROM cand"

  /** q_dedup_clusters oracle: recursive-CTE connected components over
    * the reproduced candidate pairs, canonical = min reachable id,
    * un-paired docs their own canonical (same recursion pattern as
    * ccSizesSql — UNION dedups (v,m) pairs so it terminates). */
  private def dedupClustersSql: String =
    s"WITH RECURSIVE ${minhashCandCtes(64, 16, 0.5)}, " +
      "ue AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand), " +
      "r AS (SELECT a AS v, a AS m FROM ue UNION SELECT ue.b, r.m FROM r JOIN ue ON ue.a = r.v), " +
      "lab AS (SELECT v, MIN(m) AS canonical FROM r GROUP BY v) " +
      "SELECT d.doc_id, COALESCE(lab.canonical, d.doc_id) AS canonical_id " +
      "FROM documents d LEFT JOIN lab ON lab.v = d.doc_id"

  /** q_simhash oracle: 60 per-bit majority votes over StableHash token
    * hashes, packed by summing distinct powers of two. */
  private def simhashSql: String =
    s"WITH $neToksCte, " +
      s"hs AS (SELECT doc_id, list_transform(t, x -> ${hSql("x")}) AS hl FROM toks WHERE LENGTH(t) > 0) " +
      "SELECT doc_id AS id, CAST(list_sum(list_transform(range(0, 60), i -> " +
      "CASE WHEN list_sum(list_transform(hl, h -> CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END)) > 0 " +
      "THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash FROM hs"

  /** q_fingerprints oracle: min 5-gram hash per mod-8 band via
    * unnest + GROUP BY — the same group-by shape as fingerprintTable
    * (empty bands yield no row in both engines). */
  private def fingerprintsSql: String =
    s"WITH $neToksCte, " +
      "grams AS (SELECT doc_id, CASE WHEN LENGTH(t) >= 5 THEN " +
      "list_transform(range(0, LENGTH(t)-4), i -> array_to_string(list_slice(t, i+1, i+5), ' ')) " +
      "ELSE [array_to_string(t, ' ')] END AS g FROM toks), " +
      "ex AS (SELECT doc_id, unnest(g) AS gram FROM grams), " +
      s"hs AS (SELECT doc_id, ${hSql("gram")} AS h FROM ex) " +
      "SELECT doc_id, h % 8 AS band, MIN(h) AS minhash FROM hs GROUP BY doc_id, h % 8"

  /** Strict left-fold dot product over two float-list expressions,
    * widened to double per element — bit-identical to Similarity.dot
    * (0.0 + p1 ≡ p1 in IEEE, then the same fold order). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, LENGTH($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"(CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) = 0 THEN 0.0 " +
      s"ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END)"

  /** q_ann_topk oracle: brute-force cosine top-5 for the 16 query
    * vectors, ranked on round(cos, 6) with nbr_id tie-break — the same
    * engine-portable ordering Similarity.bruteForceTopK uses. */
  private def annTopkSql: String =
    "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16), " +
      "sc AS (SELECT q.vec_id AS query_id, c.vec_id AS nbr_id, " +
      s"ROUND(${cosSql("q.embedding", "c.embedding")}, 6) AS cos " +
      "FROM embeddings c, q WHERE q.vec_id <> c.vec_id) " +
      "SELECT query_id, nbr_id, CAST(ROW_NUMBER() OVER " +
      "(PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS BIGINT) AS \"rank\" " +
      "FROM sc QUALIFY \"rank\" <= 5"

  /** q_ann_lsh oracle: SRP buckets (same plane literals as the Spark
    * plan — see cosineNearDupSql), bucket-join of the 16 query vectors
    * against the corpus, then brute-force rank of the candidate union
    * on round(cos, 6) with nbr_id tie-break — Similarity.lshTopK
    * term-for-term. */
  private def annLshSql(dim: Int, nPlanes: Int, tables: Int, k: Int): String = {
    val wLit = (0 until tables).map(t =>
      Similarity.srpPlanes(dim, nPlanes, t)
        .map(row => row.mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val bktOf = (emb: String) =>
      s"CAST(list_sum(list_transform(range(0, $nPlanes), " +
        s"p -> CASE WHEN list_reduce(list_transform(range(1, LENGTH($emb)+1), " +
        s"i -> CAST($emb[i] AS DOUBLE) * w[tt.tbl+1][p+1][i]), (x, y) -> x + y) >= 0 " +
        "THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT)"
    s"WITH wt AS (SELECT $wLit AS w), " +
      s"tts AS (SELECT unnest(range(0, $tables)) AS tbl), " +
      s"cb AS (SELECT vec_id, embedding, tt.tbl AS tbl, ${bktOf("embedding")} AS bkt " +
      "FROM embeddings, wt, tts tt), " +
      "qb AS (SELECT * FROM cb WHERE vec_id < 16), " +
      "pr AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id, " +
      "q.embedding AS qe, c.embedding AS ce " +
      "FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bkt = q.bkt AND q.vec_id <> c.vec_id), " +
      s"sc AS (SELECT query_id, nbr_id, ROUND(${cosSql("qe", "ce")}, 6) AS cos FROM pr) " +
      "SELECT query_id, nbr_id, CAST(ROW_NUMBER() OVER " +
      "(PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS BIGINT) AS \"rank\" " +
      s"FROM sc QUALIFY \"rank\" <= $k"
  }

  /** q_cosine_neardup oracle: the SRP bucket pipeline with the SAME
    * plane literals the Spark plan embeds (Similarity.srpPlanes), then
    * exact cosine over bucket-colliding pairs. */
  private def cosineNearDupSql(dim: Int, nPlanes: Int, tables: Int,
                               threshold: Double): String = {
    val wLit = (0 until tables).map(t =>
      Similarity.srpPlanes(dim, nPlanes, t)
        .map(row => row.mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    "WITH av AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
      "SELECT vec_id + 1000000, list_transform(embedding, x -> x + CAST(0.001 AS REAL)) " +
      "FROM embeddings WHERE vec_id < 8), " +
      s"wt AS (SELECT $wLit AS w), " +
      s"bk AS (SELECT vec_id, embedding, tt.tbl AS tbl, CAST(list_sum(list_transform(range(0, $nPlanes), " +
      "p -> CASE WHEN list_reduce(list_transform(range(1, LENGTH(embedding)+1), " +
      "i -> CAST(embedding[i] AS DOUBLE) * w[tt.tbl+1][p+1][i]), (x, y) -> x + y) >= 0 " +
      "THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS bkt " +
      s"FROM av, wt, (SELECT unnest(range(0, $tables)) AS tbl) tt), " +
      "pr AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b, x.embedding AS ea, y.embedding AS eb " +
      "FROM bk x JOIN bk y ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id), " +
      s"cs AS (SELECT id_a, id_b, ${cosSql("ea", "eb")} AS cosr FROM pr) " +
      s"SELECT id_a, id_b, ROUND(cosr, 6) AS cos FROM cs WHERE cosr >= $threshold"
  }

  /** q_sssp_weighted oracle: weighted relax as recursive reachability —
    * weights are integer-valued doubles so path sums are exact; the
    * d < 100 bound only prunes cycle walks (true distances are far
    * smaller on these dense mod-1000 graphs). */
  private def ssspWeightedSql: String =
    "WITH RECURSIVE e AS (SELECT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst, " +
      "CAST(1 + (l_linenumber % 5) AS DOUBLE) AS w FROM lineitem), " +
      "v AS (SELECT DISTINCT src AS vid FROM e UNION SELECT DISTINCT dst FROM e), " +
      s"r AS (SELECT vid AS v, CAST(0 AS DOUBLE) AS d FROM v WHERE vid = 0 " +
      s"UNION SELECT e.dst, r.d + e.w FROM r JOIN e ON e.src = r.v WHERE r.d < $HopBound) " +
      "SELECT dist, COUNT(*) AS n FROM (SELECT v, MIN(d) AS dist FROM r GROUP BY v) GROUP BY dist"

  private def mediaAuditSql: String =
    "SELECT doc_id AS media_id, " +
      "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
      "octet_length(CAST(text AS BLOB)) AS n_bytes, " +
      "octet_length(CAST(text AS BLOB)) > 0 AS non_empty FROM documents"

  /** q_wav_decode oracle: the WAV builder's parameters recomputed from
    * doc_id arithmetic — the Spark side must recover the identical
    * numbers from the ENCODED BYTES (header parse + PCM extraction).
    * `//` = DuckDB integer division, matching the decoder's Long
    * division for duration. */
  private def wavDecodeSql: String =
    "SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, " +
      "CAST(64 + doc_id % 64 AS BIGINT) AS n_samples, " +
      "CAST(((64 + doc_id % 64) * 1000) // 8000 AS BIGINT) AS duration_ms, " +
      "CAST(list_sum(list_transform(range(0, CAST(64 + doc_id % 64 AS INT)), " +
      "i -> (doc_id * 31 + i * 7) % 4096 - 2048)) AS BIGINT) AS sum_samples " +
      "FROM documents"

  def oracleSql: Map[String, String] = Map(
    "q_wav_decode" -> wavDecodeSql,
    "q_minhash_dups" -> minhashDupsSql,
    "q_dedup_clusters" -> dedupClustersSql,
    "q_simhash" -> simhashSql,
    "q_fingerprints" -> fingerprintsSql,
    "q_ann_topk" -> annTopkSql,
    "q_ann_lsh" -> annLshSql(EmbeddingDim, 8, 4, 5),
    "q_cosine_neardup" -> cosineNearDupSql(EmbeddingDim, 8, 4, 0.99),
    "q_sssp_weighted" -> ssspWeightedSql,
    "q_media_audit" -> mediaAuditSql,
    "q_edgelist_roundtrip" ->
      ("WITH e AS (SELECT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst, " +
        "CAST(1 + (l_linenumber % 5) AS DOUBLE) AS w FROM lineitem) " +
        "SELECT COUNT(*) AS n_edges, CAST(SUM(src) AS BIGINT) AS sum_src, " +
        "CAST(SUM(dst) AS BIGINT) AS sum_dst, ROUND(SUM(w), 2) AS sum_w FROM e"),
    "q_stream_hourly" ->
      ("SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n, " +
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS total " +
        "FROM events GROUP BY 1, 2"),
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_quality" -> qualitySql,
    "q_lang_id" -> langIdSql,
    "q_cc_sizes" -> ccSizesSql,
    // each `_kernel` name runs its twin's body against its twin's oracle
    "q_cc_kernel" -> ccSizesSql,
    "q_bfs_kernel" -> bfsDepthsSql,
    "q_sssp_kernel" -> ssspSql,
    "q_ssspw_kernel" -> ssspWeightedSql,
    "q_degree_kernel" ->
      s"WITH e AS ($edgesSql) SELECT dst AS vid, COUNT(*) AS degree FROM e GROUP BY dst",
    "q_bfs_depths" -> bfsDepthsSql,
    "q_sssp" -> ssspSql,
    "q_lpa" -> lpaSql(5),
    "q_lpa_kernel" -> lpaSql(5),
    "q_pagerank_top" -> pagerankSql(20),
    "q_pagerank_kernel" -> pagerankSql(20),
    "q_checksum" ->
      "SELECT ROUND(SUM(l_quantity), 2) AS checksum, COUNT(*) AS n_rows FROM lineitem",
    "q_stats" ->
      ("SELECT ROUND(AVG(o_totalprice), 4) AS avg_price, " +
        "ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd_price, " +
        "ROUND(MAX(o_totalprice), 2) AS max_price, COUNT(*) AS n_rows FROM orders"),
    "q_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q_events_hourly" ->
      ("SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n, " +
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS total " +
        "FROM events GROUP BY 1, 2"),
    "q_mode_degree" ->
      (s"WITH e AS ($edgesSql), deg AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src) " +
        "SELECT degree, COUNT(*) AS n_vertices FROM deg GROUP BY degree " +
        "ORDER BY n_vertices DESC, degree LIMIT 1"),
    "q_degree_out" ->
      s"WITH e AS ($edgesSql) SELECT src AS vid, COUNT(*) AS degree FROM e GROUP BY src",
    "q_degree_in" ->
      s"WITH e AS ($edgesSql) SELECT dst AS vid, COUNT(*) AS degree FROM e GROUP BY dst",
    "q_vertex_classes" ->
      (s"WITH e AS ($edgesSql), o AS (SELECT DISTINCT src AS vid FROM e), " +
        "i AS (SELECT DISTINCT dst AS vid FROM e) " +
        "SELECT (SELECT COUNT(*) FROM o WHERE vid IN (SELECT vid FROM i)) AS n_regular, " +
        "(SELECT COUNT(*) FROM o WHERE vid NOT IN (SELECT vid FROM i)) AS n_source, " +
        "(SELECT COUNT(*) FROM i WHERE vid NOT IN (SELECT vid FROM o)) AS n_sink"),
    "q_triangles" ->
      (s"WITH raw AS ($edgesSql), e AS (SELECT DISTINCT LEAST(src, dst) AS a, " +
        "GREATEST(src, dst) AS b FROM raw WHERE src <> dst) " +
        "SELECT COUNT(*) AS n_triangles FROM e e1 " +
        "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"),
    "q_dedup_exact" ->
      ("SELECT sha256(text) AS sha, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count " +
        "FROM documents GROUP BY sha256(text)"),
    "q_token_counts" ->
      ("SELECT doc_id, LENGTH(list_filter(regexp_split_to_array(text, '\\s+'), " +
        "x -> LENGTH(x) > 0)) AS n_ws_tokens FROM documents"))
}

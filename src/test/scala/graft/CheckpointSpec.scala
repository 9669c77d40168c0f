package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.execution.{QueryExecution, command}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.util.QueryExecutionListener
import graft.graph._
import graft.algos._
import graft.ckpt.CheckpointManager

class CheckpointSpec extends SparkTestBase {

  private def ranks(r: SpmvKernel.KernelResult): Map[Long, Double] =
    r.state.select("vid", "rank").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** Output paths of the parquet writes `body` runs, in order. */
  private def writesOf(body: => Unit): Seq[String] = {
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.executedPlan.collectFirst {
          case w: command.DataWritingCommandExec => w.cmd
        }.foreach {
          case i: InsertIntoHadoopFsRelationCommand => paths.add(i.outputPath.toString)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; ListenerBridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    paths.asScala.toSeq
  }

  /** CC-ready (undirected) compile of `es`. */
  private def undirected(es: Seq[(Long, Long)]): SpmvKernel.CompiledGraph =
    SpmvKernel.compile(GraphShaping.shape(edgesDF(es),
      EdgeShaping(directed = false, parallelEdges = false)).select("src", "dst"), parts)

  test("resume from mid-run checkpoint reproduces the uninterrupted run") {
    val es = randomEdges(120, 700, seed = 51)

    // uninterrupted: 14 supersteps
    val straight = ranks(PageRank.run(edgesDF(es), parts, maxIters = 14))

    // interrupted: run 7, then a NEW run (and compile) resumes from the
    // snapshot and finishes the remaining budget
    val dir = tempDir("graft-ckpt")
    val mgr = new CheckpointManager(dir, every = 7)
    PageRank.run(edgesDF(es), parts, maxIters = 7, ckpt = Some(mgr))
    val resumed = ranks(PageRank.run(edgesDF(es), parts, maxIters = 14, ckpt = Some(mgr)))

    assert(straight.keySet == resumed.keySet)
    straight.foreach { case (v, x) =>
      assert(math.abs(x - resumed(v)) <= 1e-9, s"vid=$v straight=$x resumed=${resumed(v)}")
    }
  }

  test("manifest carries iteration, per-partition lineage and metrics") {
    val es = randomEdges(50, 200, seed = 53)
    val dir = tempDir("graft-ckpt2")
    val mgr = new CheckpointManager(dir, every = 2)
    PageRank.run(edgesDF(es), parts, maxIters = 4, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(4))
    val manifest = Files.readString(
      java.nio.file.Paths.get(dir, "iter=00004", "manifest.json"))
    assert(manifest.contains("\"iteration\":4"))
    assert(manifest.contains("\"partitions\":[{"))
    assert(manifest.contains("\"metrics\":[{"))
    assert(manifest.contains("\"snapshotId\""))
    // intermediate snapshot exists too
    assert(Files.exists(java.nio.file.Paths.get(dir, "iter=00002", "manifest.json")))
  }

  test("LPA resumes from a mid-run snapshot with identical final labels") {
    val es = randomEdges(120, 500, seed = 61)
    val straight = LabelPropagation.run(edgesDF(es), parts, maxIters = 6)
      .state.select("vid", "label").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet

    // "killed" after 3 supersteps (snapshot every 3), then a fresh run
    // resumes at iter=3 and finishes the same 6-superstep budget
    val dir = tempDir("graft-ckpt-lpa")
    val mgr = new CheckpointManager(dir, every = 3)
    LabelPropagation.run(edgesDF(es), parts, maxIters = 3, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(3))
    val resumed = LabelPropagation.run(edgesDF(es), parts, maxIters = 6, ckpt = Some(mgr))
      .state.select("vid", "label").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(resumed == straight, "LPA resume diverged from the uninterrupted run")
  }

  test("SpmvKernel resumes from a snapshot bit-identically to the straight run") {
    val es = randomEdges(150, 900, seed = 63)
    val g = SpmvKernel.compile(edgesDF(es), parts)
    def ranksOf(r: SpmvKernel.KernelResult): Map[Long, Double] =
      r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap

    val straight = ranksOf(g.pagerank(maxIters = 12))

    val dir = tempDir("graft-ckpt-kernel")
    val mgr = new CheckpointManager(dir, every = 6)
    g.pagerank(maxIters = 6, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(6))
    val resumed = ranksOf(g.pagerank(maxIters = 12, ckpt = Some(mgr)))
    g.unpersist()
    // deterministic tiles + sorted fold order → resume must be EXACT
    assert(resumed == straight, "kernel resume diverged from the uninterrupted run")
  }

  test("kernel resume from a kill at a NON-multiple of `every` replays the window deterministically") {
    val es = randomEdges(150, 900, seed = 67)
    val g = SpmvKernel.compile(edgesDF(es), parts)
    def ranksOf(r: SpmvKernel.KernelResult): Map[Long, Double] =
      r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap

    val straight = ranksOf(g.pagerank(maxIters = 10))

    // run 7 supersteps with every=5: snapshots land at 5 and (final) 7.
    // Simulate a kill BEFORE the final save by deleting iter=00007 —
    // the latest complete snapshot is then 5, mid-window — and resume:
    // the loop must replay 6..10 and land bit-identically.
    val dir = tempDir("graft-ckpt-cadence")
    val mgr = new CheckpointManager(dir, every = 5)
    g.pagerank(maxIters = 7, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(7))
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(dir, "iter=00007").toFile)
    assert(mgr.latestIter().contains(5))
    val resumed = ranksOf(g.pagerank(maxIters = 10, ckpt = Some(mgr)))
    g.unpersist()
    assert(resumed == straight, "mid-window resume diverged from the uninterrupted run")
  }

  test("kernel frontier resume: CC restores the changed bitset from the snapshot") {
    val es = randomEdges(250, 700, seed = 71)
    val und = GraphShaping.shape(edgesDF(es),
      EdgeShaping(directed = false, parallelEdges = false)).select("src", "dst")
    val g = SpmvKernel.compile(und, parts)
    def labelsOf(r: SpmvKernel.KernelResult): Set[(Long, Long)] =
      r.state.select("vid", "label").collect()
        .map(x => (x.getLong(0), x.getDouble(1).toLong)).toSet

    val straight = labelsOf(g.run(new CcKernelProgram, maxIters = 0))

    // "kill" after 2 supersteps (mid-propagation: the frontier is
    // partial, so a resume that lost the changed bits would either
    // stop early or over-message), then resume to the fixpoint
    val dir = tempDir("graft-ckpt-cc-kernel")
    val mgr = new CheckpointManager(dir, every = 2)
    g.run(new CcKernelProgram, maxIters = 2, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(2))
    val resumed = labelsOf(g.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr)))
    g.unpersist()
    assert(resumed == straight, "frontier resume diverged from the uninterrupted run")
  }

  test("kernel LPA resumes from a mid-run snapshot with identical final labels") {
    val es = randomEdges(150, 600, seed = 73)
    def labelsOf(r: SpmvKernel.KernelResult): Set[(Long, Long)] =
      r.state.select("vid", "label").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet

    val straight = labelsOf(LabelPropagation.run(edgesDF(es), parts, maxIters = 6))

    // "killed" after 3 supersteps, then a fresh compile+run resumes at
    // iter=3 (the non-scalar label state rides the same stateFromDF
    // re-slot path) and finishes the same 6-superstep budget
    val dir = tempDir("graft-ckpt-lpa-kernel")
    val mgr = new CheckpointManager(dir, every = 3)
    LabelPropagation.run(edgesDF(es), parts, maxIters = 3, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(3))
    val resumed = labelsOf(LabelPropagation.run(edgesDF(es), parts, maxIters = 6, ckpt = Some(mgr)))
    assert(resumed == straight, "kernel LPA resume diverged from the uninterrupted run")
  }

  test("resuming a kernel run from a DIFFERENT graph's snapshot fails fast, not hangs") {
    val gA = SpmvKernel.compile(edgesDF(Seq((0L, 1L), (1L, 2L), (2L, 0L))), parts)
    val gB = SpmvKernel.compile(edgesDF(Seq((1000L, 1001L), (1001L, 1000L))), parts)
    val dir = tempDir("graft-ckpt-mismatch")
    val mgr = new CheckpointManager(dir, every = 1)
    gB.pagerank(maxIters = 2, ckpt = Some(mgr))
    val e = intercept[Exception] {
      gA.pagerank(maxIters = 4, ckpt = Some(mgr))
    }
    assert(messages(e).exists(_.contains("not present in the compiled graph")),
      s"expected the bounded-probe diagnostic, got: ${messages(e).mkString(" | ")}")
    gA.unpersist(); gB.unpersist()
  }

  test("resuming a kernel run from a DIFFERENT ALGORITHM's snapshot fails fast") {
    val es = randomEdges(60, 200, seed = 79)
    val dir = tempDir("graft-ckpt-algo")
    val mgr = new CheckpointManager(dir, every = 1)
    // CC writes its labels under algo "cc-kernel"; an LPA resume (algo
    // "lpa-kernel") from them would read another algorithm's state —
    // it must be rejected at load, not silently mis-read
    ConnectedComponents.run(edgesDF(es), parts, ckpt = Some(mgr))
    val e = intercept[IllegalArgumentException] {
      LabelPropagation.run(edgesDF(es), parts, maxIters = 4, ckpt = Some(mgr))
    }
    assert(e.getMessage.contains("written by algorithm 'cc-kernel'"),
      s"expected the algo-mismatch diagnostic, got: ${e.getMessage}")
  }

  test("resuming PageRank Never from an Always snapshot fails fast") {
    val g = SpmvKernel.compile(edgesDF(randomEdges(60, 200, seed = 87)), parts)
    try {
      val mgr = new CheckpointManager(tempDir("graft-ckpt-pr-mode"), every = 1)
      g.pagerank(maxIters = 2, ckpt = Some(mgr))
      val e = intercept[IllegalArgumentException] {
        g.pagerank(maxIters = 4, ckpt = Some(mgr), sources = SourceSemantics.Never)
      }
      assert(e.getMessage.contains("written by algorithm 'pagerank-kernel'"),
        s"expected the algo-mismatch diagnostic, got: ${e.getMessage}")
    } finally g.unpersist()
  }

  test("exact-state algorithms resume bit-identically (CC)") {
    val es = randomEdges(200, 400, seed = 57)
    val straight = ConnectedComponents.run(edgesDF(es), parts)
      .state.select("vid", "label").collect().map(x => (x.getLong(0), x.getLong(1))).toSet

    val dir = tempDir("graft-ckpt3")
    val mgr = new CheckpointManager(dir, every = 1)
    // first run to fixpoint with snapshots, then "resume" — must be a no-op
    ConnectedComponents.run(edgesDF(es), parts, ckpt = Some(mgr))
    val resumed = ConnectedComponents.run(edgesDF(es), parts, ckpt = Some(mgr))
      .state.select("vid", "label").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(resumed == straight)
  }

  test("manifest partition counts sum to rows and V and equal the written files' counts") {
    // a spread graph, and one whose vids all hash to kernel partition 0
    for (es <- Seq(randomEdges(120, 500, seed = 81), Seq((0L, 8L), (8L, 16L)))) {
      val g = SpmvKernel.compile(edgesDF(es), parts)
      try {
        val dir = tempDir("graft-ckpt-parts")
        g.pagerank(maxIters = 2, ckpt = Some(new CheckpointManager(dir, every = 0)))
        val snap = Paths.get(dir, "iter=00002")
        val manifest = Files.readString(snap.resolve("manifest.json"))
        val perPid = """"pid":(\d+),"rows":(\d+)""".r.findAllMatchIn(manifest)
          .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
        val rows = """"rows":(\d+),"partitions"""".r.findFirstMatchIn(manifest).get.group(1).toLong
        assert(perPid.values.sum == rows && rows == g.numVertices, manifest)
        // count each written file's rows; its part-NNNNN name is the
        // partition of the task that wrote it
        val perFile = spark.read.parquet(snap.resolve("state").toString)
          .groupBy(input_file_name()).count().collect()
          .map(r => """part-(\d{5})-""".r.findFirstMatchIn(r.getString(0)).get.group(1).toInt ->
            r.getLong(1)).toMap
        assert(perFile == perPid, manifest)
      } finally g.unpersist()
    }
  }

  test("a kernel run of N supersteps with every = 1 writes each of its N snapshots once") {
    val g = undirected(randomEdges(250, 700, seed = 83))
    try {
      val dir = tempDir("graft-ckpt-once")
      var n = 0
      val writes = writesOf {
        n = g.run(new CcKernelProgram, maxIters = 0,
          ckpt = Some(new CheckpointManager(dir, every = 1))).iterations
      }
      assert(n > 1)
      assert(writes.map(p => Paths.get(new java.net.URI(p)).getParent.getFileName.toString) ==
        (1 to n).map(i => f"iter=$i%05d"), writes.mkString(", "))
    } finally g.unpersist()
  }

  test("a resume from the final snapshot writes nothing and leaves its part files as they were") {
    val g = undirected(randomEdges(250, 700, seed = 85))
    try {
      val dir = tempDir("graft-ckpt-noop")
      val mgr = new CheckpointManager(dir, every = 1)
      val first = g.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr))
      val state = Paths.get(dir, f"iter=${first.iterations}%05d", "state")
      def partFiles = Files.list(state).iterator().asScala
        .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis)).toSet
      val before = partFiles
      var again: SpmvKernel.KernelResult = null
      val writes = writesOf { again = g.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr)) }
      assert(writes.isEmpty, writes.mkString(", "))
      assert(again.iterations == first.iterations && again.metrics.isEmpty)
      assert(partFiles == before)
      assert(again.state.collect().toSet == first.state.collect().toSet)
    } finally g.unpersist()
  }

  test("resuming from a snapshot that lacks some of the graph's vertices fails fast") {
    // the CC snapshot of {5<->6} resumed on {5<->6, 7<->8} must not
    // resume 7 and 8 as label 0; 8 sits in kernel partition 0, 7 in 7
    val small = undirected(Seq((5L, 6L)))
    val big = undirected(Seq((5L, 6L), (7L, 8L)))
    try {
      val mgr = new CheckpointManager(tempDir("graft-ckpt-gap"), every = 1)
      small.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr))
      val e = intercept[IllegalArgumentException] {
        big.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr))
      }
      assert(e.getMessage.contains("lacks 1 of kernel partition 0's vertices (e.g. vid 8)"),
        e.getMessage)
    } finally { small.unpersist(); big.unpersist() }
  }

  test("a CC resume re-checks the 2^53 exact-id window of a hand-written snapshot") {
    val big = (1L << 53) + 1L
    val g = SpmvKernel.compile(edgesDF(Seq((big, 1L), (1L, 2L))), parts)
    try {
      val s = spark; import s.implicits._
      val mgr = new CheckpointManager(tempDir("graft-ckpt-exact"), every = 1)
      val snap = Seq((big, 1.0, true), (1L, 1.0, true), (2L, 1.0, true))
        .toDF("vid", "label", "changed")
      mgr.save("cc-kernel", 1, snap, Seq(0 -> 3L), Nil)
      val e = intercept[Exception](g.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr)))
      assert(messages(e).exists(_.contains("exact only for 0 <= vid < 2^53")),
        s"unexpected failure: ${messages(e).mkString(" | ")}")
    } finally g.unpersist()
  }
}

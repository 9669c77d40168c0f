package graft.graph

import java.io.{BufferedInputStream, BufferedOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.graph.SpmvKernel.{CompiledGraph, KernelPartition}

/** Durable cache for [[SpmvKernel.CompiledGraph]] tile arrays — the
  * analog of the reference persisting its preprocessed matrix so reruns
  * skip the ingest/tiling phase (GraphTap reruns re-read the converted
  * binary, converter.cpp:21-64, rather than re-converting).
  *
  * Why: the compile is three one-time shuffles (~400 s per JVM at 460M
  * edges) and was recomputed on EVERY new process — even one resuming
  * from a state checkpoint whose graph had not changed. The cache
  * persists each kernel partition as one binary file (written by the
  * task that owns it — no driver collect, no single-writer bottleneck;
  * on a cluster these land on shared storage exactly like shuffle-free
  * checkpoint state) plus a driver-written JSON manifest, keyed by a
  * FINGERPRINT of the edge table's file metadata (sorted paths, sizes,
  * modification times — O(#files) namenode calls, no data scan) and the
  * compile parameters. A warm start is then one narrow read of the tile
  * bytes: `compileOrLoad` measured ~0 compile cost vs the cold path
  * (BENCH kernel_compile_warm_sec).
  *
  * Layout: `<dir>/part-NNNNN.bin` (magic, version, partition id, then
  * the Java-serialized [[KernelPartition]] — primitive arrays take the
  * block-data fast path) and `<dir>/_manifest.json`, written LAST so a
  * torn save is never loadable.
  */
object CompiledGraphCache {
  private val Magic = 0x47524654 // "GRFT"
  // v2: part-file headers carry the fingerprint (verified on load
  // against the manifest), and save() invalidates the old manifest
  // before touching part files — a crash mid-save can no longer leave
  // graph A's manifest pointing at graph B's parts.
  private val Version = 2

  /** Hadoop conf made serializable for task-side file IO (save/load
    * tasks previously built `new Configuration()`, dropping any
    * session-level FS settings — credentials, defaultFS). Spark's own
    * SerializableConfiguration is private[spark]; this is the same
    * four-line idiom. */
  private final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Metadata fingerprint of the edge table + compile params. None when
    * the frame has no input files (in-memory data — nothing stable to
    * key on; callers then compile unconditionally). `variant` must name
    * any TRANSFORMATION between the files and the compiled frame (e.g.
    * [[Shape.variant]]): two different shapes of the same files must
    * never share a fingerprint. */
  def fingerprint(edges: DataFrame, parts: Int, hubChunk: Long = 0L,
                  variant: String = Shape.Raw.name): Option[String] = {
    val files = edges.inputFiles
    if (files.isEmpty) None
    else {
      val conf = edges.sparkSession.sparkContext.hadoopConfiguration
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.sorted.foreach { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        md.update(s"$f|${st.getLen}|${st.getModificationTime}\n"
          .getBytes(StandardCharsets.UTF_8))
      }
      md.update(s"parts=$parts|hubChunk=$hubChunk|variant=$variant|v$Version"
        .getBytes(StandardCharsets.UTF_8))
      Some(md.digest().map("%02x".format(_)).mkString)
    }
  }

  private def partPath(dir: String, p: Int) = new Path(dir, f"part-$p%05d.bin")
  private def manifestPath(dir: String) = new Path(dir, "_manifest.json")

  /** Persist the compiled tiles: each partition writes its own file
    * (task-side, parallel), then the driver writes the manifest. The
    * OLD manifest is deleted first, so a save that dies mid-way leaves
    * an unloadable directory instead of a manifest paired with another
    * graph's part files; each part header embeds the fingerprint and
    * load() verifies it. */
  def save(g: CompiledGraph, dir: String, fingerprint: String): Unit = {
    val hadoopConf = g.spark.sparkContext.hadoopConfiguration
    val mp0 = manifestPath(dir)
    val fs0 = mp0.getFileSystem(hadoopConf)
    if (fs0.exists(mp0)) fs0.delete(mp0, false)
    val confB = g.spark.sparkContext.broadcast(new SerializableHadoopConf(hadoopConf))
    val fp = fingerprint
    val written = g.kernel.mapPartitionsWithIndex { (p, it) =>
      val kp = it.next()
      val path = partPath(dir, p)
      val fs = path.getFileSystem(confB.value.value)
      val out = new ObjectOutputStream(
        new BufferedOutputStream(fs.create(path, true), 1 << 20))
      try {
        out.writeInt(Magic); out.writeInt(Version); out.writeInt(p)
        out.writeUTF(fp)
        out.writeObject(kp)
      } finally out.close()
      Iterator.single(1L)
    }.fold(0L)(_ + _)
    require(written == g.parts, s"wrote $written of ${g.parts} cache partitions")
    val mf =
      s"""{"magic":$Magic,"version":$Version,"fingerprint":"$fingerprint",
         |"parts":${g.parts},"numVertices":${g.numVertices},"numEdges":${g.numEdges},
         |"weighted":${g.weighted},"mirrorCount":${g.mirrorCount}}""".stripMargin
    val mp = manifestPath(dir)
    val fs = mp.getFileSystem(g.spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(mf.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def manifestField(mf: String, k: String): Option[String] =
    (s""""$k"\\s*:\\s*"?([^",}\\s]+)"?""").r.findFirstMatchIn(mf).map(_.group(1))

  /** Load a cached compile. None when the directory has no manifest or
    * the manifest's version/fingerprint does not match — a stale or
    * foreign cache silently falls back to a fresh compile, never to a
    * wrong graph. */
  def load(spark: SparkSession, dir: String,
           expectFingerprint: Option[String]): Option[CompiledGraph] = {
    val mp = manifestPath(dir)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) return None
    val mf = {
      val in = fs.open(mp)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    if (!manifestField(mf, "version").contains(Version.toString)) return None
    val fp = manifestField(mf, "fingerprint")
    if (expectFingerprint.isDefined && fp != expectFingerprint) return None
    val parts = manifestField(mf, "parts").get.toInt
    val manifestFp = fp.getOrElse("")
    val confB = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val kernel = spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitionsWithIndex { (p, it) =>
        // parallelize slices a range positionally: partition p holds
        // exactly element p — assert the invariant the layout rests on
        val elem = it.next()
        require(elem == p && !it.hasNext, s"cache partition order broke: $elem != $p")
        val path = partPath(dir, p)
        val fsT = path.getFileSystem(confB.value.value)
        val in = new ObjectInputStream(
          new BufferedInputStream(fsT.open(path), 1 << 20))
        try {
          require(in.readInt() == Magic && in.readInt() == Version,
            s"bad cache header in $path")
          require(in.readInt() == p, s"cache file $path holds another partition")
          require(in.readUTF() == manifestFp,
            s"cache file $path was written for another fingerprint " +
              "(torn save into a reused directory?)")
          Iterator.single(in.readObject().asInstanceOf[KernelPartition])
        } finally in.close()
      }.persist(StorageLevel.MEMORY_AND_DISK)
    // a corrupt/torn/foreign part file surfaces here — fall back to a
    // fresh compile instead of failing the caller
    try kernel.count()
    catch {
      case scala.util.control.NonFatal(e) =>
        kernel.unpersist(false)
        System.err.println(s"[graft] kernel cache at $dir unreadable " +
          s"(${e.getMessage.linesIterator.nextOption().getOrElse("")}) — recompiling")
        return None
    }
    Some(new CompiledGraph(kernel, spark, parts,
      manifestField(mf, "numVertices").get.toLong,
      manifestField(mf, "numEdges").get.toLong,
      manifestField(mf, "weighted").get.toBoolean,
      manifestField(mf, "mirrorCount").get.toLong))
  }

  /** Load when `dir` holds a cache matching this edge table's
    * fingerprint; otherwise compile and (when fingerprintable) save.
    * The one-line log makes the chosen path auditable in bench runs. */
  def compileOrLoad(edges: DataFrame, parts: Int, dir: String,
                    hubChunk: Long = 0L, variant: String = Shape.Raw.name): CompiledGraph = {
    val spark = edges.sparkSession
    val fp = fingerprint(edges, parts, hubChunk, variant)
    fp.flatMap(f => load(spark, dir, Some(f))) match {
      case Some(g) =>
        System.err.println(s"[graft] kernel cache HIT at $dir (skipped compile)")
        g
      case None =>
        val g = SpmvKernel.compile(edges, parts, hubChunk)
        fp match {
          case Some(f) =>
            save(g, dir, f)
            System.err.println(s"[graft] kernel cache MISS at $dir (compiled + saved)")
          case None =>
            System.err.println(s"[graft] kernel cache skipped: edge table has no " +
              "input files to fingerprint (in-memory data)")
        }
        g
    }
  }
}

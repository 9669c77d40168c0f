package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edge-list file sources — parity with the reference's loaders:
  *
  *  - text: whitespace-separated `src dst [w]`, `#`/`%` comment lines
  *    skipped (reference Graph::parread_text,
  *    src/mat/graph.hpp:194-304). Distributed line splitting is
  *    Spark's scan, replacing the reference's manual byte-range
  *    partitioning (graph.hpp:234-245).
  *  - binary: fixed-width little-endian records of 2 (unweighted) or
  *    3 (weighted) uint32s — the layout of the reference's sample
  *    data/rmat10_1024.bin (reference Graph::parread_binary,
  *    src/mat/graph.hpp:307-372; README.md:6-10). Uses
  *    sc.binaryRecords: the one genuinely record-oriented input with
  *    no DataFrame-source equivalent (fixed-width raw structs).
  *
  * Both return (src: long, dst: long, w: double) ready for
  * GraphShaping / SpmvKernel.compile.
  */
object EdgeListSource {

  def readText(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    lines
      .filter(length(trim(col("value"))) > 0)
      .filter(!col("value").startsWith("#") && !col("value").startsWith("%"))
      .select(split(trim(col("value")), "\\s+").as("f"))
      .select(
        try_element_at(col("f"), lit(1)).cast("long").as("src"),
        try_element_at(col("f"), lit(2)).cast("long").as("dst"),
        coalesce(try_element_at(col("f"), lit(3)).cast("double"), lit(1.0)).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
  }

  /** uint32 read as unsigned → long (the reference's Integer_Type is
    * uint32, src/apps/deg.h:18; we widen to long per SURVEY §1.2). */
  private def u32(b0: Byte, b1: Byte, b2: Byte, b3: Byte): Long =
    ((b0 & 0xffL)) | ((b1 & 0xffL) << 8) | ((b2 & 0xffL) << 16) | ((b3 & 0xffL) << 24)

  def readBinary(spark: SparkSession, path: String, weighted: Boolean = false): DataFrame = {
    val recLen = if (weighted) 12 else 8
    val recs = spark.sparkContext.binaryRecords(path, recLen)
    val rows = recs.map { r =>
      val src = u32(r(0), r(1), r(2), r(3))
      val dst = u32(r(4), r(5), r(6), r(7))
      val w = if (weighted) u32(r(8), r(9), r(10), r(11)).toDouble else 1.0
      (src, dst, w)
    }
    val s = spark; import s.implicits._
    rows.toDF("src", "dst", "w")
  }

  /** Fill `buf` with one LE record: src, dst [, w] as uint32. A field
    * that is not a whole number in [0, 2^32) throws: wrapped or
    * truncated, it would silently name another vertex or weight. */
  private def putRecord(buf: java.nio.ByteBuffer, src: Long, dst: Long,
                        w: Double, weighted: Boolean): Unit = {
    def u32(v: Long): Int =
      if (v >= 0 && v <= 0xFFFFFFFFL) v.toInt
      else throw new IllegalArgumentException(
        s"vid $v is outside [0, 2^32), the range of a binary edge record")
    buf.clear()
    buf.putInt(u32(src))
    buf.putInt(u32(dst))
    if (weighted) {
      if (w != math.floor(w) || w < 0 || w >= 4294967296.0)
        throw new IllegalArgumentException(
          s"weight $w is not a whole number in [0, 2^32), the range of a binary edge record")
      buf.putInt(w.toLong.toInt)
    }
  }

  /** Format converter (reference src/misc/converter.cpp:16-170):
    * writes an edge DataFrame as fixed-width LE binary records.
    * Single-file output for tool interop (driver-side stream over a
    * sorted collect is intentional — this is an export utility, not a
    * data-path operator).
    *
    *  - `displace` shifts every vertex id by a constant (reference
    *    converter.cpp:81 `displacement`, used there to re-base
    *    1-indexed inputs).
    *  - `synthWeightSeed`: when set and `weighted`, ignore the input
    *    weight and synthesize one in [1, 128] per record (reference
    *    converter.cpp:130 `1 + rand() % 128`) — deterministic here via
    *    the splitmix64 finalizer over (seed, record index) instead of
    *    C rand(), so exports are reproducible.
    *
    * A vid (after displacement) or weight that is not a whole number
    * in [0, 2^32) throws IllegalArgumentException naming the value. */
  def writeBinary(edges: DataFrame, path: String, weighted: Boolean = false,
                  displace: Long = 0L,
                  synthWeightSeed: Option[Long] = None): Unit = {
    import java.io.{BufferedOutputStream, FileOutputStream}
    val out = new BufferedOutputStream(new FileOutputStream(path))
    try {
      synthWeightSeed match {
        case None =>
          // Record ENCODE runs executor-side, one byte blob per
          // partition; the driver streams the blobs in partition order
          // — identical bytes to the old per-row driver loop (same
          // record order: partition order × within-partition order)
          // without pulling 10^5-10^6 boxed Rows through the driver.
          val wtd = weighted
          val disp = displace
          val blobs = edges.select(
            col("src").cast("long"), col("dst").cast("long"),
            coalesce(col("w").cast("double"), lit(1.0)))
            .queryExecution.toRdd.mapPartitions { it =>
              val bos = new java.io.ByteArrayOutputStream()
              val buf = java.nio.ByteBuffer.allocate(12)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              it.foreach { r =>
                putRecord(buf, r.getLong(0) + disp, r.getLong(1) + disp, r.getDouble(2), wtd)
                bos.write(buf.array(), 0, if (wtd) 12 else 8)
              }
              Iterator.single(bos.toByteArray)
            }
          // a bad field fails the encoding task; rethrow its own error
          try blobs.toLocalIterator.foreach(out.write)
          catch {
            case e: org.apache.spark.SparkException
                if e.getCause.isInstanceOf[IllegalArgumentException] => throw e.getCause
          }
        case Some(seed) =>
          // synthetic weights depend on the GLOBAL record index, which
          // only the driver's sequential walk knows — keep the row loop
          val it = edges.select(
            col("src").cast("long"), col("dst").cast("long"),
            coalesce(col("w").cast("double"), lit(1.0))).toLocalIterator()
          val buf = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var i = 0L
          while (it.hasNext) {
            val r = it.next()
            putRecord(buf, r.getLong(0) + displace, r.getLong(1) + displace,
              (1L + (graft.functions.StableHash.mix64(seed ^ i) >>> 1) % 128L).toDouble, weighted)
            out.write(buf.array(), 0, if (weighted) 12 else 8)
            i += 1
          }
      }
    } finally out.close()
  }

  def writeText(edges: DataFrame, dir: String): Unit =
    edges.select(concat_ws(" ",
        col("src"), col("dst"),
        when(col("w") =!= 1.0, col("w").cast("long"))).as("value"))
      .write.mode("overwrite").text(dir)
}

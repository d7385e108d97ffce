package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextNorm, TextVectorKernels => K}

/** Single-threaded microbenchmarks of the native kernels and codecs,
  * called directly on a workload's documents and embeddings (no Spark
  * job in the timed loops), plus the pure-JVM calibration loop. */
object Kernels {

  /** A fixed pure-JVM integer loop; its time moves only with the
    * machine (load, frequency), never with the engine's code. */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // uses the result, so the loop is not dropped
    (System.nanoTime() - t0) / 1e6
  }

  /** ns per row of `f` over `rows`, repeated until at least `minMs`. */
  private def nsPerRow[A](rows: Array[A], minMs: Double)(f: A => Any): Double = {
    var sink = 0
    rows.foreach(r => if (f(r) != null) sink += 1) // warm-up
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e6 < minMs) {
      rows.foreach(r => if (f(r) != null) sink += 1)
      n += rows.length
    }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (sink == -1) println("") // uses the results, so the calls are not dropped
    ns
  }

  def run(spark: SparkSession, dir: String, minMs: Double): Map[String, Double] = {
    import spark.implicits._
    val texts = graft.sources.Tables(spark, dir, "documents").select("text")
      .as[String].collect().map(UTF8String.fromString)
    val vecs = graft.sources.Tables(spark, dir, "embeddings").select("embedding")
      .as[Seq[Float]].collect().map(v => new GenericArrayData(v.toArray.map(x => x: Any)): ArrayData)
    val dim = vecs.head.numElements()
    val rnd = new java.util.Random(7)
    val planes: ArrayData = new GenericArrayData(Array.fill(16)(
      new GenericArrayData(Array.fill(dim)(rnd.nextGaussian(): Any)): Any))
    val shingles = texts.map(t => K.shingleHashes(t, 3))
    val pairs = shingles.indices.map(i => (shingles(i), shingles((i + 1) % shingles.length))).toArray
    val m = Map(
      "kernel.normalize_text_ns_row" -> nsPerRow(texts, minMs)(TextNorm.normalize),
      "kernel.shingle_hashes_ns_row" -> nsPerRow(texts, minMs)(K.shingleHashes(_, 3)),
      "kernel.minhash_sigs_ns_row" -> nsPerRow(shingles, minMs)(K.minhashSigs(_, 64)),
      "kernel.cdc_chunks_ns_row" -> nsPerRow(texts, minMs)(K.cdcChunks(_, 4, 8)),
      "kernel.simhash64_ns_row" -> nsPerRow(shingles, minMs)(K.simhash64),
      "kernel.vector_dots_ns_row" -> nsPerRow(vecs, minMs)(K.vectorDots(planes, _, true)),
      "kernel.sorted_intersect_count_ns_row" ->
        nsPerRow(pairs, minMs)(p => K.sortedIntersectCount(p._1, p._2)))
    m ++ codecs(texts.map(_.getBytes).reduce(_ ++ _), minMs)
  }

  /** Compress and decompress MB/s of the IPC body codecs through the
    * engine's codec factory, on the concatenated document bytes. */
  private def codecs(raw: Array[Byte], minMs: Double): Map[String, Double] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.compression.CompressionUtil.CodecType
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      Seq("lz4" -> CodecType.LZ4_FRAME, "zstd" -> CodecType.ZSTD).flatMap { case (name, ct) =>
        val codec = graft.sources.ipc.GraftCompressionFactory.createCodec(ct)
        def buf(bytes: Array[Byte]) = {
          val b = alloc.buffer(bytes.length.toLong)
          b.setBytes(0, bytes)
          b.writerIndex(bytes.length.toLong)
          b
        }
        // MB/s of uncompressed bytes; each iteration copies its input
        // into a fresh buffer because the codec releases it
        def loop(f: () => Unit): Double = {
          f()
          var n = 0L
          val t0 = System.nanoTime()
          while ((System.nanoTime() - t0) / 1e6 < minMs) { f(); n += 1 }
          n * raw.length / (1024.0 * 1024.0) / ((System.nanoTime() - t0) / 1e9)
        }
        val packed = {
          val c = codec.compress(alloc, buf(raw))
          val out = new Array[Byte](c.writerIndex().toInt)
          c.getBytes(0, out)
          c.close()
          out
        }
        val comp = loop { () => codec.compress(alloc, buf(raw)).close() }
        val decomp = loop { () => codec.decompress(alloc, buf(packed)).close() }
        Seq(s"codec.${name}_compress_mb_s" -> comp, s"codec.${name}_decompress_mb_s" -> decomp)
      }.toMap
    } finally alloc.close()
  }
}

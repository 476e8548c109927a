package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorKernels

/** The kernel leg of the traced run: ns per row of each `VectorKernels`
  * entry over the workload's own texts at dim 384, single thread. Each
  * kernel is warmed up, then timed in a `nanoTime` loop over whole passes
  * of the inputs; the reported figure is the median pass. The IVF and PQ
  * geometry matches the engine's maintained artifacts (16 cells; 8
  * subspaces of 16 codes), with centroids taken from the embedded texts. */
object Kernels {
  private val Dim = VectorKernels.DefaultDim
  @volatile private var sink = 0L

  /** Warm up for 200 ms, then time `samples` samples of at least ~5 ms
    * of whole passes each; median ns per row. */
  private def nsPerRow(rows: Int, samples: Int)(pass: => Long): Double = {
    val w0 = System.nanoTime()
    var warm = 0
    while (System.nanoTime() - w0 < 200L * 1000 * 1000) { sink += pass; warm += 1 }
    val perPass = (System.nanoTime() - w0).toDouble / warm
    val reps = math.max(1, math.ceil(5e6 / perPass).toInt)
    val per = (0 until samples).map { _ =>
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { sink += pass; r += 1 }
      (System.nanoTime() - t0).toDouble / (rows.toLong * reps)
    }
    Stats.median(per)
  }

  def run(texts: IndexedSeq[String], query: String,
      samples: Int = 9): Seq[(String, Double)] = {
    val utf = texts.map(UTF8String.fromString)
    val vecs = texts.map(VectorKernels.hashEmbedFloats(_, Dim))
    val arrs = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val q = UnsafeArrayData.fromPrimitiveArray(
      VectorKernels.hashEmbedFloats(query, Dim))
    val nlist = math.min(graft.memo.MemoEngine.AnnNlist, vecs.size)
    val centroids = Array.tabulate(nlist)(i => vecs(i * vecs.size / nlist))
    val m = graft.memo.MemoEngine.AnnPqM
    val ksub = math.min(graft.memo.MemoEngine.AnnPqKsub, vecs.size)
    val sub = Dim / m
    val codebooks = Array.tabulate(m, ksub)((j, c) =>
      vecs(c * vecs.size / ksub).slice(j * sub, (j + 1) * sub))
    val codes = arrs.map(VectorKernels.pqEncode(_, true, codebooks))
    val lut = graft.ops.PqIndex.adcLut(codebooks,
      VectorKernels.hashEmbedFloats(query, Dim))
    val n = texts.size
    def loop(f: Int => Long): Long = {
      var acc = 0L
      var i = 0
      while (i < n) { acc += f(i); i += 1 }
      acc
    }
    Seq(
      "hash_embed" -> nsPerRow(n, samples)(loop(i =>
        VectorKernels.hashEmbedFloats(texts(i), Dim).length.toLong)),
      "tokenize" -> nsPerRow(n, samples)(loop(i =>
        VectorKernels.tokenize(texts(i)).length.toLong)),
      "cosine" -> nsPerRow(n, samples)(loop(i =>
        java.lang.Double.doubleToRawLongBits(
          VectorKernels.cosine(arrs(i), q, true, true)))),
      "nearest_centroid" -> nsPerRow(n, samples)(loop(i =>
        VectorKernels.nearestCentroid(arrs(i), true, centroids).toLong)),
      "minhash" -> nsPerRow(n, samples)(loop(i =>
        VectorKernels.minHashSignature(utf(i), 64, 3)(0))),
      "pq_adc" -> nsPerRow(n, samples)(loop(i =>
        java.lang.Double.doubleToRawLongBits(
          VectorKernels.pqAdc(codes(i), lut)))))
  }
}

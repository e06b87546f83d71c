package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashRuntime

/** Microbench of the native kernels in `graft.functions.HashRuntime`, run on
  * a mining-shaped corpus (planted near-duplicate documents and vectors)
  * generated from the run's seed. Each kernel is called over the whole
  * input set several times; the median time per call is reported. */
object Kernels {
  private val Warmup = 3
  private val Reps = 7

  /** Median nanoseconds per call of `f` over `n` inputs, after warm-up
    * rounds that let the JIT compile the kernel. */
  private def nsPerCall(n: Int)(f: Int => Any): Double = {
    var sink = 0
    val samples = (1 to Warmup + Reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { if (f(i) != null) sink += 1; i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    require(sink >= 0)
    Stats.median(samples.drop(Warmup))
  }

  def bench(ctx: Ctx): Map[String, (Double, String)] = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/kernel"
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text").collect().map(_.getString(0))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding").collect()
      .map(r => r.getSeq[Float](0).map(_.toDouble).toArray)
    val toks: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.toLowerCase.split(" ").map(w => UTF8String.fromString(w): Any)))
    val sh = toks.map(HashRuntime.shingles(_, 3))
    val hashes = sh.map(HashRuntime.polyHashArray)
    val (as, bs) = graft.functions.HashCoeffs.coefficients(128, 42L)
    val utf = texts.map(UTF8String.fromString)
    val dvecs: Array[ArrayData] = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val n = texts.length
    // candidate pairs: each document against a neighbour (near-duplicates
    // were planted against earlier documents, so some pairs verify)
    def other(i: Int): Int = (i * 7 + 1) % n
    Map(
      "functions.shingles_ns" -> (nsPerCall(n)(i => HashRuntime.shingles(toks(i), 3)), "ns"),
      "functions.minhash_ns" -> (nsPerCall(n)(i => HashRuntime.minhash(hashes(i), as, bs)), "ns"),
      "functions.bounded_intersect_ns" ->
        (nsPerCall(n)(i => HashRuntime.boundedIntersectSize(sh(i), sh(other(i)), 6, 10)), "ns"),
      "functions.levenshtein_ns" ->
        (nsPerCall(n)(i => HashRuntime.boundedLevenshtein(utf(i), utf(other(i)), 16)), "ns"),
      "functions.dot_ns" -> (nsPerCall(vecs.length)(i =>
        HashRuntime.dotOrNull(dvecs(i), dvecs((i * 7 + 1) % vecs.length))), "ns"))
  }
}

package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashKernels, TextKernels}

/** Direct-call microbench of the per-row kernels the dedup, DSIR and
  * quality faces run inside codegen'd stages, over the corpus `text` column.
  */
object Kernels {
  private val MinLen = 2
  private val MaxLen = 15
  private val MinhashK = graft.operators.DedupOps.MinhashK
  private val ShingleN = graft.operators.DedupOps.ShingleN
  private val Buckets = graft.operators.SamplingOps.DsirBuckets

  /** ns per input text byte for each kernel, plus a checksum over every
    * output so the JIT cannot drop the work.
    */
  def run(spark: SparkSession, data: String, minSeconds: Double): (Map[String, Double], Long) = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text").collect()
      .map(r => UTF8String.fromString(Option(r.getString(0)).getOrElse("")))
    val bytes = texts.map(_.numBytes.toLong).sum.max(1L)
    val shingles = texts.map(HashKernels.shingleHashSet(_, ShingleN))
    val hashes = texts.map(HashKernels.tokenHashes(_, MinLen, MaxLen))
    var checksum = 0L
    def fold(a: ArrayData): Unit = {
      val n = a.numElements()
      checksum = checksum * 31 + n
      if (n > 0) checksum += a.getLong(n - 1)
    }
    // Each kernel loops over the whole column until `minSeconds` has passed
    // (after one untimed warm-up sweep); the figure is the sweep median.
    def time(body: Int => Unit): Double = {
      texts.indices.foreach(body)
      val sweeps = scala.collection.mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (minSeconds * 1e9).toLong
      while (sweeps.size < 3 || System.nanoTime() < deadline) {
        val t0 = System.nanoTime()
        texts.indices.foreach(body)
        sweeps += (System.nanoTime() - t0).toDouble / bytes
      }
      sweeps.sorted.apply(sweeps.size / 2)
    }
    val metrics = Map(
      "tokens_ns_per_byte" -> time(i => {
        val a = TextKernels.tokens(texts(i), MinLen, MaxLen)
        checksum = checksum * 31 + a.numElements()
      }),
      "token_hashes_ns_per_byte" ->
        time(i => fold(HashKernels.tokenHashes(texts(i), MinLen, MaxLen))),
      "minhash_ns_per_byte" ->
        time(i => fold(HashKernels.minhashSig(shingles(i), MinhashK))),
      "simhash_ns_per_byte" ->
        time(i => checksum = checksum * 31 + HashKernels.simhash32(hashes(i))),
      "quality_ns_per_byte" ->
        time(i => checksum += java.lang.Double.doubleToLongBits(TextKernels.qualityScore(texts(i)))),
      "bucket_counts_ns_per_byte" ->
        time(i => fold(HashKernels.tokenBucketCounts(texts(i), MinLen, MaxLen, Buckets))))
    (metrics, checksum)
  }
}

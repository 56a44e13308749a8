package perfbench

import graft.functions.expressions.HashExpressions
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread throughput of graft's native hash kernels, called
  * directly through `HashExpressions.eval*` on documents and embeddings
  * held in memory, so no scan, codegen or scheduling cost is billed to
  * them. Each kernel loops over the whole input until `budgetS` has
  * passed and reports rows per second.
  */
object Kernels {
  @volatile private var sink: Long = 0L

  def rowsPerSecond(texts: Array[String], vecs: Array[Array[Float]],
      budgetS: Double): Seq[(String, Double)] = {
    val utf = texts.map(UTF8String.fromString)
    val tokens: Array[ArrayData] = utf.map(HashExpressions.evalTokenHashes)
    val shingles: Array[ArrayData] = tokens.map(HashExpressions.evalShingleHashes(_, 3))
    val arrs: Array[ArrayData] = vecs.map(v => new GenericArrayData(v.map(x => x: Any)))
    def h(a: ArrayData): Long = if (a == null) 0L else a.numElements().toLong
    val kernels: Seq[(String, Int => Long)] = Seq(
      "poly_hash" -> (i => HashExpressions.evalPolyHash(utf(i % utf.length))),
      "char_ngram_hashes" -> (i => h(HashExpressions.evalCharNgramHashes(utf(i % utf.length), 5))),
      "token_hashes" -> (i => h(HashExpressions.evalTokenHashes(utf(i % utf.length)))),
      "shingle_hashes" -> (i => h(HashExpressions.evalShingleHashes(tokens(i % tokens.length), 3))),
      "minhash_sig" -> (i => h(HashExpressions.evalMinHashSig(shingles(i % shingles.length), 16))),
      "simhash" -> (i => HashExpressions.evalSimHash(tokens(i % tokens.length), 64)),
      "chunk_hashes" -> (i => h(HashExpressions.evalChunkHashes(utf(i % utf.length), 32))),
      "dot" -> (i => java.lang.Double.doubleToLongBits(HashExpressions.evalDot(
        arrs(i % arrs.length), arrs((i + 1) % arrs.length), true, true))))
    kernels.map { case (name, f) =>
      (0 until 2000).foreach(i => sink += f(i)) // JIT warm-up, untimed
      val t0 = System.nanoTime()
      val deadline = t0 + (budgetS * 1e9).toLong
      var n = 0
      while (System.nanoTime() < deadline) {
        var j = 0
        while (j < 256) { sink += f(n); n += 1; j += 1 }
      }
      name -> n / ((System.nanoTime() - t0) / 1e9)
    }
  }
}

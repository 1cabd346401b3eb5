package perfbench

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GzipCodec, TextHash}

/** Per-row micro-timings of the codegen'd kernels, called directly through
  * their public entry points on a workload's own inputs. Each kernel runs a
  * warm-up loop first; the figure is the median over timed rounds of the
  * round's time divided by the items in it. */
object Kernels {
  private val Rounds = 7

  private def nsPerItem(items: Int)(round: => Long): Double = {
    (1 to 3).foreach(_ => round)
    val times = (1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      sink += round
      (System.nanoTime() - t0).toDouble / items
    }.sorted
    times(Rounds / 2)
  }

  // keeps each round's result live so the JIT cannot drop the work
  @volatile private var sink = 0L

  def measure(texts: Seq[String], gzipped: Seq[Array[Byte]]): Map[String, Double] = {
    val docs = texts.map(UTF8String.fromString).toArray
    val gz = gzipped.toArray
    val sets: Array[ArrayData] = docs.map(TextHash.shingleHashSet(_, 3))
    Map(
      "gunzip_ns_per_row" -> nsPerItem(gz.length) {
        var n = 0L
        gz.foreach(b => n += GzipCodec.decompressToString(b).numBytes())
        n
      },
      "minhash_ns_per_doc" -> nsPerItem(docs.length) {
        var n = 0L
        docs.foreach(d => n += TextHash.minhashText(d, 3, 128, 42L).getLong(0))
        n
      },
      "shingle_set_ns_per_doc" -> nsPerItem(docs.length) {
        var n = 0L
        docs.foreach(d => n += TextHash.shingleHashSet(d, 3).numElements())
        n
      },
      "tokens_ns_per_doc" -> nsPerItem(docs.length) {
        var n = 0L
        docs.foreach(d => n += TextHash.tokensArray(d, false).numElements())
        n
      },
      "sorted_intersect_ns_per_pair" -> nsPerItem(sets.length - 1) {
        var n = 0L
        var i = 1
        while (i < sets.length) { n += TextHash.sortedIntersectSize(sets(i - 1), sets(i)); i += 1 }
        n
      })
  }
}

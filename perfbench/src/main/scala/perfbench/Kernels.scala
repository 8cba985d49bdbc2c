package perfbench

import graft.expressions.{StringKernels, VectorKernels}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** A nanoTime microbench of the static row kernels under `expressions/`,
  * called directly on seeded rows (no Spark session involved).
  *
  * Strings are document-length rows mixing ASCII words with multibyte UTF-8
  * tokens and planted KMP patterns; vectors are 64-d doubles. Each kernel
  * reports nanoseconds per row, megabytes of input per second, and, as
  * context, its operation count and input bytes per row. */
object Kernels {
  final case class Result(name: String, nsPerRow: Double, mbPerS: Double,
      opsPerRow: Double, bytesPerRow: Double)

  private val Words = Seq("the", "data", "engine", "spark", "arrow", "column",
    "aab", "aabaa", "kernel", "Query", "Title", "row")
  private val Multi = Seq("Ö", "Č", "🙈", "naïve", "straße", "日本語", "Ωμέγα",
    "ﬁle")
  private val Dim = 64

  private def doc(r: scala.util.Random): String = {
    val n = 40 + r.nextInt(360) // words: ~200 to ~2400 bytes
    (0 until n).map { _ =>
      if (r.nextInt(5) == 0) Multi(r.nextInt(Multi.size))
      else Words(r.nextInt(Words.size))
    }.mkString(" ")
  }

  private def vec(r: scala.util.Random): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array.fill(Dim)(r.nextGaussian()))

  private def longs(r: scala.util.Random, n: Int, range: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Array.fill(n)(r.nextInt(range).toLong).distinct)

  /** Median over `reps` of the mean ns per row of `f` over all rows, each
    * rep looping over the rows until at least `minNs` has passed. */
  private def time[A](rows: IndexedSeq[A], reps: Int, minNs: Long)(
      f: A => Long): Double = {
    var sink = 0L
    rows.foreach(a => sink += f(a)) // warm: JIT the call site
    rows.foreach(a => sink += f(a))
    val per = (1 to reps).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < minNs) {
        var i = 0
        while (i < rows.length) { sink += f(rows(i)); i += 1 }
        n += rows.length
        t = System.nanoTime()
      }
      (t - t0).toDouble / n
    }.sorted
    if (sink == 42L) System.err.print("") // keep the results live
    per(per.size / 2)
  }

  def run(seed: Long, reps: Int = 5, minNs: Long = 40000000L): Seq[Result] = {
    val r = new scala.util.Random(seed)
    val docs = IndexedSeq.fill(256)(UTF8String.fromString(doc(r)))
    val pairs = IndexedSeq.fill(512)((vec(r), vec(r)))
    val sets = IndexedSeq.fill(256)((longs(r, 120, 400), longs(r, 120, 400)))
    val tokens = IndexedSeq.fill(256)(longs(r, 300, Int.MaxValue))
    val votes = IndexedSeq.fill(256)(longs(r, 128, 1 << 30))
    val (pqM, pqK, pqSub) = (8, 32, Dim / 8)
    val cbs = Array.fill(pqM, pqK, pqSub)(r.nextGaussian())
    val vecs = pairs.map(_._1)
    val pat = UTF8String.fromString("aab")
    val repl = UTF8String.fromString("<X>")
    val avgDocBytes = docs.map(_.numBytes.toDouble).sum / docs.size
    val avgDocChars = docs.map(_.numChars.toDouble).sum / docs.size
    def arrBytes(a: ArrayData) = a.numElements * 8.0
    val avgSet = sets.map(p => arrBytes(p._1) + arrBytes(p._2)).sum / sets.size
    val avgTok = tokens.map(arrBytes).sum / tokens.size
    val avgVote = votes.map(arrBytes).sum / votes.size
    def res(name: String, ns: Double, ops: Double, bytes: Double) =
      Result(name, ns, bytes / ns * 1e3, ops, bytes)
    // operation counts: bytes scanned for string kernels, multiply-adds for
    // vector kernels, hash probes for jaccard, element visits otherwise
    Seq(
      res("countLiteral", time(docs, reps, minNs)(
        d => StringKernels.countLiteral(d, pat).toLong), avgDocBytes, avgDocBytes),
      res("replaceN", time(docs, reps, minNs)(
        d => StringKernels.replaceN(d, pat, repl, -1).numBytes.toLong),
        avgDocBytes, avgDocBytes),
      res("polyHash", time(docs, reps, minNs)(d => StringKernels.polyHash(d)),
        avgDocChars, avgDocBytes),
      res("deflateLen", time(docs, reps, minNs)(
        d => StringKernels.deflateLen(d, 6).toLong), avgDocBytes, avgDocBytes),
      res("caseFold", time(docs, reps, minNs)(
        d => StringKernels.caseFold(d).numBytes.toLong), avgDocChars,
        avgDocBytes),
      res("isTitle", time(docs, reps, minNs)(
        d => if (StringKernels.isTitle(d)) 1L else 0L), avgDocChars,
        avgDocBytes),
      res("dot", time(pairs, reps, minNs)(
        p => VectorKernels.dot(p._1, p._2).doubleValue.toLong), Dim,
        2.0 * Dim * 8),
      res("l2sq", time(pairs, reps, minNs)(
        p => VectorKernels.l2sq(p._1, p._2).doubleValue.toLong), Dim,
        2.0 * Dim * 8),
      res("jaccardLong", time(sets, reps, minNs)(
        p => (VectorKernels.jaccardLong(p._1, p._2) * 1e6).toLong),
        avgSet / 8, avgSet),
      res("shingleGrams", time(tokens, reps, minNs)(
        t => VectorKernels.shingleGrams(t, 5, StringKernels.POLY_MOD)
          .numElements.toLong), avgTok / 8 * 5, avgTok),
      res("simHash30", time(votes, reps, minNs)(
        v => VectorKernels.simHash30(v)), avgVote / 8 * 30, avgVote),
      res("pqEncode", time(vecs, reps, minNs)(
        v => VectorKernels.pqEncode(v, cbs, pqSub).numElements.toLong),
        pqM.toDouble * pqK * pqSub, Dim * 8.0 + pqM * pqK * pqSub * 8.0),
    )
  }
}

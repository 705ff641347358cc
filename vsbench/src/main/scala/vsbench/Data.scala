package vsbench

import java.util.SplittableRandom

/** Gaussian-mixture float32 vectors, generated from a seed alone.
  *
  * Row `i` of stream `s` depends only on (seed, s, i), so the corpus, the
  * query pool and the upsert rows can be regenerated on any thread in any
  * order and always read the same. Component centres are N(0, 1) per
  * dimension; a row is its component's centre plus N(0, spread²) noise. */
final case class Mixture(dims: Int, components: Int, spread: Double,
                         seed: Long) {

  private def rng(stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(Mixture.mix(Mixture.mix(seed ^ (stream << 56)) + i))

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on two uniforms in (0, 1]: the JDK's nextGaussian
    // algorithm is not pinned across releases, this one is
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  private val centres: Array[Array[Double]] = Array.tabulate(components) { c =>
    val r = rng(Mixture.Centres, c)
    Array.fill(dims)(gaussian(r))
  }

  def row(stream: Long, i: Long): Array[Float] = {
    val r = rng(stream, i)
    val c = centres(r.nextInt(components))
    Array.tabulate(dims)(d => (c(d) + spread * gaussian(r)).toFloat)
  }

  def rows(stream: Long, n: Int): Array[Array[Float]] =
    Array.tabulate(n)(i => row(stream, i))

  /** A seeded random source for workload choices (batches, deletes). */
  def choices(stream: Long): SplittableRandom = rng(stream, -1L)
}

object Mixture {
  val Centres = 0L
  val Corpus = 1L
  val Queries = 2L
  val Upserts = 3L
  val Batches = 4L
  val Deletes = 5L
  val KMeansInit = 6L

  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Exact k-NN in plain JVM code, independent of every engine kernel: the
  * harness's ground truth. Distances are squared L2 folded in double over
  * the float32 values, in dimension order. */
object Oracle {

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** The k nearest live rows to `q`, best first, ties broken by id. */
  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]],
           k: Int): Array[(Long, Double)] = {
    // bounded max-heap on (dist, id)
    val hd = new Array[Double](k)
    val hi = new Array[Long](k)
    var n = 0
    def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
      d1 > d2 || (d1 == d2 && i1 > i2)
    def siftDown(): Unit = {
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1
        val r = l + 1
        var m = p
        if (l < n && worse(hd(l), hi(l), hd(m), hi(m))) m = l
        if (r < n && worse(hd(r), hi(r), hd(m), hi(m))) m = r
        if (m == p) done = true
        else {
          val td = hd(p); hd(p) = hd(m); hd(m) = td
          val ti = hi(p); hi(p) = hi(m); hi(m) = ti
          p = m
        }
      }
    }
    var j = 0
    while (j < ids.length) {
      val d = l2(q, vecs(j))
      if (n < k) {
        hd(n) = d; hi(n) = ids(j); n += 1
        var c = n - 1
        while (c > 0 && worse(hd(c), hi(c), hd((c - 1) / 2), hi((c - 1) / 2))) {
          val p = (c - 1) / 2
          val td = hd(p); hd(p) = hd(c); hd(c) = td
          val ti = hi(p); hi(p) = hi(c); hi(c) = ti
          c = p
        }
      } else if (worse(hd(0), hi(0), d, ids(j))) {
        hd(0) = d; hi(0) = ids(j); siftDown()
      }
      j += 1
    }
    (0 until n).map(x => (hi(x), hd(x))).sortBy(t => (t._2, t._1)).toArray
  }

  /** Truth for every query, computed on `threads` plain JVM threads. */
  def truth(queries: Array[Array[Float]], ids: Array[Long],
            vecs: Array[Array[Float]], k: Int,
            threads: Int): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](queries.length)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until threads).map { _ =>
      new Thread(() => {
        var q = next.getAndIncrement()
        while (q < queries.length) {
          out(q) = topK(queries(q), ids, vecs, k)
          q = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    out
  }
}

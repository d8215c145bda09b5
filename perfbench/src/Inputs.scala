package perfbench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** Seeded input generation. Every input a workload consumes is made here
  * from the seed and written out, as CSV, before any timing starts; the
  * program only ever sees the written files.
  */
object Inputs {

  /** One rating event: the engine's (userid, itemid, rating) contract. */
  final case class Rating(user: Long, item: Long, rating: Double)

  /** Ratings over `users` x `items` with exactly `total` distinct
    * (user, item) pairs. Item popularity follows a Zipf law of exponent
    * `itemSkew` over a seeded permutation of the item ids, so each seed
    * has different hot items. Per-user counts vary around the mean; every
    * user keeps at least `minPerUser` ratings.
    */
  def ratings(rng: SplittableRandom, users: Int, items: Int, total: Int,
      itemSkew: Double, minPerUser: Int): Array[Rating] = {
    require(total <= users.toLong * items && total >= users.toLong * minPerUser)
    val maxPerUser = math.min(items, math.max(minPerUser, 3 * total / users))
    val mean = total.toDouble / users
    val counts = Array.fill(users)(
      math.max(minPerUser, math.min(maxPerUser,
        math.round(mean * (0.4 + 1.2 * rng.nextDouble())).toInt)))
    var diff = total - counts.sum
    while (diff != 0) {
      val u = rng.nextInt(users)
      if (diff > 0 && counts(u) < maxPerUser) { counts(u) += 1; diff -= 1 }
      else if (diff < 0 && counts(u) > minPerUser) { counts(u) -= 1; diff += 1 }
    }
    val itemIds = permutation(rng, items)
    val weight = Array.tabulate(items)(r => 1.0 / math.pow(r + 1.0, itemSkew))
    // per-item quality and per-user bias make the similarity structure
    // non-trivial; ratings are half-star steps in [0.5, 5]
    val quality = Array.fill(items)(2.0 + 2.0 * rng.nextDouble())
    val out = new Array[Rating](total)
    var n = 0
    val keys = new Array[Double](items)
    val order = (0 until items).toArray
    for (u <- 0 until users) {
      val bias = rng.nextDouble() - 0.5
      // weighted sampling without replacement (Efraimidis-Spirakis keys)
      var r = 0
      while (r < items) { keys(r) = math.log(rng.nextDouble()) / weight(r); r += 1 }
      val top = order.sortBy(i => -keys(i)).take(counts(u))
      top.foreach { rank =>
        val raw = quality(rank) + bias + rng.nextGaussian() * 0.8
        val v = math.min(5.0, math.max(0.5, math.round(raw * 2) / 2.0))
        out(n) = Rating(u + 1L, itemIds(rank).toLong, v)
        n += 1
      }
    }
    out
  }

  /** Seeded permutation of 1..n (ids start at 1). */
  def permutation(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(_ + 1)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** `len` draws of ids 1..n, Zipf(`skew`) over a seeded permutation, so
    * a few users are hot and most are cold. The draws are stratified: each
    * block of 100 takes one draw from every hundredth of the distribution,
    * in seeded order. Every stretch of the sequence then holds close to the
    * same mix of hot and cold users, and seeds differ in which users are
    * hot and in what order they come, not in how many reads go to them.
    */
  def zipfSequence(rng: SplittableRandom, n: Int, skew: Double,
      len: Int): Array[Long] = {
    val ids = permutation(rng, n)
    val cdf = new Array[Double](n)
    var acc = 0.0
    for (r <- 0 until n) { acc += 1.0 / math.pow(r + 1.0, skew); cdf(r) = acc }
    val Block = 100
    (0 until len by Block).toArray.flatMap { b =>
      val m = math.min(Block, len - b)
      shuffle(rng, Array.tabulate(m)(j => (j + rng.nextDouble()) / m)).map { x =>
        var i = java.util.Arrays.binarySearch(cdf, x * acc)
        if (i < 0) i = -i - 1
        ids(math.min(i, n - 1)).toLong
      }
    }
  }

  def writeCsv(path: java.nio.file.Path, rs: Seq[Rating]): Unit =
    writeLines(path, rs.map(r => s"${r.user},${r.item},${r.rating}"))

  def writeLines(path: java.nio.file.Path, lines: Seq[String]): Unit =
    java.nio.file.Files.write(path, lines.asJava)

  /** Seeded in-place shuffle. */
  def shuffle[T](rng: SplittableRandom, a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}

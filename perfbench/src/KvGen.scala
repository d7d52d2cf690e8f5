package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator of a src/dst pair of KV snapshots with planted
  * divergence. Index i in [0, n) owns key `BE64(i) ++ suffix` (16 to
  * 48 bytes), so key order is index order and a key range is an index
  * range. Each index has a class: equal, src-only, dst-only or
  * mismatch (same key, different value), drawn at `divergePpm` parts
  * per million. Every byte is a pure function of (seed, i), so the
  * executors generate the snapshots and the benchmark regenerates any
  * pair locally to compute expected answers. */
final class KvGen(val seed: Long, val n: Int, val divergePpm: Int) extends Serializable {
  import KvGen._

  private def h(i: Long, salt: Long): Long =
    mix(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL)

  def cls(i: Long): Int = {
    val x = h(i, 1)
    if (java.lang.Long.remainderUnsigned(x, 1000000L) < divergePpm)
      1 + ((x >>> 40) % 3).toInt
    else Equal
  }

  def inSide(i: Long, dst: Boolean): Boolean = cls(i) != (if (dst) SrcOnly else DstOnly)

  def key(i: Long): Array[Byte] = {
    val k = new Array[Byte](16 + ((h(i, 2) >>> 1) % 33).toInt)
    var b = 0
    while (b < 8) { k(b) = (i >>> (56 - 8 * b)).toByte; b += 1 }
    val r = new java.util.SplittableRandom(h(i, 3))
    while (b < k.length) { k(b) = r.nextInt().toByte; b += 1 }
    k
  }

  /** 16 B to 1 KiB, skewed small (u^4): mean about 218 B. */
  def value(i: Long, dst: Boolean): Array[Byte] = {
    val u = (h(i, 4) >>> 11) * (1.0 / (1L << 53))
    val v = new Array[Byte](16 + (1008 * u * u * u * u).toInt)
    new java.util.SplittableRandom(h(i, 5)).nextBytes(v)
    if (dst && cls(i) == Mismatch) v(0) = (v(0) ^ 0x5A).toByte
    v
  }

  /** The side's snapshot as a (key, value) frame, `parts` contiguous
    * index ranges, each already in key order. */
  def frame(spark: SparkSession, dst: Boolean, parts: Int): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(0, n, 1, parts).as[Long].mapPartitions { it =>
      it.filter(i => g.inSide(i, dst)).map(i => (g.key(i), g.value(i, dst)))
    }.toDF("key", "value")
  }

  /** Planted indices per class, ascending. */
  lazy val planted: Map[Int, Array[Int]] = {
    val byClass = (0 until n).filter(i => cls(i) != Equal).groupBy(cls(_))
    Seq(SrcOnly, DstOnly, Mismatch)
      .map(c => c -> byClass.getOrElse(c, Seq.empty).toArray).toMap
  }

  def plantedIn(lo: Int, hi: Int): Seq[(Int, Int)] =
    planted.toSeq.flatMap { case (c, xs) => xs.filter(i => i >= lo && i < hi).map(_ -> c) }
      .sortBy(_._1)

  /** Expected checksum triple (crc64 xor, pairs, bytes) of one side over
    * the index range [lo, hi), by the benchmark's own CRC64. */
  def triple(lo: Int, hi: Int, dst: Boolean): (Long, Long, Long) = {
    var crc = 0L; var kvs = 0L; var bytes = 0L
    var i = lo
    while (i < hi) {
      if (inSide(i, dst)) {
        val k = key(i); val v = value(i, dst)
        crc ^= RefCrc64.update(RefCrc64.update(0L, k), v)
        kvs += 1; bytes += k.length + v.length
      }
      i += 1
    }
    (crc, kvs, bytes)
  }
}

object KvGen {
  val Equal = 0
  val SrcOnly = 1
  val DstOnly = 2
  val Mismatch = 3
  val className: Map[Int, String] =
    Map(SrcOnly -> "src_only", DstOnly -> "dst_only", Mismatch -> "mismatch")

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Range bound for index i: the 8-byte big-endian prefix, which sorts
    * after every key of index i-1 and before every key of index i. */
  def bound(i: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    (0 until 8).foreach(j => b(j) = (i >>> (56 - 8 * j)).toByte)
    b
  }

  private val Digits = "0123456789ABCDEF".toCharArray

  def hexOf(b: Array[Byte]): String = {
    val c = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      c(2 * i) = Digits((b(i) >> 4) & 0xF)
      c(2 * i + 1) = Digits(b(i) & 0xF)
      i += 1
    }
    new String(c)
  }
}

/** CRC64 with the reflected ECMA-182 polynomial, init ~0 and final
  * complement (Go's hash/crc64 ECMA table), written here independently
  * of the program so expected checksums do not come from the code under
  * test. */
object RefCrc64 {
  private val table = Array.tabulate(256) { n =>
    (0 until 8).foldLeft(n.toLong)((c, _) =>
      if ((c & 1L) != 0) (c >>> 1) ^ 0xC96C5795D7870F42L else c >>> 1)
  }

  def update(crc0: Long, b: Array[Byte]): Long = {
    var c = ~crc0
    var i = 0
    while (i < b.length) { c = table(((c ^ b(i)) & 0xFF).toInt) ^ (c >>> 8); i += 1 }
    ~c
  }
}

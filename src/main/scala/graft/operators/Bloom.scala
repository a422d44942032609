package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/**
 * Partitioned Bloom filter — the fast path in front of the exact
 * anti-join URL-seen set (SURVEY §2.4 D2).
 *
 * Sizing formula carried from the reference
 * (cola/core/bloomfilter/__init__.py:88-98):
 *   m = ceil(capacity·ln(err) / ln(1/2^ln2)),  k = ceil(ln2·m/capacity)
 * Hashing is Kirsch–Mitzenmacher double hashing over the 64-bit url hash
 * (we deliberately do NOT reproduce the reference's SHA-1-hexdigest
 * chopping — the correctness contract is the exact seen set; the Bloom is
 * only a pre-filter, so hash differences never change results; equality
 * of the bloom-on vs bloom-off pipelines is asserted by DedupSpec).
 */
final class BloomFilter(val numBits: Int, val numHashes: Int, val words: Array[Long])
    extends SeenFilter {

  def this(numBits: Int, numHashes: Int) =
    this(numBits, numHashes, new Array[Long]((numBits + 63) / 64))

  @inline private def mix(h: Long): Long = {
    // splitmix64 finalizer — decorrelates the two KM base hashes
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def put(hash64: Long): Unit = {
    val h1 = mix(hash64)
    val h2 = mix(hash64 ^ 0x5DEECE66DL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits.toLong).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(hash64: Long): Boolean = {
    val h1 = mix(hash64)
    val h2 = mix(hash64 ^ 0x5DEECE66DL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits.toLong).toInt
      if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def merge(other: BloomFilter): BloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"bloom shape mismatch: ($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numBits).putInt(numHashes)
    words.foreach(bb.putLong)
    bb.array()
  }
}

object BloomFilter {
  /** Reference sizing (cola/core/bloomfilter/__init__.py:88-98);
   *  default fpr 0.01 per cola/core/dedup.py:45. */
  def optimalSize(capacity: Long, fpr: Double = 0.01): (Int, Int) = {
    require(capacity > 0)
    val m = math.ceil(capacity * math.log(fpr) / math.log(1.0 / math.pow(2.0, math.log(2.0))))
    val k = math.ceil(math.log(2.0) * m / capacity)
    (math.max(m.toInt, 64), math.max(k.toInt, 1))
  }

  def create(capacity: Long, fpr: Double = 0.01): BloomFilter = {
    val (m, k) = optimalSize(capacity, fpr)
    new BloomFilter(m, k)
  }

  def fromBytes(bytes: Array[Byte]): BloomFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = bb.getInt; val k = bb.getInt
    val words = new Array[Long]((m + 63) / 64)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    new BloomFilter(m, k, words)
  }

  /** Typed Aggregator building a per-group Bloom from 64-bit url hashes;
   *  registered per-bucket so each seen-set partition carries its own
   *  compact filter (D3: capacity is per-bucket = jobCapacity/P). */
  final class BloomAgg(capacity: Long, fpr: Double)
      extends Aggregator[Long, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = create(capacity, fpr)
    override def reduce(b: BloomFilter, h: Long): BloomFilter = { b.put(h); b }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = a.merge(b)
    override def finish(b: BloomFilter): Array[Byte] = b.toBytes
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Column building a bloom over a LongType hash column. */
  def bloomAggCol(hashCol: Column, capacity: Long, fpr: Double = 0.01): Column =
    functions.udaf(new BloomAgg(capacity, fpr)).apply(hashCol)
}

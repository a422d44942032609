package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-document MinHash-LSH sketch: the hashed word k-shingle set, the
 * MinHash signature and the LSH band keys of ONE text, computed in one
 * pass over its bytes. Every value depends on the document alone, so the
 * near-dup pipeline needs no shingle explode, no shuffle by id and no
 * 64-way `min` aggregate to derive them (see
 * [[graft.operators.TextDedup.minhashLshDuplicates]]).
 *
 * Bit-identical to the expression-tree form the pipeline used before
 * (`split(trim(text), "\\s+")`, `xxhash64` over the k words, slot
 * `xxhash64(xxhash64(shingle), i)`, band `xxhash64(slice(sig, …), b)`):
 * the same `UTF8String.trim()` (ASCII spaces only), the same word split
 * (Java's `\s` is the six ASCII whitespace bytes, so on valid UTF-8 a
 * byte scan splits exactly where `split("\\s+", -1)` does, leading and
 * trailing empty words included; invalid UTF-8 takes Spark's own String
 * split, whose decode replaces bad bytes) and Spark's `XXH64` seed chain
 * (seed 42, each argument or array element seeding the next).
 *
 * Memory per row is O(words of the document): word offsets, one long per
 * shingle and the fixed-size signature.
 */
object MinHashKernel {

  /** Spark's `xxhash64` seed. */
  final val Seed = 42L

  private val WsRegex = UTF8String.fromString("\\s+")

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Words of `split(trim(u), "\\s+")`; at k = 1 without the empty ones. */
  private def words(u: UTF8String, k: Int): Array[UTF8String] = {
    val t = u.trim()
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val n = t.numBytes
    var out = new Array[UTF8String](16)
    var nw = 0
    var ascii = true
    def add(from: Int, to: Int): Unit = if (k > 1 || to > from) {
      if (nw == out.length) out = java.util.Arrays.copyOf(out, nw * 2)
      out(nw) = UTF8String.fromAddress(base, off + from, to - from)
      nw += 1
    }
    var start = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (isWs(b)) {
        add(start, i)
        i += 1
        while (i < n && isWs(Platform.getByte(base, off + i))) i += 1
        start = i
      } else {
        if (b < 0) ascii = false
        i += 1
      }
    }
    add(start, n)
    if (ascii || t.isValid()) java.util.Arrays.copyOf(out, nw)
    else t.split(WsRegex, -1).filter(w => k > 1 || w.numBytes > 0)
  }

  /** Sorted, distinct hashes of the text's word k-shingles: shingle i is
   *  `xxhash64(w(i), …, w(i+k-1))`. Empty for null text or fewer than k
   *  words. */
  def shingleSet(u: UTF8String, k: Int): Array[Long] = {
    if (u == null) return Array.emptyLongArray
    val w = words(u, k)
    val n = w.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = Seed
      var j = 0
      while (j < k) { h = XXH64.hashUTF8String(w(i + j), h); j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var m = 1
    i = 1
    while (i < n) {
      if (hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, m)
  }

  /** Per-shingle part of every slot hash: `xxhash64(xxhash64(shingle), i)`
   *  is `hashInt(i, slotBase(xxhash64(shingle)))`. */
  def slotBase(h1: Long): Long = XXH64.hashLong(h1, Seed)

  /** Slot `i`'s hash of a shingle whose `xxhash64` is `h1`. */
  def slot(h1: Long, i: Int): Long = XXH64.hashInt(i, slotBase(h1))

  /** MinHash signature of a shingle-hash set: slot i is the minimum of
   *  [[slot]] over the set (`Long.MaxValue` slots for an empty set). */
  def signature(set: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < set.length) {
      val g = slotBase(XXH64.hashLong(set(s), Seed))
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashInt(i, g)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  /** Band `b`'s bucket key: `xxhash64(slice(sig, b·rows + 1, rows), b)`. */
  def band(sig: Array[Long], b: Int, rows: Int): Long = {
    var h = Seed
    var j = 0
    while (j < rows) { h = XXH64.hashLong(sig(b * rows + j), h); j += 1 }
    XXH64.hashInt(b, h)
  }

  /** The `bands` bucket keys of a signature. */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    Array.tabulate(bands)(b => band(sig, b, rows))
  }

  /** (set, bands) of one text; a text without shingles has no band keys. */
  def sketch(u: UTF8String, k: Int, numHashes: Int, bands: Int): InternalRow = {
    val set = shingleSet(u, k)
    val keys =
      if (set.isEmpty) Array.emptyLongArray
      else bandKeys(signature(set, numHashes), bands)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(set), UnsafeArrayData.fromPrimitiveArray(keys)))
  }

  /** Result type of [[sketch]]. */
  val SketchType: StructType = StructType(Seq(
    StructField("set", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false)))
}

/** Native Catalyst expression for [[MinHashKernel.sketch]]: whole-stage
  * codegen, deterministic, null for null text (UnaryExpression's null
  * short-circuit). */
case class MinHashSketch(child: Expression, k: Int, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(k > 0 && bands > 0 && numHashes % bands == 0,
    s"k=$k, numHashes=$numHashes, bands=$bands")
  override def dataType: DataType = MinHashKernel.SketchType
  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.sketch(input.asInstanceOf[UTF8String], k, numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashKernel.sketch($c, $k, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSketch =
    copy(child = newChild)
  override def prettyName: String = "minhash_sketch"
}

/** Native Catalyst expression for [[MinHashKernel.slot]] over a column of
  * shingle `xxhash64`s. */
case class MinHashSlot(child: Expression, i: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.slot(input.asInstanceOf[Long], i)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.slot($c, $i)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSlot =
    copy(child = newChild)
  override def prettyName: String = "minhash_slot"
}

/** Column-level entry points. */
object MinHashExprs {
  /** struct<set: array<bigint>, bands: array<bigint>> of a text column. */
  def sketch(text: Column, k: Int, numHashes: Int, bands: Int): Column =
    ColumnBridge.column(MinHashSketch(ColumnBridge.expression(text), k, numHashes, bands))

  /** Slot `i` of a column of shingle `xxhash64`s. */
  def slot(h1: Column, i: Int): Column =
    ColumnBridge.column(MinHashSlot(ColumnBridge.expression(h1), i))
}

package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextDedup

/** The per-document MinHash sketch against the expression-tree plan it
 *  replaced: shingle sets, signatures and band keys bit for bit. */
class MinHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Edge-case texts plus 300 seeded documents; id 9 is invalid UTF-8. */
  private def corpus: DataFrame = {
    val sp = spark
    import sp.implicits._
    val edge = Seq[(Long, String)](
      (1L, "\t lead tab then words here"), // trim keeps the tab: empty first word
      (2L, "repeated   spaces\t\tand\n\ntabs  trailing newline\n"),
      (3L, "two words"), (4L, "one"), (5L, ""), (6L, "   "), (7L, null),
      (8L, "café naïve 日本語 テキスト über straße  ok nbsp stays"),
      (10L, "a b a b a b a b"), (11L, " \r\f\u000b mixed \u000b controls \r\n"))
      .toDF("id", "text")
    val invalid = Seq((9L, Array[Byte]('a', ' ', 0xff.toByte, 'b', ' ', 0xc3.toByte, ' ', 'c', ' ', 'd')))
      .toDF("id", "bin").select(col("id"), col("bin").cast("string").as("text"))
    val rnd = new scala.util.Random(5)
    val docs = (1000L until 1300L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(60))("w" + rnd.nextInt(400)).mkString(" ")
    }.toDF("id", "text")
    edge.unionByName(invalid).unionByName(docs)
  }

  /** The signature plan before the kernel: slot i = min xxhash64(xxhash64(s), i). */
  private def oldSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val hashes = (0 until numHashes).map(i => min(xxhash64(col("__h1"), lit(i))).as(s"m$i"))
    sh.select(col("id"), xxhash64(col("shingle")).as("__h1"))
      .groupBy(col("id")).agg(hashes.head, hashes.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  private def longs(r: org.apache.spark.sql.Row, i: Int): Seq[Long] = r.getSeq[Long](i)

  for ((k, numHashes, bands) <- Seq((1, 64, 32), (3, 64, 32), (3, 12, 4))) {
    test(s"sketch equals the expression plan: k=$k, $numHashes slots, $bands bands") {
      val df = corpus
      val rows = numHashes / bands
      val sh = TextDedup.shingleHashesRaw(df, "text", "id", k)
      val oldSets = sh.groupBy(col("id")).agg(sort_array(collect_set(col("shingle"))).as("set"))
        .collect().map(r => r.getLong(0) -> longs(r, 1)).toMap
      val oldSig = oldSignatures(sh, numHashes)
      val oldBands = oldSig.select(col("id"), col("sig"), expr(
          s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $rows + 1, $rows), b))")
          .as("bands"))
        .collect().map(r => r.getLong(0) -> ((longs(r, 1), longs(r, 2)))).toMap
      val sketches = df.select(col("id"),
          MinHashExprs.sketch(col("text"), k, numHashes, bands).as("sk"))
        .select(col("id"), col("sk.set"), col("sk.bands"), col("sk").isNull)
        .collect().map(r => r.getLong(0) -> r).toMap

      assert(oldSets.keySet.contains(1L) && oldSets.keySet.contains(9L), "edge docs shingle")
      assert(oldSets.size > 100, "fixture documents shingle")
      sketches.foreach { case (id, r) =>
        if (r.getBoolean(3)) assert(id == 7L, s"only null text has a null sketch, not $id")
        else {
          val (set, keys) = (longs(r, 1), longs(r, 2))
          assert(set == oldSets.getOrElse(id, Nil), s"doc $id: shingle set")
          assert(set == set.distinct.sorted, s"doc $id: sorted, distinct")
          oldBands.get(id) match {
            case Some((sig, b)) =>
              assert(keys == b, s"doc $id: band keys")
              assert(MinHashKernel.signature(set.toArray, numHashes).toSeq == sig,
                s"doc $id: signature")
            case None => assert(keys.isEmpty, s"doc $id: no shingles, no band keys")
          }
        }
      }
      // minhashSignatures (on the shared slot hash) equals the old plan
      val sig = TextDedup.minhashSignatures(sh, numHashes)
        .collect().map(r => r.getLong(0) -> longs(r, 1)).toMap
      assert(sig == oldBands.map { case (id, (s, _)) => id -> s })
    }
  }

  test("fewer than k words, empty, whitespace-only and null text have empty sketches") {
    def eval(t: String, k: Int): Seq[Long] = {
      val e = MinHashSketch(Literal.create(t, org.apache.spark.sql.types.StringType), k, 64, 32)
      Option(e.eval(null)).map(_.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
        .map(_.getArray(0).toLongArray().toSeq).getOrElse(Nil)
    }
    assert(eval("two words", 3).isEmpty && eval("", 1).isEmpty && eval(" \t ", 1).isEmpty)
    assert(eval(null, 3).isEmpty)
    assert(eval("two words", 2).size == 1 && eval("a b a", 1).size == 2)
    // a tab that trim keeps is an empty word inside a k >= 2 shingle
    assert(eval("\tx y", 2).size == 2 && eval("\tx y", 1).size == 2)
    assert(MinHashKernel.shingleSet(UTF8String.fromString("a a a a"), 2).length == 1)
  }
}

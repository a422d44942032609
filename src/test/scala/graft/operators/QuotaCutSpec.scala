package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Politeness.applyQuotas` resolves every binding priority's cut from a
  * (priority, seq >> 16) histogram plus one ranking job over the cut
  * buckets. It must keep exactly the rows the plain formulation keeps:
  * per priority i, `row_number() over (partition by priority order by
  * seq) <= quota_i`. */
class QuotaCutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Bucket = 1L << 16
  private val PerBucket = 5

  /** Rows of `nPriorities` priorities; priority p holds `PerBucket` rows in
    * each of `buckets(p)` seq buckets of 2^16, spread across the bucket
    * (seq unique, as the engine guarantees). */
  private def input(buckets: Seq[Int]): DataFrame = {
    val s = spark
    import s.implicits._
    val rows = for {
      (nb, p) <- buckets.zipWithIndex
      b <- 0 until nb
      k <- 0 until PerBucket
    } yield (p, (b + 3L * p) * Bucket + k * 9973L + p, s"h$k")
    rows.toDF("priority", "seq", "host")
  }

  private def plain(df: DataFrame, grant: Long, nPriorities: Int): Set[(Int, Long)] = {
    val q = Politeness.priorityQuotas(grant, nPriorities)
    val quota = q.zipWithIndex.foldLeft(lit(0L)) { case (acc, (qi, i)) =>
      when(col("priority") === i, lit(qi)).otherwise(acc)
    }
    rows(df.withColumn("__r", row_number().over(
        Window.partitionBy(col("priority")).orderBy(col("seq"))))
      .filter(col("__r") <= quota))
  }

  private def rows(df: DataFrame): Set[(Int, Long)] =
    df.select("priority", "seq").collect().map(r => (r.getInt(0), r.getLong(1))).toSet

  test("applyQuotas ≡ per-priority row_number ≤ quota (1–4 binding priorities, rem = 0 and rem > 0)") {
    // (binding priorities, whether the cut fell on a bucket boundary)
    val seen = scala.collection.mutable.Set.empty[(Int, Boolean)]
    for (nPriorities <- 1 to 4) {
      val buckets = Seq(4, 3, 2, 3).take(nPriorities)
      val df = input(buckets).cache()
      for (grant <- 1L to (buckets.sum * PerBucket + 2L) by 4L) {
        val quotas = Politeness.priorityQuotas(grant, nPriorities)
        val binding = buckets.indices.filter(i => buckets(i) * PerBucket > quotas(i))
        binding.foreach(i => seen += ((binding.size, quotas(i) % PerBucket == 0)))
        assert(rows(Politeness.applyQuotas(df, grant, nPriorities)) == plain(df, grant, nPriorities),
          s"nPriorities=$nPriorities grant=$grant quotas=$quotas")
      }
      df.unpersist()
    }
    (1 to 4).foreach(n => assert(seen.exists(_._1 == n), s"no case with $n binding priorities"))
    assert(seen.exists(_._2) && seen.exists(!_._2), "both rem = 0 and rem > 0 cuts must occur")
  }

  test("applyQuotas keeps every row when no quota binds") {
    val df = input(Seq(2, 1))
    assert(rows(Politeness.applyQuotas(df, 1000L, 2)) == rows(df))
  }
}

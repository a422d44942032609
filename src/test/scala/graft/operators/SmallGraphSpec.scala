package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SmallGraphSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def all(n: Long): Option[Set[Long]] = Some((0L until n).toSet)

  private def probe(n: Long, threshold: Long): Option[Set[Long]] = {
    val s = spark
    import s.implicits._
    SmallGraph.collect(spark.range(0, n, 1, 4).as[Long], threshold).map(_.toSet)
  }

  test("exactly threshold rows come back; threshold + 1 rows do not") {
    assert(probe(5, 5) == all(5))
    assert(probe(6, 5).isEmpty)
    assert(probe(1000, 5).isEmpty) // the limit cuts the scan short
    assert(probe(1, 1) == all(1))
    assert(probe(2, 1).isEmpty)
  }

  test("an empty input is small at any non-negative threshold") {
    assert(probe(0, 0) == all(0))
    assert(probe(0, 5) == all(0))
    assert(probe(0, SmallGraph.EdgeThreshold) == all(0))
  }

  test("a threshold of -1 or 0 sends non-empty input to the distributed regime") {
    assert(probe(3, -1).isEmpty)
    assert(probe(3, 0).isEmpty)
    assert(probe(1, 0).isEmpty)
    // a negative threshold forces the distributed regime even when empty
    assert(probe(0, -1).isEmpty)
  }

  test("a threshold past Int.MaxValue still bounds the probe and returns every row") {
    assert(probe(3, Int.MaxValue.toLong) == all(3))
    assert(probe(3, Long.MaxValue) == all(3))
  }
}

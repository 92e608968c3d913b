package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  test("idle fraction: no tasks means the whole operation was idle") {
    assert(Stats.idleFraction(0, 100, Nil) == 1.0)
  }

  test("idle fraction: overlapping tasks count their union once") {
    // busy 10..40 (three overlapping tasks) and 60..70: 40 of 100 busy
    val busy = Seq((10L, 30L), (20L, 40L), (15L, 25L), (60L, 70L))
    assert(Stats.idleFraction(0, 100, busy) == 0.6)
  }

  test("idle fraction: tasks are clipped to the operation's interval") {
    // 50..150 clips to 50..100; -20..10 clips to 0..10: 60 of 100 busy
    assert(Stats.idleFraction(0, 100, Seq((50L, 150L), (-20L, 10L))) == 0.4)
    assert(Stats.idleFraction(0, 100, Seq((200L, 300L))) == 1.0)
  }

  test("idle fraction: back-to-back and nested tasks leave no gap") {
    val busy = Seq((0L, 50L), (50L, 100L), (20L, 30L))
    assert(Stats.idleFraction(0, 100, busy) == 0.0)
  }

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("row digest ignores row order and partitioning") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 0.0), (2L, "b", -0.25))
    val df = rows.toDF("k", "s", "x")
    val d = RowHash.of(df)
    assert(d.rows == 4)
    assert(RowHash.of(rows.reverse.toDF("k", "s", "x")) == d)
    assert(RowHash.of(df.repartition(3)) == d)
    assert(RowHash.of(df.orderBy($"x".desc, $"k")) == d)
  }

  test("row digest sees a changed value, a missing duplicate and a null") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "s")
    val d = RowHash.of(base)
    assert(RowHash.of(Seq((1L, "a"), (2L, "c"), (2L, "b")).toDF("k", "s")) != d)
    assert(RowHash.of(Seq((1L, "a"), (2L, "b")).toDF("k", "s")) != d)
    assert(RowHash.of(Seq((1L, "a"), (2L, "b"), (2L, null)).toDF("k", "s")) != d)
  }
}

package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator is deterministic, its Spark and Scala forms agree, and
  * the model agrees with a brute-force fold over the generated rows. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val base = FacadeBench.BaseHour
  private val ct = new Timestamp(0L)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("series_id"), Gen.hourOf(r.getAs[Timestamp]("valid_time")),
      r.getAs[Double]("value"), r.getAs[Long]("run_id"), r.getAs[String]("retention"))).sorted.toSeq

  test("same seed, same batches; another seed, other values") {
    val g = Gen(7, 9, base)
    assert(rows(g.run(spark, 3, ct)) == rows(g.run(spark, 3, ct)))
    assert(rows(g.redelivery(spark, 3, ct)) == rows(Gen(7, 9, base).redelivery(spark, 3, ct)))
    assert(rows(g.run(spark, 3, ct)).map(_._3) != rows(Gen(8, 9, base).run(spark, 3, ct)).map(_._3))
  }

  test("Spark-built values equal the Scala formula") {
    val g = Gen(11, 9, base)
    val multi = g.runs(spark, 0, 5, ct).collect()
    assert(multi.length == 5 * 9 * Gen.Horizon)
    multi.foreach { r =>
      val run = r.getAs[Long]("run_id") - 1
      assert(Gen.hourOf(r.getAs[Timestamp]("knowledge_time")) == base + run)
      val sid = r.getAs[Long]("series_id")
      val vt = Gen.hourOf(r.getAs[Timestamp]("valid_time"))
      assert(vt > base + run && vt <= base + run + Gen.Horizon)
      assert(r.getAs[Double]("value") == g.value(sid, vt, run, 0))
      assert(r.getAs[String]("retention") == Gen.tierOf(sid))
    }
    rows(g.correction(spark, 4, ct)).foreach { case (sid, vt, v, _, _) =>
      assert(g.corrected(sid, 4) && v == g.value(sid, vt, 4, 1))
    }
    assert(g.correctionRows(4) == rows(g.correction(spark, 4, ct)).length)
    val changed = rows(g.redelivery(spark, 4, ct)).count { case (sid, vt, v, _, _) =>
      v != g.value(sid, vt, 4, 0)
    }
    assert(changed == g.redeliveryWritten(4) && changed > 0)
  }

  test("the model's answers equal a brute-force fold over every version") {
    val g = Gen(5, 6, base)
    val m = new Model(g)
    m.wrote(0, 30)
    m.corrected(20)
    m.redelivered(25)
    // Every stored version: (sid, vt, run, order of write, value).
    val versions =
      (for (r <- 0L until 30; sid <- 1L to 6; k <- 1 to Gen.Horizon) yield
        (sid, base + r + k, r, 0, g.value(sid, base + r + k, r, 0))) ++
      (for (sid <- 1L to 6 if g.corrected(sid, 20); k <- 1 to Gen.Horizon) yield
        (sid, base + 20 + k, 20L, 1, g.value(sid, base + 20 + k, 20, 1))) ++
      (for (sid <- 1L to 6; k <- 1 to Gen.Horizon if g.changed(sid, base + 25 + k, 25)) yield
        (sid, base + 25 + k, 25L, 2, g.value(sid, base + 25 + k, 25, 2)))
    val sids = Seq(1L, 4L, 6L)
    val (from, to) = (base + 10, base + 60)
    val inWindow = versions.filter(v => sids.contains(v._1) && v._2 >= from && v._2 < to)
    val latest = inWindow.groupBy(v => (v._1, v._2)).values.map(_.maxBy(v => (v._3, v._4)))
    val want = Answer(latest.size.toLong, latest.map(_._5).sum,
      latest.map(v => Gen.keySum(v._1, v._2, 0L)).sum)
    assert(m.expect(Query("latest", sids, from, to)) == want)
    val history = inWindow.groupBy(v => (v._1, v._2, v._3)).values.map(_.maxBy(_._4))
    assert(m.expect(Query("history", sids, from, to)) == Answer(history.size.toLong,
      history.map(_._5).sum, history.map(v => Gen.keySum(v._1, v._2, base + v._3)).sum))
    assert(m.runIds == (1L to 30L))
  }
}

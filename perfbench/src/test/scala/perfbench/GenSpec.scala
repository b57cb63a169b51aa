package perfbench

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def inputs(seed: Long): Seq[(String, Seq[Row])] = Seq(
    "lineitem" -> Gen.lineitem(seed, LocalDate.of(1995, 1, 1), 10, 20),
    "orders" -> Gen.orders(seed, 500, 100).map(_.row),
    "fact" -> Gen.facts(seed, 500, 100).map(_.row),
    "customer" -> Gen.customers(seed, 100).map { case (c, s) => Row(c, s) })

  test("the same seed yields byte-identical inputs") {
    inputs(7).zip(inputs(7)).foreach { case ((name, a), (_, b)) =>
      assert(Gen.digest(a) == Gen.digest(b), name)
      assert(a == b, name)
    }
  }

  test("another seed yields other inputs of the same shape") {
    inputs(7).zip(inputs(8)).foreach { case ((name, a), (_, b)) =>
      assert(a.size == b.size, name)
      assert(Gen.digest(a) != Gen.digest(b), name)
    }
  }

  test("seeded draws repeat, and samples are distinct") {
    def draws(seed: Long) = {
      val d = new Gen.Draws(seed, 1L)
      (d.sample((1 to 100).toIndexedSeq, 30), d.int(1000), d.word(8))
    }
    assert(draws(3) == draws(3))
    assert(draws(3) != draws(4))
    assert(draws(3)._1.distinct.size == 30)
  }

  test("the digest reads ship times as instants, not in the JVM's zone") {
    val rows = Gen.lineitem(1, LocalDate.of(1995, 1, 1), 2, 3)
    val before = Gen.digest(rows)
    val zone = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      assert(Gen.digest(rows) == before)
    } finally java.util.TimeZone.setDefault(zone)
  }

  test("every lineitem ship time falls on its generated UTC day") {
    val day0 = LocalDate.of(1995, 1, 1)
    val rows = Gen.lineitem(5, day0, 4, 50)
    rows.zipWithIndex.foreach { case (r, i) =>
      val day = Math.floorDiv(r.getAs[java.sql.Timestamp](9).getTime, 86400000L)
      assert(day == day0.toEpochDay + i / 50)
    }
  }
}

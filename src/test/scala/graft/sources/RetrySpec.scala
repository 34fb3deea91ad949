package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class RetrySpec extends AnyFunSuite {

  private class Flaky(failures: Int) {
    var calls = 0
    def apply(): Int = {
      calls += 1
      if (calls <= failures) throw new RuntimeException(s"flap $calls")
      calls
    }
  }

  test("retries through transient failures with backoff") {
    val f = new Flaky(3)
    val slept = collection.mutable.Buffer.empty[Long]
    val r = Retry.withBackoff(attempts = 5, backoffMs = 7, sleep = slept += _)(f())
    assert(r == 4 && f.calls == 4)
    assert(slept.toSeq == Seq(7, 7, 7))
  }

  test("gives up after the attempt budget") {
    val f = new Flaky(10)
    val e = intercept[RuntimeException] {
      Retry.withBackoff(attempts = 3, sleep = _ => ())(f())
    }
    assert(e.getMessage == "flap 3" && f.calls == 3)
  }

  test("non-transient errors propagate immediately") {
    val f = new Flaky(10)
    intercept[RuntimeException] {
      Retry.withBackoff(attempts = 5, isTransient = _ => false, sleep = _ => ())(f())
    }
    assert(f.calls == 1)
  }

  test("catalog seam: parquet fixture catalog resolves, describes, loads") {
    val spark = graft.SharedSpark.spark
    val cat = ParquetDirCatalog("/root/testdata/sf0.001")
    assert(cat.listTables("*ation*") == Seq("nation"))
    assert(cat.load(spark, "region").schema.fieldNames.contains("r_regionkey"))
    assert(cat.load(spark, "region").count() == 5)
  }
}

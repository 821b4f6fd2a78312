package graft.core

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicBoolean

class ParSpec extends SparkSpec {

  test("a failure surfaces only after every sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      Par.all(4)(Seq(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); siblingDone.set(true) },
        () => throw new IllegalArgumentException("second")))
    }
    assert(siblingDone.get, "Par.all rethrew while a sibling was still running")
    assert(e.getMessage == "boom" || e.getSuppressed.exists(_.getMessage == "boom"))
    assert(e.getSuppressed.length == 1)
  }

  test("results keep thunk order and workers inherit the caller's local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.par.test", "caller")
    try {
      val got = Par.all(2)((1 to 5).map(i => () => (i, sc.getLocalProperty("graft.par.test"))))
      assert(got == (1 to 5).map(i => (i, "caller")))
    } finally sc.setLocalProperty("graft.par.test", null)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import graft.operators.Regime

/** The one broadcast policy: its row threshold is inclusive, and the
  * `forcing` seam is scoped to the calling thread and to its body.
  */
class RegimeSpec extends SparkSuite {

  private lazy val df = spark.range(3).toDF("id")

  private def broadcasts(d: DataFrame): Boolean =
    d.queryExecution.analyzed match {
      case ResolvedHint(_, h) => h.strategy.contains(BROADCAST)
      case _ => false
    }

  test("the threshold is inclusive: 4000000 rows broadcast, 4000001 " +
      "do not, for fits and gate alike") {
    assert(Regime.BroadcastRows == 4000000L)
    assert(Regime.fits(4000000L))
    assert(!Regime.fits(4000001L))
    assert(broadcasts(Regime.gate(4000000L)(df)))
    assert(!broadcasts(Regime.gate(4000001L)(df)))
  }

  test("forcing restores the threshold after its body throws") {
    val e = intercept[IllegalStateException] {
      Regime.forcing(0L) {
        assert(!Regime.fits(1L))
        assert(!broadcasts(Regime.gate(1L)(df)))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(Regime.fits(Regime.BroadcastRows))
    assert(!Regime.fits(Regime.BroadcastRows + 1))
    assert(broadcasts(Regime.gate(1L)(df)))
  }

  test("forcing on one thread is not seen by a gate decision on " +
      "another") {
    val d = df
    val forced = new java.util.concurrent.CountDownLatch(1)
    val checked = new java.util.concurrent.CountDownLatch(1)
    @volatile var inside: Option[Boolean] = None
    val holder = new Thread(() =>
      try Regime.forcing(0L) {
        inside = Some(broadcasts(Regime.gate(1L)(d)))
        forced.countDown()
        checked.await()
      } finally forced.countDown())
    holder.start()
    try {
      assert(forced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // the other thread is inside its forcing body right now
      assert(Regime.fits(1L))
      assert(broadcasts(Regime.gate(1L)(d)))
    } finally {
      checked.countDown()
      holder.join()
    }
    assert(inside.contains(false), "the forcing thread saw its own scope")
  }
}

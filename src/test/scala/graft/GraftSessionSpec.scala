package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session sizing: `SPARK_GRAFT_CPUS` when set, the JVM's cores when not. */
class GraftSessionSpec extends AnyFunSuite {
  test("local threads and shuffle partitions follow SPARK_GRAFT_CPUS, else the core count") {
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(GraftSession.cpus(Map.empty) == Runtime.getRuntime.availableProcessors())
  }
}

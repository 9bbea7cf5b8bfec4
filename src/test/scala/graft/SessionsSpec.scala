package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session conf resolution behind every main: what spark-submit sets
  * wins, and only the keys it leaves unset get defaults.
  */
class SessionsSpec extends AnyFunSuite {
  private val master = "spark.master"
  private val parts = "spark.sql.shuffle.partitions"

  test("a conf that sets the master and the partition count keeps both") {
    val conf = Map(master -> "local[3]", parts -> "32",
      "spark.app.name" -> "graft.Main")
    val r = Sessions.resolve(conf, Map("SPARK_GRAFT_CPUS" -> "8"),
      cores = 4, appName = "graft-kg-pipeline")
    assert(r(master) == "local[3]")
    assert(r(parts) == "32")
    assert(r("spark.app.name") == "graft.Main")
    assert(r("spark.sql.session.timeZone") == "UTC")
  }

  test("an unset conf falls back to the env value, then to the core count") {
    val fromEnv = Sessions.resolve(Map.empty, Map("SPARK_GRAFT_CPUS" -> "8"),
      cores = 4, appName = "a")
    assert(fromEnv(master) == "local[8]")
    val bare = Sessions.resolve(Map.empty, Map.empty, cores = 4, appName = "a")
    assert(bare(master) == "local[4]")
    // set after the session exists, from the master it resolved to
    assert(!bare.contains(parts))
    assert(bare("spark.app.name") == "a")
    assert(bare("spark.ui.enabled") == "false")
    assert(bare("spark.log.level") == "WARN")
  }
}

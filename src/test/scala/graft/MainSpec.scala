package graft

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  private val master = "spark.master"
  private val shuffle = "spark.sql.shuffle.partitions"

  test("session defaults: local[32], 32 shuffle partitions, AQE, nested reader, UTC, no UI") {
    assert(Main.sessionConf(Map.empty, Map.empty) == Map(
      master -> "local[32]",
      shuffle -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.parquet.enableNestedColumnVectorizedReader" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("a key the launcher set is left alone, even when the env names a value for it") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_SHUFFLE" -> "64")
    val conf = Main.sessionConf(Map(master -> "local[1]", shuffle -> "7"), env)
    assert(!conf.contains(master))
    assert(!conf.contains(shuffle))
    // the launcher's other silences still get the recipe
    assert(conf("spark.sql.parquet.enableNestedColumnVectorizedReader") == "true")
  }

  test("env values apply only where the launcher is silent") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_SHUFFLE" -> "64")
    val conf = Main.sessionConf(Map(master -> "local[1]"), env)
    assert(!conf.contains(master))
    assert(conf(shuffle) == "64")
    assert(Main.sessionConf(Map(shuffle -> "7"), env)(master) == "local[2]")
  }
}

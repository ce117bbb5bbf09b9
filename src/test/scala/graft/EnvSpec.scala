package graft

import org.scalatest.funsuite.AnyFunSuite

/** The main-session posture, checked without building a session. */
class EnvSpec extends AnyFunSuite {
  test("defaults with no spark.* properties: local[cpus], UTC, UI off, store caps") {
    assert(Env.defaults(Map.empty).toMap == Map(
      "spark.master" -> s"local[${Env.cpus}]",
      "spark.sql.shuffle.partitions" -> Env.cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.ui.retainedJobs" -> "20",
      "spark.ui.retainedStages" -> "40",
      "spark.ui.retainedTasks" -> "1000",
      "spark.sql.ui.retainedExecutions" -> "5",
      "spark.ui.retainedDeadExecutors" -> "0"))
  }

  test("a spark.* property wins: defaults omits exactly the keys it sets") {
    val props = Map("spark.master" -> "local[1]", "spark.sql.shuffle.partitions" -> "7")
    val all = Env.defaults(Map.empty).map(_._1).toSet
    assert(Env.defaults(props).map(_._1).toSet == all -- props.keySet)
  }

  test("jsonString escapes quote, backslash and every control char") {
    assert(Env.jsonString("a\"b\\c\nd\re\tf\u0001g") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
  }
}

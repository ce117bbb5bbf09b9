package graft

import graft.ops.AdaptiveIter

class AdaptiveIterSpec extends SparkSpec {
  private val aqe = "spark.sql.adaptive.enabled"
  private val parts = "spark.sql.shuffle.partitions"

  /** Runs `f` with the session's shuffle partitions at 8 and AQE at its
    * unset default, restoring both afterwards.
    */
  private def withSession(f: => Unit): Unit = {
    val saved = Seq(aqe, parts).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(parts, "8")
    spark.conf.unset(aqe)
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("sizedRounds is a no-op when the derived partition count reaches " +
      "half the session's") {
    withSession {
      // 48 B rows: 6M rows ≈ 275 MB → 5 partitions, 2·5 ≥ 8
      val seen = AdaptiveIter.sizedRounds(spark, 6000000L) {
        (spark.conf.get(aqe), spark.conf.get(parts))
      }
      assert(seen == (spark.conf.get(aqe), "8"))
      assert(!spark.conf.getAll.contains(aqe), "no-op must not set AQE")
    }
  }

  test("sizedRounds pauses AQE and sizes partitions below the threshold, " +
      "then restores set and unset priors") {
    withSession {
      val aqeBefore = spark.conf.get(aqe)
      // 4M rows · 48 B ≈ 183 MB → 3 partitions, 2·3 < 8
      val seen = AdaptiveIter.sizedRounds(spark, 4000000L) {
        (spark.conf.get(aqe), spark.conf.get(parts))
      }
      assert(seen == ("false", "3"))
      assert(AdaptiveIter.sizedRounds(spark, 10L)(spark.conf.get(parts)) == "1")
      assert(spark.conf.get(parts) == "8", "explicitly set prior not restored")
      assert(spark.conf.get(aqe) == aqeBefore, "default prior not restored")
    }
  }

  test("sizedRounds restores the session when the body throws") {
    withSession {
      val aqeBefore = spark.conf.get(aqe)
      val e = intercept[IllegalStateException] {
        AdaptiveIter.sizedRounds(spark, 10L) {
          assert(spark.conf.get(aqe) == "false")
          throw new IllegalStateException("round failed")
        }
      }
      assert(e.getMessage == "round failed")
      assert(spark.conf.get(parts) == "8")
      assert(spark.conf.get(aqe) == aqeBefore)
    }
  }
}

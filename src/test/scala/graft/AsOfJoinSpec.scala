package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val cdc = Seq(
    // (entity, op, ts, value, props, id)
    ("e1", "Upsert", ts("2024-01-01 10:00:00"), 1.0, "v1", 1L),
    ("e1", "Upsert", ts("2024-01-02 10:00:00"), 2.0, "v2", 2L),
    ("e1", "Delete", ts("2024-01-03 10:00:00"), -1.0, null, 3L),
    ("e1", "Upsert", ts("2024-01-04 10:00:00"), 4.0, "v4", 4L),
    // tombstone with NO prior version → dropped by the inner join
    ("e2", "Delete", ts("2024-01-01 00:00:00"), -1.0, null, 5L),
    // ts tie between two versions → higher id wins
    ("e3", "Upsert", ts("2024-01-01 00:00:00"), 30.0, "a", 6L),
    ("e3", "Upsert", ts("2024-01-01 00:00:00"), 31.0, "b", 7L),
    ("e3", "Delete", ts("2024-01-02 00:00:00"), -1.0, null, 8L)
  ).toDF("k", "op", "ts", "value", "props", "id")

  test("resurrectDeletes attaches latest prior payload and unions survivors") {
    val out = AsOfJoin.resurrectDeletes(cdc, "k", "op", "ts", "Delete",
      payloadCols = Seq("value", "props"), tiebreakCol = "id")
    val rows = out.collect().map(r => (r.getString(0), r.getString(1),
      r.getTimestamp(2), r.getDouble(3))).toSet

    // e1 delete resurrects v2 (latest <= delete ts)
    assert(rows.contains(("e1", "Delete", ts("2024-01-03 10:00:00"), 2.0)))
    // e2 tombstone with no prior version is gone
    assert(!rows.exists(r => r._1 == "e2"))
    // e3 ts tie broken by id desc → value 31.0
    assert(rows.contains(("e3", "Delete", ts("2024-01-02 00:00:00"), 31.0)))
    // survivors pass through: 5 non-delete rows + 2 resurrected
    assert(out.count() == 7)
  }

  test("duplicate (key, ts) tombstones resurrect ONE row (reference tie rule)") {
    // reference 0-merge_delete_query.sql:27-41 ranks the deletes×versions
    // join PARTITION BY (key, changeDate) — several tombstones sharing
    // (key, ts) collapse to a single resurrected row
    val dup = Seq(
      ("e1", "Upsert", ts("2024-01-01 10:00:00"), 1.0, "v1", 1L),
      ("e1", "Delete", ts("2024-01-02 10:00:00"), -1.0, null, 2L),
      ("e1", "Delete", ts("2024-01-02 10:00:00"), -1.0, null, 3L),
      ("e1", "Delete", ts("2024-01-03 10:00:00"), -1.0, null, 4L)
    ).toDF("k", "op", "ts", "value", "props", "id")
    val out = AsOfJoin.resurrectDeletes(dup, "k", "op", "ts", "Delete",
      payloadCols = Seq("value", "props"), tiebreakCol = "id")
    val deletes = out.filter(col("op") === "Delete").collect()
      .map(r => (r.getTimestamp(2), r.getDouble(3))).toSeq
    // 2 distinct (key, ts) tombstone groups, each resurrecting value 1.0
    assert(deletes.sortBy(_._1.getTime) == Seq(
      (ts("2024-01-02 10:00:00"), 1.0), (ts("2024-01-03 10:00:00"), 1.0)))
    assert(out.count() == 3) // 1 survivor + 2 resurrected
  }

  test("resurrectDeletes is one window pass: no join, union or aggregate, one exchange") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val physical: SparkPlan = AsOfJoin.resurrectDeletes(cdc, "k", "op", "ts", "Delete",
          payloadCols = Seq("value", "props"), tiebreakCol = "id")
        .queryExecution.executedPlan
      val extra = physical.collect {
        case p @ (_: BaseJoinExec | _: UnionExec | _: BaseAggregateExec) => p.nodeName
      }
      assert(extra.isEmpty, s"the repair plans ${extra.mkString(", ")}:\n$physical")
      assert(physical.collect { case w: WindowExec => w }.size == 1,
        s"expected one window:\n$physical")
      val exchanges = physical.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      val keyedOnEntity = exchanges.collect {
        case HashPartitioning(Seq(a: Attribute), _) if a.name == "k" => a
      }
      assert(exchanges.size == 1 && keyedOnEntity.size == 1,
        s"expected exactly one exchange, keyed on the entity:\n$physical")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("asOf picks latest right row at-or-before each left row") {
    val left = Seq((100L, "u1", ts("2024-01-02 12:00:00"))).toDF("lid", "k", "lts")
    val right = Seq(
      ("u1", ts("2024-01-01 00:00:00"), "old", 1L),
      ("u1", ts("2024-01-02 12:00:00"), "exact", 2L),
      ("u1", ts("2024-01-03 00:00:00"), "future", 3L)
    ).toDF("rk", "rts", "tag", "rid")
    val out = AsOfJoin.asOf(left, right, Seq(("k", "rk")),
      leftTs = "lts", rightTs = "rts", tiebreak = Seq("rid"))
    val got = out.select("tag").as[String].collect().toSeq
    assert(got == Seq("exact")) // <= is inclusive; future row never matches
  }

  test("asOf scales without pair blowup: no join in the plan, one window") {
    val left = Seq((100L, "u1", ts("2024-01-02 12:00:00"))).toDF("lid", "k", "lts")
    val right = Seq(("u1", ts("2024-01-01 00:00:00"), "old", 1L))
      .toDF("rk", "rts", "tag", "rid")
    val plan = AsOfJoin.asOf(left, right, Seq(("k", "rk")),
      leftTs = "lts", rightTs = "rts", tiebreak = Seq("rid"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a pair join:\n$plan")
    assert(plan.contains("Window"), s"expected running-window plan:\n$plan")
  }

  test("nearestWithin: min |delta| either direction, id tiebreak, tolerance drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val left = Seq((100L, 1000L), (200L, 5000L), (300L, 9000L))
      .toDF("lid", "lts") // 300's nearest candidate is 4002 us away
    val right = Seq((1L, 990L), (2L, 1008L), (3L, 1012L), (4L, 4998L),
      (5L, 5002L), (6L, 4002L)).toDF("rid", "rts")
    val out = AsOfJoin.nearestWithin(left, col("lid"), col("lts"),
        right, col("rid"), col("rts"), toleranceUs = 100L)
      .as[(Long, Long, Long)].collect().toSet
    // 100: |990-1000|=10 beats |1008-1000|=8? no — 8 wins -> rid 2, delta +8
    // 200: 4998 and 5002 tie at |2| -> smaller rid 4 wins, delta -2
    // 300: nothing within 100us -> dropped
    assert(out == Set((100L, 2L, 8L), (200L, 4L, -2L)))
  }

  test("nearestWithin: matches at exactly +/- tolerance are kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val left = Seq((1L, 1000L)).toDF("lid", "lts")
    val right = Seq((7L, 900L), (8L, 1100L)).toDF("rid", "rts")
    val out = AsOfJoin.nearestWithin(left, col("lid"), col("lts"),
        right, col("rid"), col("rts"), toleranceUs = 100L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 7L, -100L))) // tie at |100|, smaller rid wins
  }

  test("asOfTolerance: stale matches null out, left rows always kept") {
    val left = Seq(
      (1L, "u1", ts("2024-01-10 00:00:00")),  // click 2 days earlier: fresh
      (2L, "u1", ts("2024-02-01 00:00:00")),  // latest click 24 days old
      (3L, "u2", ts("2024-01-05 00:00:00"))   // no click at all
    ).toDF("pid", "user", "ts")
    val right = Seq(
      (10L, "u1", ts("2024-01-08 00:00:00"), 1.5)
    ).toDF("cid", "c_user", "cts", "cv")
    val out = AsOfJoin.asOfTolerance(left, right, Seq(("user", "c_user")),
        leftTs = "ts", rightTs = "cts", tiebreak = Seq("cid"),
        toleranceUs = 7L * 86400 * 1000000)
      .select("pid", "cid", "cv", "lag_us")
      .as[(Long, Option[Long], Option[Double], Option[Long])]
      .collect().toSet
    assert(out == Set(
      (1L, Some(10L), Some(1.5), Some(2L * 86400 * 1000000)),
      (2L, None, None, None),
      (3L, None, None, None)))
  }

  test("asOfTolerance: a match at exactly the tolerance is fresh") {
    val left = Seq((1L, "u", ts("2024-01-08 00:00:00"))).toDF("pid", "user", "ts")
    val right = Seq((9L, "u", ts("2024-01-01 00:00:00"), 2.0))
      .toDF("cid", "c_user", "cts", "cv")
    val out = AsOfJoin.asOfTolerance(left, right, Seq(("user", "c_user")),
        "ts", "cts", Seq("cid"), toleranceUs = 7L * 86400 * 1000000)
      .select("pid", "cid", "lag_us")
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    assert(out == Set((1L, Some(9L), Some(7L * 86400 * 1000000))))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.dedup.Clusters

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents merges chained pairs into one component") {
    // chain 1-2, 2-3, 3-4 plus separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("dropNearDuplicates keeps one representative per cluster + singletons") {
    val docs = (1L to 12L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Clusters.dropNearDuplicates(docs, col("doc_id"), pairs)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3} -> keep 1; {10,11} -> keep 10; rest untouched
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("transitivity: A~B, B~C with no A~C pair still collapses to one representative") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Clusters.dropNearDuplicates(docs, col("doc_id"), pairs)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
  }

  test("connectedComponentsAlternating matches min-label on mixed clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (7L, 5L))
      .toDF("id_a", "id_b")
    val minLabel = Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alt = Clusters.connectedComponentsAlternating(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt == minLabel)
  }

  test("1000-node chain: both algorithms converge in O(log n); starved budgets throw loudly") {
    // a containment-dup chain, diameter 999. Min-label alone would need
    // 999 rounds (the r8 behavior was a SILENT mislabel at round 10);
    // with pointer doubling it converges inside the default budget — and
    // a deliberately starved budget still fails LOUD, never silently.
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ml = Clusters.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml.size == 1000 && ml.values.forall(_ == 0L))
    val e = intercept[IllegalStateException] {
      Clusters.connectedComponents(chain, maxIter = 2).count()
    }
    assert(e.getMessage.contains("did not converge"))
    val alt = Clusters.connectedComponentsAlternating(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt == ml)
  }

  test("a run that does not converge frees its checkpoints before it throws") {
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    intercept[IllegalStateException](Clusters.connectedComponents(chain, maxIter = 2))
    assert(persisted == before, "min-label left checkpoints persisted")
    intercept[IllegalStateException](
      Clusters.connectedComponentsAlternating(chain, maxIter = 1))
    assert(persisted == before, "alternating left checkpoints persisted")
  }

  test("self-loop-only ids label themselves in BOTH algorithms (contract parity)") {
    val pairs = Seq((5L, 5L), (1L, 2L), (7L, 7L)).toDF("id_a", "id_b")
    val ml = Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alt = Clusters.connectedComponentsAlternating(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L))
    assert(alt == ml)
  }

  test("alternating on random graphs: components equal min-label's fixpoint") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val minLabel = Clusters.connectedComponents(pairs, maxIter = 80).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alt = Clusters.connectedComponentsAlternating(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt == minLabel)
  }

  test("keepBest: the highest-scoring member survives, not the min id") {
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // cluster {1,2,3}: 2 is longest
      (10L, 5L), (11L, 5L),            // tie on score -> larger id (11)
      (20L, 7L)                        // unmentioned, survives as-is
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Clusters.keepBest(docs, col("doc_id"), col("n_chars"), pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 11L, 20L))
  }

  test("property: BOTH algorithms equal an independent union-find reference " +
      "across graph shapes") {
    // the random-graph test above proves alternating == min-label; if both
    // shared a defect it would still pass. This one pins each against a
    // third implementation (array union-find with path compression) the
    // Spark code shares nothing with, across the adversarial shapes: sparse
    // forests, dense near-cliques, pure chains (diameter-stressing), stars,
    // and graphs with self-loop-only ids.
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // component label = min member id == root under min-merge above
      val mentioned = edges.flatMap(e => Seq(e._1, e._2)).distinct
      mentioned.map(id => id -> find(id.toInt).toLong).toMap
    }
    val rnd = new scala.util.Random(20260816L)
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "sparse forest" -> Seq.fill(60)(
        (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)),
      "near-clique" -> (for (a <- 0 until 14; b <- a + 1 until 14
        if rnd.nextDouble() < 0.7) yield (a.toLong, b.toLong)),
      "chain" -> (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq,
      "star" -> (1L to 30L).map(i => (0L, i)),
      "self-loops mixed" -> (Seq.fill(30)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
        Seq((90L, 90L), (91L, 91L))))
    for ((name, edges) <- shapes) {
      val expected = unionFind(100, edges)
      val pairs = edges.toDF("id_a", "id_b")
      val minLabel = Clusters.connectedComponents(pairs, maxIter = 80)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val alt = Clusters.connectedComponentsAlternating(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(minLabel == expected, s"min-label vs union-find on: $name")
      assert(alt == expected, s"alternating vs union-find on: $name")
    }
  }
}

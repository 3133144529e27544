package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The two regimes of `Dedup.clustersScoped` — the single-task
  * union-find and the distributed label loop — return the same labels:
  * same rows, same schema, component-minimum ids, null ids included.
  * Each regime is called directly, so the parity holds whichever one
  * the edge budget would pick. */
class ClustersParitySpec extends SparkTestBase {

  /** Labels of both regimes; asserts identical schema and rows, and that
    * neither regime casts the ids. */
  private def parity(pairs: DataFrame): Set[Row] = {
    val local = Dedup.clustersLocal(pairs)
    val loop = Dedup.clustersLoop(pairs)
    try {
      assert(local.df.schema === loop.df.schema)
      assert(local.df.schema.map(_.dataType) === Seq.fill(2)(pairs.schema("id1").dataType))
      val (l, r) = (local.df.collect(), loop.df.collect())
      assert(l.length === r.length, "one row per id in both regimes")
      assert(l.toSet === r.toSet)
      l.toSet
    } finally { local.release(); loop.release() }
  }

  private def longPairs(ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("id1", "id2")
  }

  test("random-id path collapses to its minimum in both regimes") {
    val n = 3000
    val perm = new scala.util.Random(7).shuffle((0 until n).toVector)
    val pairs = (0 until n - 1).map { i =>
      val (a, b) = (perm(i).toLong, perm(i + 1).toLong)
      (math.min(a, b), math.max(a, b))
    }
    val got = parity(longPairs(pairs))
    assert(got.size === n)
    assert(got.forall(_.getLong(1) === 0L))
  }

  test("star, disjoint components, duplicate/reversed pairs and a self-pair") {
    val star = (1L to 50L).map(i => (100L, 100L + i))
    val disjoint = Seq((7L, 3L), (3L, 9L), (20L, 21L), (40L, 41L), (41L, 42L))
    val messy = Seq((500L, 501L), (501L, 500L), (500L, 501L), (502L, 502L))
    val got = parity(longPairs(star ++ disjoint ++ messy))
    val expect = ((100L to 150L).map(_ -> 100L) ++
      Seq(3L, 7L, 9L).map(_ -> 3L) ++ Seq(20L -> 20L, 21L -> 20L) ++
      Seq(40L, 41L, 42L).map(_ -> 40L) ++
      Seq(500L -> 500L, 501L -> 500L, 502L -> 502L)).toSet
    assert(got.map(r => r.getLong(0) -> r.getLong(1)) === expect)
  }

  test("Int, Long and Decimal ids keep their type and labels") {
    import spark.implicits._
    val edges = Seq((5, 2), (2, 3), (10, 11), (11, 10))
    val expect = Set(5L -> 2L, 2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L)
    val typed = Seq(
      IntegerType -> edges.toDF("id1", "id2"),
      LongType -> edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("id1", "id2"),
      DecimalType(38, 18) ->
        edges.map { case (a, b) => (BigDecimal(a), BigDecimal(b)) }.toDF("id1", "id2"))
    for ((t, pairs) <- typed) {
      assert(pairs.schema.fields.forall(_.dataType == t), "test premise")
      val got = parity(pairs)
      assert(got.map(r => r.getAs[Number](0).longValue ->
        r.getAs[Number](1).longValue) === expect, s"$t")
    }
  }

  test("string ids order through Catalyst's interpreted ordering (local regime)") {
    import spark.implicits._
    // the loop cannot run here: its convergence probe sums ids as
    // DECIMAL(38,0), so only the local regime is checked
    val local = Dedup.clustersLocal(
      Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("id1", "id2"))
    try assert(local.df.collect().map(r => r.getString(0) -> r.getString(1)).toSet ===
      Set("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    finally local.release()
  }

  test("null ids: the local regime returns what the loop returns") {
    val schema = StructType(Seq(StructField("id1", LongType), StructField("id2", LongType)))
    def frame(rows: Seq[(Any, Any)]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b) => Row(a, b) }, 2), schema)
    // a null endpoint bridges nothing but takes the least label of its
    // neighbours; a node whose only neighbour is null is a singleton
    val bridged = parity(frame(Seq((1L, null), (null, 2L), (2L, 3L), (5L, 6L))))
    assert(bridged === Set(Row(1L, 1L), Row(2L, 2L), Row(3L, 2L),
      Row(5L, 5L), Row(6L, 5L), Row(null, 1L)))
    assert(parity(frame(Seq((null, null), (8L, 9L)))) ===
      Set(Row(null, null), Row(8L, 8L), Row(9L, 8L)))
  }
}

package graft

import graft.operators.FreqStore
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Truncated top-k heavy-hitters store: the interval guarantee
  * (true ∈ [lo, hi], exact when listed everywhere), replay neutrality,
  * and the deterministic truncation order. */
class FreqStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp() =
    Scratch.dir("graft_freq_") + "/s"

  private def batch(rows: (String, String)*) = rows.toDF("grp", "item")

  private def ivMap(dir: String): Map[(String, String), (Long, Long)] =
    FreqStore.intervals(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("intervals bound the true count; listed-everywhere items are exact") {
    val b0 = batch(Seq.fill(5)("g" -> "a") ++ Seq.fill(3)("g" -> "b") ++
      Seq.fill(2)("g" -> "c") ++ Seq.fill(1)("g" -> "d"): _*)
    val b1 = batch(Seq.fill(4)("g" -> "a") ++ Seq.fill(4)("g" -> "d") ++
      Seq.fill(2)("g" -> "e") ++ Seq.fill(1)("g" -> "b"): _*)
    val truth = Map("a" -> 9L, "b" -> 4L, "c" -> 2L, "d" -> 5L, "e" -> 2L)
    val dir = tmp()
    // k=2 truncates aggressively: b0 keeps a,b (thresh 3); b1 keeps a,d (thresh 4)
    FreqStore.appendTopK(b0, "item", "grp", dir, k = 2, batchId = "b0")
    FreqStore.appendTopK(b1, "item", "grp", dir, k = 2, batchId = "b1")
    val iv = ivMap(dir)
    // every listed item's interval contains the truth
    iv.foreach { case ((_, item), (lo, hi)) =>
      assert(lo <= truth(item) && truth(item) <= hi,
        s"$item: [$lo,$hi] misses true ${truth(item)}")
    }
    // 'a' listed in both batches => exact
    assert(iv(("g", "a")) === ((9L, 9L)))
    // 'b' listed only in b0: lo=3, hi=3+thresh_b1=7
    assert(iv(("g", "b")) === ((3L, 7L)))
    // 'd' listed only in b1: lo=4, hi=4+thresh_b0=7
    assert(iv(("g", "d")) === ((4L, 7L)))
    // 'c','e' never ranked => absent from the store
    assert(!iv.contains(("g", "c")) && !iv.contains(("g", "e")))
  }

  test("a replayed batch is a no-op (batch_id dedup on read)") {
    val b = batch(Seq.fill(4)("g" -> "x") ++ Seq.fill(2)("g" -> "y"): _*)
    val dir = tmp()
    FreqStore.appendTopK(b, "item", "grp", dir, k = 2, batchId = "b0")
    val before = ivMap(dir)
    FreqStore.appendTopK(b, "item", "grp", dir, k = 2, batchId = "b0")
    assert(ivMap(dir) === before)
  }

  test("groups with fewer than k items carry no threshold (exact merge)") {
    val dir = tmp()
    FreqStore.appendTopK(batch("g" -> "a", "g" -> "a"), "item", "grp", dir,
      k = 10, batchId = "b0")
    FreqStore.appendTopK(batch("g" -> "b"), "item", "grp", dir,
      k = 10, batchId = "b1")
    // under-full batches truncate nothing: every interval is exact
    assert(ivMap(dir) === Map(("g", "a") -> ((2L, 2L)), ("g", "b") -> ((1L, 1L))))
  }

  test("truncation ties break deterministically (count DESC, item ASC)") {
    val b = batch("g" -> "a", "g" -> "b", "g" -> "c") // all count 1
    val dir = tmp()
    FreqStore.appendTopK(b, "item", "grp", dir, k = 2, batchId = "b0")
    val iv = ivMap(dir)
    assert(iv.keySet === Set(("g", "a"), ("g", "b")),
      s"rank-ties must keep the item-ASC prefix, got ${iv.keySet}")
  }
}

package graft

import graft.operators.Sampling
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Temperature-flattened domain sampling: tail domains under the cap
  * survive whole, head domains thin toward scale·sqrt(n), membership is
  * deterministic (no RNG) and the expected-count formula holds. */
class TemperatureSampleSpec extends SparkTestBase {
  import spark.implicits._

  // one hot domain with 10k rows, 20 tail domains with 25 rows each
  private def corpus = spark.range(10500).select(
    col("id").as("doc_id"),
    when(col("id") < 10000, lit("hot"))
      .otherwise(concat(lit("t"), (col("id") % 20).cast("string"))).as("dom"))

  test("tail domains below the cap keep every row") {
    val kept = Sampling.temperatureSample(corpus, "dom", "doc_id", scale = 8.0)
    val tail = kept.where(col("dom") =!= "hot").groupBy("dom").count().collect()
    assert(tail.length === 20)
    tail.foreach(r => assert(r.getLong(1) === 25L,
      s"rate 8/sqrt(25)=1.6 caps at 1 → keep all, got ${r.getLong(1)}"))
  }

  test("hot domain thins to ~scale*sqrt(n) with deterministic membership") {
    val kept = Sampling.temperatureSample(corpus, "dom", "doc_id", scale = 8.0)
      .where(col("dom") === "hot")
    val n = kept.count()
    val expected = 8.0 * math.sqrt(10000.0) // = 800
    assert(math.abs(n - expected) < 4.0 * math.sqrt(expected),
      s"kept $n, expected ~$expected")
    // no RNG: a second evaluation selects the identical ids
    val again = Sampling.temperatureSample(corpus, "dom", "doc_id", scale = 8.0)
      .where(col("dom") === "hot")
    assert(kept.agg(sum("doc_id")).collect()(0).getLong(0) ===
      again.agg(sum("doc_id")).collect()(0).getLong(0))
  }

  test("alpha=1 keeps a flat fraction of every domain (rate scale/n^0 is capped)") {
    // alpha=1 → rate = scale·n^0 = scale ≥ 1 → keep everything
    val kept = Sampling.temperatureSample(corpus, "dom", "doc_id",
      scale = 1.0, alpha = 1.0)
    assert(kept.count() === 10500L)
  }

  test("null domains are excluded by explicit contract, not join accident") {
    val withNulls = corpus.withColumn("dom",
      when(col("doc_id") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("dom")))
    val kept = Sampling.temperatureSample(withNulls, "dom", "doc_id",
      scale = 1000.0) // rate caps at 1: every non-null row survives
    assert(kept.where(col("dom").isNull).count() === 0L)
    assert(kept.count() === withNulls.where(col("dom").isNotNull).count())
  }

  test("domain-count store: two batches + a replayed batch sample " +
      "identically to the one-shot, and a batch slice uses CORPUS rates") {
    val dir = Scratch.dir("graft_domcnt_spec") + "/c"
    val a = corpus.where(col("doc_id") % 3 === 0)
    val b = corpus.where(col("doc_id") % 3 =!= 0)
    Sampling.appendDomainCounts(a, "dom", dir, "b1")
    Sampling.appendDomainCounts(b, "dom", dir, "b2")
    Sampling.appendDomainCounts(b, "dom", dir, "b2") // retried batch
    val served = Sampling.temperatureSampleFromStore(corpus, "dom", "doc_id",
      spark, dir, scale = 8.0).agg(count(lit(1)), sum("doc_id")).collect()(0)
    val oneShot = Sampling.temperatureSample(corpus, "dom", "doc_id",
      scale = 8.0).agg(count(lit(1)), sum("doc_id")).collect()(0)
    assert(served.toString === oneShot.toString)
    // slice sampling uses corpus-wide n_d: batch a alone holds ~3333 hot
    // rows, but the rate must come from the full 10000 — so the kept
    // fraction of a's hot rows matches the corpus rate, not a's
    val sliceHot = Sampling.temperatureSampleFromStore(a, "dom", "doc_id",
      spark, dir, scale = 8.0).where(col("dom") === "hot").count()
    val corpusHotRate = 8.0 / math.sqrt(10000.0) // 0.08
    val aHot = a.where(col("dom") === "hot").count()
    assert(math.abs(sliceHot - corpusHotRate * aHot) <
      4.0 * math.sqrt(corpusHotRate * aHot),
      s"slice kept $sliceHot of $aHot, want ~${corpusHotRate * aHot}")
  }

  test("plan has no window over the domain (hot domain must not single-task)") {
    val plan = Sampling.temperatureSample(corpus, "dom", "doc_id", scale = 8.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }
}

package graft

import graft.operators.SentenceDedup
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Corpus-global sentence dedup: known boilerplate across docs is
  * counted, ratios are exact fixed point, and clean text preserves the
  * original sentence order with survivors only. */
class SentenceDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "Alpha unique one. Subscribe now! Beta unique two."),
    (2L, "Subscribe now! Gamma unique three."),
    (3L, "Delta unique four? Subscribe now! Epsilon five. Epsilon five."),
    (4L, ""),
    (5L, "No duplicates here at all")
  ).toDF("doc_id", "text")

  test("globally repeated sentences are flagged, per-doc stats exact") {
    val r = SentenceDedup.dedupSentences(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    // doc 1: 3 sentences, 1 dup ("Subscribe now" appears in docs 1,2,3)
    assert(r(0).getLong(1) === 3L && r(0).getLong(2) === 1L)
    assert(r(0).getLong(3) === 333L, "floor(1000/3)")
    assert(r(0).getString(4) === "Alpha unique one. Beta unique two.")
    // doc 2: 2 sentences, 1 dup
    assert(r(1).getLong(1) === 2L && r(1).getLong(2) === 1L)
    assert(r(1).getString(4) === "Gamma unique three.")
    // doc 3: "Epsilon five. Epsilon five." — intra-doc repeat counts too;
    // the split consumes ". " so the final "Epsilon five." keeps its dot
    // and is a DIFFERENT sentence than the mid-text "Epsilon five"
    assert(r(2).getLong(1) === 4L && r(2).getLong(2) === 1L)
    // doc 4: empty text survives with zeros
    assert(r(3).getLong(1) === 0L && r(3).getLong(2) === 0L &&
      r(3).getLong(3) === 0L && r(3).getString(4) === "")
    // doc 5: nothing repeated
    assert(r(4).getLong(2) === 0L)
  }

  test("minCount raises the bar: pair-dups survive at minCount=4") {
    val r = SentenceDedup.dedupSentences(docs, "text", "doc_id", minCount = 4)
      .agg(sum("n_dup")).collect()(0).getLong(0)
    assert(r === 0L, "'Subscribe now' appears 3 times < 4")
  }

  test("count store: two batches + a replayed batch serve verdicts " +
      "identical to the one-shot") {
    val dir = Scratch.dir("graft_sent_spec") + "/c"
    val sd = graft.operators.SentenceDedup
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 =!= 0)
    sd.appendCounts(a, "text", "doc_id", dir, "b1")
    sd.appendCounts(b, "text", "doc_id", dir, "b2")
    sd.appendCounts(b, "text", "doc_id", dir, "b2") // retried batch
    val served = sd.dedupSentencesFromStore(docs, "text", "doc_id", spark, dir)
      .orderBy("doc_id").collect()
    val oneShot = sd.dedupSentences(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(served.map(_.toString).toSeq === oneShot.map(_.toString).toSeq)
    // a batch-slice query also sees CORPUS-wide counts, not slice counts:
    // "Subscribe now" lives in docs 1,2,3 (batches split them 1|2), yet
    // every slice verdict still counts all three occurrences
    val slice = sd.dedupSentencesFromStore(b, "text", "doc_id", spark, dir)
      .where(col("doc_id") === 1L).collect()(0)
    assert(slice.getLong(2) === 1L, "dup visible from the other batch")
  }

  test("a store lagging the batch degrades unseen sentences to count 1, " +
      "never drops them") {
    val dir = Scratch.dir("graft_sent_lag") + "/c"
    val sd = graft.operators.SentenceDedup
    // store only knows docs 1-2; doc 3 has sentences the store never saw
    sd.appendCounts(docs.where(col("doc_id") <= 2), "text", "doc_id", dir, "b1")
    val r = sd.dedupSentencesFromStore(docs.where(col("doc_id") === 3L),
      "text", "doc_id", spark, dir).collect()(0)
    assert(r.getLong(1) === 4L, "all 4 sentences counted, none dropped")
    assert(r.getLong(2) === 1L,
      "'Subscribe now' is in the store (docs 1,2) and still flags; the " +
        "store-unseen Delta/Epsilon sentences degrade to count 1 and stay")
  }

  test("clean text restores original order after the shuffle") {
    val many = Seq((9L, (1 to 30).map(i => s"Sentence number $i xyz.")
      .mkString(" "))).toDF("doc_id", "text")
    val clean = SentenceDedup.dedupSentences(many, "text", "doc_id")
      .collect()(0).getString(4)
    val nums = "number (\\d+)".r.findAllMatchIn(clean).map(_.group(1).toInt).toSeq
    assert(nums === (1 to 30), "positions re-sorted by array_sort, not arrival")
  }
}

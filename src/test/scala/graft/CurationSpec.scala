package graft

import graft.operators.Curation
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Four-stage curation chain: verdict semantics, the stage-ORDER
  * contract (dedup falls to the next survivor when the canonical doc
  * was length-rejected), quota counting only survivors, and the
  * unparseable-URL skip rule. */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private val prose = "the quick brown fox is in the yard of it and " +
    "this line of text is a perfectly normal one for the test to use"

  private def verdicts(rows: Seq[(Long, String, String)]): Map[Long, (Boolean, String)] =
    Curation.curate(rows.toDF("doc_id", "text", "u"), "doc_id", "text", "u",
      minTokens = 10, domainCap = 2)
      .select("doc_id", "keep", "reason").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)).orNull))
      .toMap

  test("each stage fires with its reason; kept docs carry null reason") {
    val v = verdicts(Seq(
      (1L, "buy now click here subscribe", "https://a.com/x"), // no stopwords
      (2L, "the cat is in a hat", "https://a.com/y"), // cleans fine, 6 tokens < 10
      (3L, prose, "https://b.com/1"),
      (4L, prose, "https://b.com/1"), // same canonical as 3 -> dup
      (5L, prose, "https://c1.com/1"), (6L, prose, "https://c2.com/2"),
      (7L, prose, "https://c3.com/3")))
    assert(v(1L) === ((false, "boilerplate_only")))
    assert(v(2L) === ((false, "too_short")))
    assert(v(3L) === ((true, null)))
    assert(v(4L) === ((false, "dup_url")))
    // domains distinct for 5..7 -> all kept (cap is per domain)
    assert(Seq(5L, 6L, 7L).forall(v(_)._1))
  }

  test("stage order: dedup falls to the next survivor when the smallest " +
      "id was length-rejected") {
    val v = verdicts(Seq(
      (1L, "the cat is here", "https://a.com/x"), // survives bp, too_short
      (2L, prose, "https://a.com/x"), // next-smallest SURVIVOR -> kept
      (3L, prose, "https://a.com/x"))) // dup of 2
    assert(v(1L)._2 === "too_short")
    assert(v(2L) === ((true, null)))
    assert(v(3L)._2 === "dup_url")
  }

  test("quota counts only survivors; unparseable URLs skip stages 3-4") {
    val rows = (1L to 6L).map(i => (i, prose, s"https://hot.com/$i")) ++
      Seq((7L, "the cat is here", "https://hot.com/7"), // too_short, no quota use
        (8L, prose, "not a url"), (9L, prose, "not a url"))
    val v = verdicts(rows)
    // cap=2: exactly 2 of the 6 hot.com survivors kept, 4 over_quota
    val hot = (1L to 6L).map(v(_))
    assert(hot.count(_._1) === 2 && hot.count(_._2 == "over_quota") === 4)
    assert(v(7L)._2 === "too_short")
    // unparseable URLs: not dups of each other, no quota group
    assert(v(8L) === ((true, null)) && v(9L) === ((true, null)))
  }

  test("MORE than domainCap unparseable docs all skip the quota stage " +
      "(empty host must never pool into one '' domain bucket)") {
    // 5 unparseable survivors > cap=2: all kept — they have no domain.
    // The pre-fix shape flagged 3 of them over_quota via the shared ""
    // registered domain.
    val v = verdicts((1L to 5L).map(i => (i, prose, s"no scheme $i")))
    assert((1L to 5L).forall(i => v(i) === ((true, null))))
  }

  test("cleanTokenCount == tokenCount(stripBoilerplate(text)) — the narrow " +
      "verdict branch's fused rule is the two-step rule") {
    import graft.functions.TextFunctions
    val docs = Seq(
      "menu home login\n" + prose + "\n  the cat is in a hat  \nbuy now",
      "buy now click here subscribe", // all boilerplate
      "", "   \n \n", // empty / whitespace-only lines
      " the lone content line of this doc ", // single line, padded
      prose + "\n" + prose).toDF("t")
    val got = docs.select(
      TextFunctions.cleanTokenCount(col("t")).as("fused"),
      TextFunctions.tokenCount(TextFunctions.stripBoilerplate(col("t")))
        .as("twostep")).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
  }

  test("null text verdicts as boilerplate_only, never a null-reason keep") {
    val v = verdicts(Seq(
      (1L, null, "https://a.com/x"),
      (2L, prose, "https://a.com/y")))
    assert(v(1L) === ((false, "boilerplate_only")))
    assert(v(2L) === ((true, null)))
  }

  test("narrow frame materializes eagerly exactly once and release() " +
      "frees the blocks (the round-13 measured adjudication: eager " +
      "checkpoint beats skip 6×, lazy cache 2.6×, lazy checkpoint 1.15×)") {
    val sc = spark.sparkContext
    val rows = (1L to 20L).map(i => (i, prose, s"https://d$i.com/p"))
    val in = rows.toDF("doc_id", "text", "u")
    val before = sc.getPersistentRDDs.keySet
    val scoped = Curation.curateScoped(in, "doc_id", "text", "u",
      minTokens = 10, domainCap = 2)
    assert(sc.getPersistentRDDs.keySet.size > before.size,
      "the narrow frame must be eagerly materialized (before any action)")
    scoped(_.select("doc_id", "keep").collect())
    assert(sc.getPersistentRDDs.keySet === before,
      "release() must free exactly the checkpoint blocks")
  }

  test("store: two appended batches + a replayed batch serve the one-shot " +
      "verdicts over the union") {
    val dir = Scratch.dir("graft_curate_store")
    val all = (1L to 6L).map(i => (i, prose, s"https://hot.com/$i")) ++ Seq(
      (7L, "the cat is here", "https://a.com/p"), // too_short
      (8L, prose, "https://a.com/p"), // kept (7 was length-rejected)
      (9L, prose, "https://a.com/p"), // dup_url of 8
      (10L, prose, "not a url")) // skips 3-4
    val (b1, b2) = all.partition(_._1 % 2 == 0)
    def df(rows: Seq[(Long, String, String)]) = rows.toDF("doc_id", "text", "u")
    Curation.writeStaged(df(b1), "doc_id", "text", "u", dir, "b1")
    Curation.writeStaged(df(b2), "doc_id", "text", "u", dir, "b2")
    Curation.writeStaged(df(b2), "doc_id", "text", "u", dir, "b2") // retry replay
    val served = Curation.curateFromStore(spark, dir, "doc_id",
      minTokens = 10, domainCap = 2)
      .select("doc_id", "keep", "reason").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)).orNull))
      .sortBy(_._1)
    val oneShot = Curation.curate(df(all), "doc_id", "text", "u",
      minTokens = 10, domainCap = 2)
      .select("doc_id", "keep", "reason").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)).orNull))
      .sortBy(_._1)
    assert(served.length === all.length, "replayed batch must dedup on read")
    assert(served.toSeq === oneShot.toSeq)
  }
}

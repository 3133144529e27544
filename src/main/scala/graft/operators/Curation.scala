package graft.operators

import graft.functions.{TextFunctions, UrlFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The whole crawl-curation pass as ONE composable operator — the
  * pipeline a 100 TB web corpus runs between "fetched pages" and
  * "training shards", chaining the engine's own primitives:
  *
  *   1. line-level boilerplate strip ([[graft.functions.TextFunctions
  *      .stripBoilerplate]]); a NULL text column is coalesced to "" so
  *      it verdicts as "boilerplate_only" instead of escaping every
  *      stage with a null reason;
  *   2. minimum-length filter on the CLEANED text (token count — short
  *      husks left after nav/footer removal);
  *   3. canonical-URL exact dedup ([[graft.functions.UrlFunctions
  *      .canonical]]; the smallest doc_id among same-canonical
  *      SURVIVORS of stage 2 is kept — stage order matters and is part
  *      of the contract: a dup group whose canonical doc was
  *      length-rejected falls to the next-smallest survivor);
  *   4. per-domain quota ([[UrlFunctions.registeredDomain]] +
  *      deterministic md5 rank among stage-3 survivors, the
  *      [[Sampling.topKPerGroup]] rule).
  *
  * Every document gets a VERDICT, not just a filter: `keep` plus
  * `reason` (the FIRST failing stage — "boilerplate_only", "too_short",
  * "dup_url", "over_quota", or null when kept), because production
  * curation is audited by reason histograms, not survivor counts.
  * Everything is deterministic and engine-portable (md5 ranks, integer
  * thresholds, no RNG), so the whole four-stage chain value-replays in
  * SQL — the q_curate gate's oracle recomputes every verdict.
  *
  * Docs whose URL doesn't parse (no host ⇒ null canonical AND null
  * registered domain — an empty-string host nulls out too, so a million
  * unparseable URLs can never collapse into one "" group) SKIP stages
  * 3–4 by contract: flagging them dups of each other via a shared null
  * key would be wrong.
  *
  * Scale shape (every stage hot-key-safe — the one key a crawl corpus
  * is GUARANTEED to skew is domain, and dup storms skew canonical):
  * stages 3–4 run over a NARROW (id, canon, domain, len_pass) frame —
  * the wide doc rows never ride a dedup/quota exchange; only the LOSER
  * ids (dup/quota failures) join back, left-join + coalesce(false).
  * Stage 3 is a groupBy-min + join (partial aggregation collapses a
  * billion-row canonical group map-side; no per-group buffered window),
  * and stage 4 computes the kept set through [[Sampling.topKPerGroup]]
  * — the salted lossless prefilter, so a domain holding half the crawl
  * ranks in `salt` parallel tasks and the final per-domain window sees
  * ≤ salt·cap rows — emitting quota LOSERS directly from the two
  * windows. No single-task sort and no group buffered in one task's
  * memory at any skew.
  */
object Curation {

  /** Stage 1–2 columns the output carries per doc. */
  private def staged(docs: DataFrame, idCol: String, textCol: String,
      urlCol: String, bpMinWords: Int): DataFrame = {
    val clean = TextFunctions.stripBoilerplate(
      coalesce(col(textCol), lit("")), minWords = bpMinWords)
    docs.select(col("*"),
      clean.as("clean_text"), canonOf(urlCol).as("canon_url"),
      domainOf(urlCol).as("reg_dom"))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("clean_text")))
      .withColumn("bp_only", length(col("clean_text")) === 0)
  }

  private def canonOf(urlCol: String): Column =
    UrlFunctions.canonical(col(urlCol))

  /** Registered domain, with empty host nulled out (unparseable URLs
    * must skip stages 3–4, not share one "" quota bucket). */
  private def domainOf(urlCol: String): Column = {
    val domRaw = UrlFunctions.registeredDomain(UrlFunctions.host(col(urlCol)))
    when(length(domRaw) > 0, domRaw)
  }

  /** Stage 3–4 LOSERS from a narrow (_vid, canon_url, reg_dom) frame of
    * length-SURVIVORS only (docs failing stages 1–2 can't lose 3–4):
    * one row per doc failing dedup ("dup_url") or quota ("over_quota");
    * everyone else's flags are false by construction, so the wide rows
    * only left-join this (usually small, worst-case one narrow shuffle)
    * set. Quota losers come straight out of the salted two-window rank
    * — the complement of [[Sampling.topKPerGroup]]'s kept set (losers =
    * salt-bucket rank > cap ∪ global rank > cap among bucket
    * survivors; any global-top-cap row is top-cap in its bucket too, so
    * the bucket-stage drops only losers) — sparing the anti-join. */
  private def losers(narrow: DataFrame, domainCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canonKeep = narrow.where(col("canon_url").isNotNull)
      .groupBy("canon_url").agg(min(col("_vid")).as("_canon_keep_id"))
    val dup = narrow.join(canonKeep, Seq("canon_url"), "left")
      .select(col("_vid"), col("reg_dom"),
        (col("canon_url").isNotNull &&
          col("_vid") =!= col("_canon_keep_id")).as("_dup_url"))
    val dupLosers = dup.where(col("_dup_url"))
      .select(col("_vid"), lit("dup_url").as("_fail"))
    val survivors = dup.where(!col("_dup_url") && col("reg_dom").isNotNull)
      .select(col("reg_dom"), col("_vid"))
    val rankKey = md5(col("_vid").cast("string"))
    val salt = 64
    val w1 = Window
      .partitionBy(col("reg_dom"), pmod(xxhash64(col("_vid")), lit(salt)))
      .orderBy(rankKey, col("_vid"))
    val r1 = survivors.withColumn("_r1", row_number().over(w1))
    val w2 = Window.partitionBy(col("reg_dom")).orderBy(rankKey, col("_vid"))
    val quotaLosers = r1.where(col("_r1") > domainCap)
      .select(col("_vid"))
      .unionByName(r1.where(col("_r1") <= domainCap)
        .withColumn("_r2", row_number().over(w2))
        .where(col("_r2") > domainCap).select(col("_vid")))
      .select(col("_vid"), lit("over_quota").as("_fail"))
    dupLosers.unionByName(quotaLosers)
  }

  /** Verdict assembly: stage-1/2 reasons are per-row; stage-3/4 reasons
    * come from the loser join (null ⇒ kept). Mutually exclusive by
    * stage order, so `reason` is exactly the FIRST failing stage. */
  private def assemble(stagedDf: DataFrame, lose: DataFrame,
      idCol: String, minTokens: Int): DataFrame =
    stagedDf
      .withColumn("too_short", !col("bp_only") && col("n_tokens") < minTokens)
      .join(lose, col(idCol) === col("_vid"), "left")
      .select(col("*"),
        when(col("bp_only"), "boilerplate_only")
          .when(col("too_short"), "too_short")
          .otherwise(col("_fail"))
          .as("reason"))
      .withColumn("dup_url", coalesce(col("_fail") === "dup_url", lit(false)))
      .withColumn("over_quota",
        coalesce(col("_fail") === "over_quota", lit(false)))
      .withColumn("keep", col("reason").isNull)
      .drop("_vid", "_fail")

  /** Narrow loser-pipeline input from a staged frame: length survivors
    * only, three columns. Column pruning keeps the branch's text work
    * to the length decision; flags agree with the wide side by
    * construction (same staged expressions). */
  private def narrowOf(st: DataFrame, idCol: String, minTokens: Int): DataFrame =
    st.withColumn("too_short", !col("bp_only") && col("n_tokens") < minTokens)
      .where(!col("bp_only") && !col("too_short"))
      .select(col(idCol).as("_vid"), col("canon_url"), col("reg_dom"))

  def curate(docs: DataFrame, idCol: String, textCol: String,
      urlCol: String, minTokens: Int = 8, domainCap: Int = 100,
      bpMinWords: Int = 4): DataFrame =
    curateScoped(docs, idCol, textCol, urlCol, minTokens, domainCap,
      bpMinWords).df

  /** [[curate]] with the narrow frame's storage lifecycle in the
    * caller's hands (the [[Dedup.clustersScoped]] pattern): the loser
    * pipeline consumes the narrow survivor frame through two subtrees
    * (canonical-min build + join probe), and the frame sits downstream
    * of the full text-clean + URL-parse scan — the most expensive pass
    * in the operator. Recomputing it per subtree multiplies the corpus
    * scan CPU at 100 TB, so it is materialized ONCE as a tracked eager
    * local checkpoint (~3 narrow columns per length-survivor, a few %
    * of corpus bytes); `release()` frees the blocks.
    *
    * The eager unconditional checkpoint is a MEASURED decision, not a
    * default (round-13 adjudication of the "make it adaptive" ask, all
    * at sf0.1 on q_curate): skipping materialization for small inputs
    * re-runs the clean+parse scan once per consuming subtree (the loser
    * DAG has ~6) → 10.1 s; a lazy `cache()` computes once but pays the
    * columnar InMemoryRelation build/read → 4.1 s; a LAZY localCheckpoint
    * (raw-row blocks, no up-front job) → 1.8 s; the eager checkpoint →
    * 1.6 s. The residual 0.7→1.6 s delta vs the pre-round-12 plan is the
    * hot-domain-safe DAG's price (salted two-window quota + narrow-frame
    * join-back), which the 4.3×/10× hot-domain probe buys. */
  def curateScoped(docs: DataFrame, idCol: String, textCol: String,
      urlCol: String, minTokens: Int = 8, domainCap: Int = 100,
      bpMinWords: Int = 4): Dedup.Scoped = {
    val st = staged(docs, idCol, textCol, urlCol, bpMinWords)
    val (narrowCp, release) =
      Dedup.checkpointTracked(narrowOf(st, idCol, minTokens))
    Dedup.Scoped(assemble(st, losers(narrowCp, domainCap), idCol, minTokens),
      release)
  }

  // ------------------------------------------------------- persisted store
  // Curation is a corpus artifact like the ANN/BM25/LM/graph stores: a
  // re-crawl batch must dedup and quota against HISTORY without
  // rescanning any previous batch's text. The store persists the per-doc
  // STAGED columns (stage 1-2 results + the URL keys stages 3-4 group
  // on; never the text), blind-append per batch with the
  // [[Graphs.appendEdges]] retry contract: a replayed batch_id is
  // neutralized by (batch_id, doc id) dedup on read, and verdicts served
  // from the store are identical to one-shot [[curate]] over the union
  // of every appended batch (they run the same loser/assemble core).
  // Thresholds (minTokens, domainCap) stay READ-side knobs — the store
  // holds counts, not decisions, so a policy change re-verdicts without
  // re-staging.

  /** Blind-append one crawl batch's staged rows. Stage 1–2 (the text
    * scan — the expensive part) runs here once; the stored row is the
    * doc minus its text: passthrough columns + (clean-derived n_tokens,
    * bp_only) + (canon_url, reg_dom). */
  def writeStaged(docs: DataFrame, idCol: String, textCol: String,
      urlCol: String, path: String, batchId: String,
      bpMinWords: Int = 4): Unit =
    StoreCompaction.append(staged(docs, idCol, textCol, urlCol, bpMinWords)
      .drop(textCol, "clean_text")
      .withColumn("batch_id", lit(batchId)), path)

  /** Verdicts for EVERY doc across all appended batches, served from the
    * store — identical to [[curate]] over the union of the raw batches
    * (same loser/assemble core, same salted quota path), at the cost of
    * a staged-row scan instead of a corpus text rescan. Retried batches
    * dedup on (batch_id, id); the same doc re-crawled under a NEW
    * batch_id is a genuine new row (and its canonical group dedups it,
    * which is the point). */
  def curateFromStore(spark: SparkSession, path: String, idCol: String,
      minTokens: Int = 8, domainCap: Int = 100): DataFrame = {
    val st = StoreCompaction.readVisible(spark, path)
      .dropDuplicates("batch_id", idCol).drop("batch_id")
    // no checkpoint here: the store rows ARE the narrow columns (the
    // text never reached the store), so the double-subtree read is two
    // cheap column scans, not two text-clean passes
    assemble(st, losers(narrowOf(st, idCol, minTokens), domainCap),
      idCol, minTokens)
  }

  /** Compact the staged store. Canonicalization is ONLY the read's
    * replay-collapse (dropDuplicates on (batch_id, id)) — original
    * batch_id values are PRESERVED as data, because a doc re-crawled
    * under two batch ids is two genuine rows (its canonical group
    * dedups it downstream; merging them here would change quota
    * counts). Read output is value-identical; listing and dedup input
    * drop from O(batches) file sets to one generation. */
  def compactStaged(spark: SparkSession, path: String, idCol: String,
      targetPartitions: Int = 1): Long =
    StoreCompaction.compact(spark, path, (df, _) =>
      df.dropDuplicates("batch_id", idCol),
      targetPartitions = targetPartitions)
}

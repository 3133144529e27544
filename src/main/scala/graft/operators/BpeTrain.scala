package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-scale BPE tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"): learn the
  * top-N byte-pair merges over a document corpus — the step an LLM data
  * pipeline runs once per tokenizer revision, and the one that actually
  * needs the cluster: the corpus scan. After the initial word-count
  * aggregation every iteration runs on the VOCABULARY table (distinct
  * words × counts — bounded by language, not corpus size), so 100× the
  * corpus pays 100× only in the first groupBy; the merge loop's cost is
  * corpus-size-independent.
  *
  * Representation trick that keeps the whole loop in Column expressions
  * AND makes a DuckDB oracle replay possible: a word's symbol sequence
  * is a DOUBLE-space-joined string with single sentinel spaces
  * (`" h  e  l  l  o  </w> "`), and applying merge (l, r) is the
  * literal `replace(s, " l  r ", " lr ")`. The double separator is
  * load-bearing: every symbol boundary carries two spaces, a match
  * consumes ONE from each end, so immediately-repeating pairs still
  * find their delimiter and the scan implements exactly the reference
  * BPE's greedy left-to-right non-overlapping merge — "abab" + (a,b) →
  * "ab ab" (a single-space form loses the shared delimiter and yields
  * "ab a b"), "aaa" + (a,a) → "aa a". Literal replace semantics are
  * identical in Spark and DuckDB; symbols never contain spaces, so a
  * match can only align on symbol boundaries. No UDF anywhere.
  *
  * Each round: pair counts (weighted by word count) → argmax with a
  * total tie-break (freq DESC, then both symbols ASC — deterministic
  * across engines and runs) → one replace over the vocab. The vocab is
  * localCheckpointed per round with tracked release (the
  * Dedup.clusters lifecycle), so round k's pair scan never replays
  * rounds 1..k-1's replaces.
  */
object BpeTrain {

  /** `" h  e  l  l  o  </w> "` — double-space separators, single
    * sentinel spaces (see class doc for why double). */
  private def spacedSymbols(word: org.apache.spark.sql.Column) =
    concat(lit(" "), array_join(split(word, ""), "  "), lit("  </w> "))

  /** Heap-derived driver-path vocabulary limit — the in-memory loop's
    * binding constraint is BYTES, not rows, so the limit is a
    * bytes-per-word model against the actual heap. Measured (X=10
    * probe, 32,768 merges, IntSet index): post-GC live set 612 MiB at
    * 398,218 words / 392,059 live pairs ≈ 1.6 KiB per word all-in;
    * budgeted at 2 KiB/word against a QUARTER of max heap so the loop
    * can churn (G1 high-water ran ~10× the live set at X=10 — 5.9 GiB
    * of mostly collectible garbage) and the driver's other tenants
    * keep living. On the 32 GiB bench driver this lands at ~4.2M words
    * (close to the old fixed 5M default); on an 8 GiB driver it
    * correctly shrinks to ~1M, where the fixed default would have
    * OOM'd. */
  def driverVocabLimitForHeap(
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    math.max(10000L, maxHeapBytes / 4 / 2048)

  /** Which path the last [[merges]] call took — observability for the
    * crossover spec (BpeTrainSpec pins that a lowered limit actually
    * engages the distributed loop, not just a different constant). */
  @volatile private[graft] var lastPathDistributed: Boolean = false

  /** Distributed rounds the last [[merges]] call paid (each = one pair
    * count + one checkpoint) — observability for the batched loop:
    * rounds ≪ merges is the 32k-wall cut SCALE.md round-15 records. */
  @volatile private[graft] var lastDistributedRounds: Int = 0

  /** Learned merge table: (rank 1..numMerges, lhs, rhs, freq). Stops
    * early if the vocabulary runs out of adjacent pairs (every word
    * fully merged) — rank is then < numMerges.
    *
    * Two-tier execution, the same small-table fast path the reference
    * pins for metadata queries: the corpus pays exactly ONE distributed
    * scan (the word-count groupBy — the only stage whose cost grows
    * with corpus size); the merge loop itself runs over the DISTINCT
    * word × count table, which is vocabulary-bounded (natural-language
    * vocabularies are millions of words regardless of corpus bytes), so
    * when it fits under `driverVocabLimit` distinct words it is
    * collected and the merges run in memory with incremental pair-count
    * maintenance — O(affected words) per merge instead of one Spark
    * job + limit(1).collect() per merge (~0.1 s/round × 32k merges =
    * hours of driver-round latency for a real tokenizer; measured 1k
    * merges in seconds on the in-memory loop). Above the limit the
    * checkpointed distributed loop below handles the degenerate
    * synthetic-key-space case. Both paths implement the IDENTICAL
    * contract — overlapping-adjacency pair counts, argmax tie-break
    * (freq DESC, lhs ASC, rhs ASC in UTF-8 binary collation, matching
    * Spark's string ordering), greedy left-to-right non-overlapping
    * replace — so the switch is invisible to the value gates
    * (BpeTrainSpec pins path parity). */
  def merges(docs: DataFrame, textCol: String, numMerges: Int,
      driverVocabLimit: Long = driverVocabLimitForHeap()): DataFrame = {
    val spark = docs.sparkSession
    val wcWords = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val wc = wcWords.select(spacedSymbols(col("w")).as("s"), col("cnt"))

    if (driverVocabLimit > 0 && wcWords.limit(
        (driverVocabLimit + 1).min(Int.MaxValue.toLong).toInt)
        .count() <= driverVocabLimit) {
      lastPathDistributed = false
      val rows = wcWords.collect().map(r =>
        (r.getString(0).split("").filter(_.nonEmpty) :+ "</w>", r.getLong(1)))
      val learnedLocal = mergesLocal(rows, numMerges)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(learnedLocal.zipWithIndex.map { case ((l, r, f), i) =>
            Row((i + 1).toLong, l, r, f) }).asJava),
        StructType(Seq(
          StructField("rank", LongType, nullable = false),
          StructField("lhs", StringType, nullable = false),
          StructField("rhs", StringType, nullable = false),
          StructField("freq", LongType, nullable = false))))
    }

    lastPathDistributed = true
    val sc = spark.sparkContext
    def checkpointTracked(df: DataFrame): (DataFrame, () => Unit) = {
      val before = sc.getPersistentRDDs.keySet
      val cp = df.localCheckpoint()
      val added = (sc.getPersistentRDDs -- before.toSeq).values.toSeq
      (cp, () => added.foreach(_.unpersist(blocking = false)))
    }

    var (vocab, release) = checkpointTracked(wc)
    val learned = scala.collection.mutable.ArrayBuffer.empty[Row]
    var k = 0
    var exhausted = false
    // BATCHED rounds: one distributed pair count can safely commit
    // SEVERAL merges when they provably equal what the sequential loop
    // would have picked — the cure for the 32k-merge wall (one Spark
    // round per merge ≈ hours of driver-round latency at real
    // tokenizer depth; SCALE.md round-15 measures the cut). The rule:
    // take the LONGEST PREFIX p1..pm of the stale ranking (f DESC,
    // lhs ASC, rhs ASC — the argmax's own total order) that is
    // pairwise SYMBOL-DISJOINT, truncated so f(pm) is STRICTLY above
    // the first excluded pair's stale count. Exactness argument:
    //  - disjoint merges don't touch each other's counts, so each
    //    batch member keeps its stale count and the stale tie-break
    //    order among them;
    //  - every pair a batch merge DECREASES shares a symbol with it →
    //    excluded from the prefix → stale count ≤ f(excluded#1) <
    //    f(pm), and counts only fall;
    //  - every pair a batch merge CREATES, (X, Y), occurs only where
    //    the stale vocab had the boundary adjacency (last-symbol-of-X,
    //    first-symbol-of-Y); X or Y being freshly merged makes that
    //    boundary pair share a symbol with a batch member → also
    //    bounded < f(pm).
    //  So at sequential step i the candidates are p_i..pm at stale
    //  counts plus strictly-smaller everything-else: argmax = p_i. A
    //  batch of 1 is the plain sequential argmax and needs no strict
    //  gap (ties included), so progress is always ≥ 1 merge/round.
    val roundBudget = 256 // collect budget; batches self-truncate below it
    lastDistributedRounds = 0
    while (k < numMerges && !exhausted) {
      lastDistributedRounds += 1
      val pairs = vocab
        .select(col("cnt"), split(trim(col("s")), "  ").as("a"))
        .select(col("cnt"), explode(TextFunctions.adjacentPairs(col("a"))).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("cnt")).as("f"))
      val want = math.min(roundBudget, numMerges - k)
      val top = pairs.orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var i = 0
        var open = true
        while (open && i < math.min(top.length, want)) {
          val (l, r, _) = top(i)
          if (used.contains(l) || used.contains(r)) open = false
          else { batch += top(i); used += l; used += r; i += 1 }
        }
        // strict-gap truncation: drop batch tail tied with the first
        // excluded pair's count (a 1-merge batch is exempt — it IS the
        // sequential argmax)
        if (i < top.length) {
          val boundary = top(i)._3
          while (batch.length > 1 && batch.last._3 <= boundary)
            batch.remove(batch.length - 1)
        }
        batch.foreach { case (l, r, f) =>
          k += 1
          learned += Row(k.toLong, l, r, f)
        }
        // one projection applies the whole batch (disjoint → replaces
        // commute; chained in rank order regardless), one checkpoint
        // per ROUND. Checkpoint-every-K was EXPERIMENTED and REJECTED
        // with data (SCALE.md round 15, controlled 512-merge A/B,
        // identical 181 rounds): K=8 ran 152.3 s vs K=1's 146.2 s —
        // every un-checkpointed round's replace chain re-executes
        // inside the NEXT pair count's explode, and 230k-row × multi-
        // replace string rewrites cost more than the one materialization
        // job they save.
        val (next, nextRelease) = checkpointTracked(vocab.select(
          batch.foldLeft(col("s")) { case (c, (l, r, _)) =>
            call_function("replace", c, lit(s" $l  $r "), lit(s" $l$r "))
          }.as("s"), col("cnt")))
        release(); vocab = next; release = nextRelease
      }
    }
    release()
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(learned.toSeq).asJava),
      StructType(Seq(
        StructField("rank", LongType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false),
        StructField("freq", LongType, nullable = false))))
  }

  /** Open-addressing raw-int SET — the pair→words index's value type.
    * Both obvious structures fail at 32k-merge scale, measured:
    *  - mutable.BitSet allocates O(max word index / 8) bytes per pair
    *    regardless of occupancy — a pair whose one occurrence sits in a
    *    late word pays ~vocab/8 bytes, × hundreds of thousands of live
    *    pairs (the r13 verdict's heap finding);
    *  - a raw append list (tried first) has O(occurrences) memory on
    *    paper but NO dedup: every word REWRITE re-adds the word's ~9
    *    pairs, so hot pairs' lists grow with 32k merges of churn —
    *    measured 21.3 GiB live and 2× the wall at X=10 (the re-scan
    *    walks every stale duplicate).
    * Linear-probe int set with a -1 sentinel gives BitSet's dedup at
    * O(distinct (pair, word) incidences × 8 B): measured X=10 live set
    * drops to the hundreds of MiB. Iteration order is hash order —
    * harmless: per-word rewrites are independent, pair-count updates
    * commute, and the argmax tie-break orders on (freq, lhs, rhs)
    * values, so the learned table is order-independent (BpeTrainSpec
    * parity pins it). */
  private final class IntSet {
    private var keys = Array.fill(8)(-1)
    private var n = 0
    def add(v: Int): Unit = {
      val mask = keys.length - 1
      var i = (v * 0x9E3779B9) >>> 1 & mask
      while (keys(i) != -1) {
        if (keys(i) == v) return
        i = (i + 1) & mask
      }
      keys(i) = v
      n += 1
      if (n * 2 >= keys.length) { // grow at 50% load
        val old = keys
        keys = Array.fill(old.length << 1)(-1)
        n = 0
        var j = 0
        while (j < old.length) { if (old(j) != -1) add(old(j)); j += 1 }
      }
    }
    def foreachV(f: Int => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (keys(i) != -1) f(keys(i)); i += 1 }
    }
  }

  /** In-memory merge loop over a collected (symbols, count) vocabulary —
    * the rounds-at-scale path (32k-merge tokenizers). Pair counts are
    * maintained INCREMENTALLY: each merge re-scans only the words that
    * contain the merged pair (tracked per pair; stale entries are
    * skipped by re-checking adjacency), so cost per merge is
    * O(words containing the pair), not O(vocabulary). Contract is
    * bit-identical to the distributed loop: overlapping adjacencies
    * count (like adjacentPairs' explode), argmax ties break freq DESC /
    * lhs ASC / rhs ASC in UTF-8 byte order (Spark's binary string
    * collation — NOT Java's UTF-16 compareTo, which disagrees above the
    * BMP), and the merge itself is greedy left-to-right non-overlap. */
  private[operators] def mergesLocal(vocab: Array[(Array[String], Long)],
      numMerges: Int): Seq[(String, String, Long)] = {
    // UTF-8 unsigned-byte lexicographic — Spark's string sort order
    def u8cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    val words = vocab.map(_._1.clone())
    val cnt = vocab.map(_._2)
    val pairFreq = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), IntSet]
    // lazy-deletion max-heap over (freq, lhs, rhs) snapshots: a linear
    // argmax over the pair map would be O(P) per merge — hours at 32k
    // merges × millions of pairs. Stale snapshots (freq changed since
    // push) are discarded on pop by consulting the live map.
    val heapOrd = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        if (a._1 != b._1) java.lang.Long.compare(a._1, b._1) // bigger freq wins
        else {
          val cl = u8cmp(b._2, a._2) // SMALLER lhs wins
          if (cl != 0) cl else u8cmp(b._3, a._3) // then smaller rhs
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)
    def addPairs(wi: Int, sign: Long): Unit = {
      val a = words(wi)
      var i = 0
      while (i < a.length - 1) {
        val p = (a(i), a(i + 1))
        val nf = pairFreq.getOrElse(p, 0L) + sign * cnt(wi)
        if (nf == 0L) pairFreq.remove(p)
        else { pairFreq(p) = nf; heap.enqueue((nf, p._1, p._2)) }
        if (sign > 0)
          pairWords.getOrElseUpdate(p, new IntSet).add(wi)
        i += 1
      }
    }
    var wi = 0
    while (wi < words.length) { addPairs(wi, 1L); wi += 1 }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    while (k < numMerges && pairFreq.nonEmpty) {
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val c = heap.dequeue()
        if (pairFreq.get((c._2, c._3)).contains(c._1)) top = c
      }
      if (top == null) return learned.toSeq // heap drained: no live pairs
      val (f, l, r) = top
      learned += ((l, r, f))
      k += 1
      val merged = l + r
      // stale or duplicate occurrence entries (word no longer contains
      // the adjacency, or the same word listed twice) fall out
      // naturally: the has-check below makes the re-scan a no-op when
      // (l, r) is absent
      pairWords.remove((l, r)).getOrElse(new IntSet).foreachV { w =>
        val a = words(w)
        var has = false
        var i = 0
        while (i < a.length - 1 && !has) {
          has = a(i) == l && a(i + 1) == r; i += 1
        }
        if (has) {
          addPairs(w, -1L)
          // greedy left-to-right non-overlapping merge
          val out = new scala.collection.mutable.ArrayBuffer[String](a.length)
          i = 0
          while (i < a.length) {
            if (i < a.length - 1 && a(i) == l && a(i + 1) == r) {
              out += merged; i += 2
            } else { out += a(i); i += 1 }
          }
          words(w) = out.toArray
          addPairs(w, 1L)
        }
      }
    }
    learned.toSeq
  }

  /** Segment a corpus with a learned merge table — the APPLY side of
    * BPE (what the tokenizer does to new text): explode words, replay
    * the merges in rank order over each word's spaced-symbol form. The
    * merge table rides as a rank-ordered literal replace chain folded
    * into ONE Column expression tree (codegen'd, no UDF, no join) —
    * exactly how a 100 TB tokenization pass wants its merges: a
    * broadcast-free constant in every task. Output: one row per word
    * occurrence, (original id columns…, word, subwords array). */
  def segment(docs: DataFrame, textCol: String,
      mergeTable: Seq[(String, String)], outCol: String = "subwords"): DataFrame = {
    val word = explode(split(lower(trim(col(textCol))), "\\s+")).as("word")
    val appliedAll = mergeTable.foldLeft(spacedSymbols(col("word"))) {
      case (s, (l, r)) =>
        call_function("replace", s, lit(s" $l  $r "), lit(s" $l$r "))
    }
    docs.select(col("*"), word).drop(textCol)
      .withColumn(outCol, split(trim(appliedAll), "  "))
  }

  /** [[segment]] at REALISTIC vocabulary scale: the replace chain folds
    * one expression per merge — perfect codegen for the 8-merge gate,
    * infeasible at a real tokenizer's 32k merges (32k nested calls blow
    * the expression tree before they blow the 64 KB method limit). This
    * variant ships the merge table as one broadcast-style task constant
    * (a rank map inside the UDF closure, ~MBs for 32k merges) and
    * encodes each word with the classic iterative algorithm: repeatedly
    * take the lowest-RANK pair present in the word and merge all its
    * occurrences greedily left-to-right. Provably identical to the
    * replace chain: a merge's operand symbols are products of strictly
    * lower ranks (training invariant), so once rank r is applied no
    * pair of rank < r can reappear — the two application orders
    * commute. Cost: O(symbols · merges-applied) per word, merge-table-
    * size-independent per word. BpeTrainSpec pins path identity;
    * q_bpe_encode_large shares q_bpe_encode's oracle text (the
    * q_decontam_bloom output-identity contract). */
  def segmentLarge(docs: DataFrame, textCol: String,
      mergeTable: Seq[(String, String)], outCol: String = "subwords"): DataFrame = {
    val rank: Map[(String, String), Int] =
      mergeTable.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val encodeUdf = udf { (word: String) =>
      var syms = (word.split("").filter(_.nonEmpty) :+ "</w>").toArray
      var done = false
      while (!done && syms.length > 1) {
        // lowest-rank pair present anywhere in the word
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          rank.get((syms(i), syms(i + 1))).foreach { r =>
            if (r < bestRank) bestRank = r
          }
          i += 1
        }
        if (bestRank == Int.MaxValue) done = true
        else {
          val (l, r) = mergeTable(bestRank)
          val merged = l + r
          val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toArray
        }
      }
      syms
    }
    val word = explode(split(lower(trim(col(textCol))), "\\s+")).as("word")
    docs.select(col("*"), word).drop(textCol)
      .withColumn(outCol, encodeUdf(col("word")))
  }
}

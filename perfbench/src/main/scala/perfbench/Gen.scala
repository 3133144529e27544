package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed always yields the same rows;
  * the program under test only ever sees what these write. */
object Gen {

  /** The word vocabulary of the repository's sample `documents` table. */
  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data dup " +
    "fast filter group hash join key line merge order part query row scan " +
    "slow small sort spark stream table the value vector window").split(" ")
    .toIndexedSeq

  // ------------------------------------------------------------ catalog

  /** Row counts of a TPC-H-shaped catalog with `lineitem` rows of fact
    * data (4 lines per order, like TPC-H). */
  def catalogSizes(lineitem: Long): Seq[(String, Long)] = Seq(
    "customer" -> math.max(lineitem / 40, 10L),
    "supplier" -> math.max(lineitem / 600, 10L),
    "orders" -> math.max(lineitem / 4, 1L),
    "lineitem" -> lineitem)

  /** Write the catalog as `<dir>/<table>.parquet`, `files` files per
    * large table. Keys are remapped through the seed, so two seeds give
    * different key sets, values and text. */
  def writeCatalog(spark: SparkSession, seed: Long, lineitem: Long,
      dir: String, files: Int): Unit = {
    val n = catalogSizes(lineitem).toMap
    def h(k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
    def pick(k: Int, m: Long): Column = pmod(h(k), lit(m))
    def oneOf(k: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(k, xs.size.toLong) + 1).cast("int"))
    def words(k: Int, count: Int): Column =
      concat_ws(" ", (0 until count).map(j => oneOf(k * 31 + j, Vocab)): _*)
    def money(k: Int, cents: Long): Column = pick(k, cents).cast("double") / 100.0
    def day(k: Int): Column =
      timestamp_seconds(lit(694224000L) + pick(k, 2500L) * 86400L)
    // keys of a table with m rows are keyBase(m) + 0..m-1: a seeded
    // offset, so foreign keys stay joinable while key values move
    def keyBase(m: Long): Long = 1L + math.floorMod(seed * 7919L, 1000003L) * m
    def key(m: Long): Column = col("id") + lit(keyBase(m))
    def range(m: Long): DataFrame =
      spark.range(0, m, 1, if (m > 50000) files else 1).toDF()
    val tables: Seq[(String, DataFrame)] = Seq(
      "customer" -> range(n("customer")).select(key(n("customer")).as("c_custkey"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
        pick(4, 25).cast("int").as("c_nationkey"),
        (money(5, 1100000L) - 999.99).as("c_acctbal"),
        oneOf(6, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment"),
        // quotes and backslashes exercise the INSERT writer's escaping
        concat_ws(" ", words(9, 3), oneOf(10, Seq("o'neil", "c:\\dir", "plain", "\"q\"")))
          .as("c_comment")),
      "supplier" -> range(n("supplier")).select(key(n("supplier")).as("s_suppkey"),
        concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
        pick(7, 25).cast("int").as("s_nationkey"),
        (money(8, 1100000L) - 999.99).as("s_acctbal")),
      "orders" -> range(n("orders")).select(key(n("orders")).as("o_orderkey"),
        (lit(keyBase(n("customer"))) + pick(15, n("customer"))).as("o_custkey"),
        oneOf(16, Seq("F", "O", "P")).as("o_orderstatus"),
        money(17, 50000000L).as("o_totalprice"),
        day(18).as("o_orderdate"),
        oneOf(19, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> range(n("lineitem")).select(
        (lit(keyBase(n("orders"))) + (col("id") / 4).cast("long")).as("l_orderkey"),
        (pick(20, lineitem / 30 + 1) + 1).as("l_partkey"),
        (lit(keyBase(n("supplier"))) + pick(21, n("supplier"))).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (pick(22, 50) + 1).cast("double").as("l_quantity"),
        money(23, 10000000L).as("l_extendedprice"),
        (pick(24, 11).cast("double") / 100.0).as("l_discount"),
        (pick(25, 9).cast("double") / 100.0).as("l_tax"),
        oneOf(26, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(27, Seq("F", "O")).as("l_linestatus"),
        day(28).as("l_shipdate")))
    tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet") }
  }

  // ---------------------------------------------------------- documents

  final case class Doc(doc_id: Long, text: String)

  private def sentence(r: scala.util.Random): Array[String] =
    Array.fill(5 + r.nextInt(8))(Vocab(r.nextInt(Vocab.size)))

  /** Boilerplate sentences shared across many documents. */
  private def boilerplate(seed: Long): IndexedSeq[String] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    IndexedSeq.fill(12)(sentence(r).mkString(" "))
  }

  private def render(sents: Seq[Array[String]], extra: Seq[String]): String =
    (sents.map(_.mkString(" ")) ++ extra).mkString("", ". ", ".")

  /** `n` documents for batch curation. About 30% sit in near-duplicate
    * chain families of length 2 to `maxChain`: each member rewrites a few words of
    * its predecessor, so neighbours are near-duplicates while members
    * two or more steps apart mostly are not. About 10% are exact copies
    * of another document, and a third carry shared boilerplate
    * sentences. Ids are a seeded permutation, so a chain's minimum id
    * can sit anywhere along it. */
  def curationDocs(seed: Long, n: Int, maxChain: Int): IndexedSeq[Doc] = {
    val r = new scala.util.Random(seed)
    val bp = boilerplate(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    def fresh(): Array[Array[String]] = Array.fill(4 + r.nextInt(5))(sentence(r))
    def tail(): Seq[String] =
      if (r.nextInt(3) == 0) Seq.fill(1 + r.nextInt(2))(bp(r.nextInt(bp.size))) else Nil
    while (texts.size < n) {
      val u = r.nextDouble()
      if (u < 0.30) {
        val len = math.min(2 + r.nextInt(maxChain - 1), n - texts.size)
        val doc = fresh()
        val extra = tail()
        val nWords = doc.map(_.length).sum
        val perStep = math.max(1, math.round(nWords / 30.0).toInt)
        texts += render(doc.toSeq, extra)
        for (_ <- 1 until len) {
          for (_ <- 0 until perStep) {
            val s = doc(r.nextInt(doc.length))
            val w = r.nextInt(s.length)
            var v = Vocab(r.nextInt(Vocab.size))
            while (v == s(w)) v = Vocab(r.nextInt(Vocab.size))
            s(w) = v
          }
          texts += render(doc.toSeq, extra)
        }
      } else if (u < 0.40 && texts.nonEmpty) {
        texts += texts(r.nextInt(texts.size))
      } else texts += render(fresh().toSeq, tail())
    }
    val ids = r.shuffle((0L until n.toLong).toIndexedSeq)
    texts.indices.map(i => Doc(ids(i), texts(i)))
  }

  /** One daemon batch: `n` fresh documents with ids unique across
    * batches; a third carry boilerplate, so the count store sees the
    * same sentences batch after batch. */
  def batchDocs(seed: Long, batch: Int, n: Int): IndexedSeq[Doc] = {
    val r = new scala.util.Random(seed * 1000003L + batch)
    val bp = boilerplate(seed)
    IndexedSeq.tabulate(n) { i =>
      val extra =
        if (r.nextInt(3) == 0) Seq.fill(1 + r.nextInt(2))(bp(r.nextInt(bp.size))) else Nil
      Doc(batch.toLong * n + i, render(Seq.fill(2 + r.nextInt(4))(sentence(r)), extra))
    }
  }
}

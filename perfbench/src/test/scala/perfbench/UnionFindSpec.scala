package perfbench

import org.scalatest.funsuite.AnyFunSuite

class UnionFindSpec extends AnyFunSuite {

  test("every id is labelled with the smallest id of its component") {
    val pairs = Seq(5L -> 9L, 9L -> 2L, 7L -> 8L, 3L -> 3L)
    assert(UnionFind.labels(pairs) ==
      Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L, 3L -> 3L))
  }

  test("a long chain given out of order collapses to its minimum") {
    val chain = (1L until 64L).map(i => (i * 7919) % 1000 -> ((i + 1) * 7919) % 1000)
    val labels = UnionFind.labels(scala.util.Random.shuffle(chain))
    val min = chain.flatMap(p => Seq(p._1, p._2)).min
    assert(labels.size == 64 && labels.values.toSet == Set(min))
  }

  test("agrees with a breadth-first search on random graphs") {
    val r = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val pairs = Seq.fill(r.nextInt(60))((r.nextInt(40).toLong, r.nextInt(40).toLong))
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2)
      def component(s: Long): Set[Long] = {
        var seen = Set(s); var frontier = List(s)
        while (frontier.nonEmpty) {
          val n = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(seen)
          seen ++= n; frontier = n.distinct
        }
        seen
      }
      val expect = adj.keys.map(k => k -> component(k).min).toMap
      assert(UnionFind.labels(pairs) == expect)
    }
  }
}

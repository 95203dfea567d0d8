package graftbench

import java.security.MessageDigest

/** Tests of the benchmark's own parts — no Spark involved:
  *
  *  - the generator is deterministic per seed (byte-identical inputs);
  *  - the BM25 oracle matches hand-computed scores on a micro-corpus;
  *  - the top-k check accepts exact answers and tie reorders only;
  *  - span self-time arithmetic is right on overlapping job intervals;
  *  - Jaccard and union-find clusters on a small graph.
  *
  * {{{  python3 perfbench/run.py --selftest  }}}
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"[selftest] PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"[selftest] FAIL $name: $e") }

  private def assertEq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def assertClose(got: Double, want: Double, what: String): Unit =
    if (math.abs(got - want) > 1e-12) throw new AssertionError(s"$what got $got, want $want")

  /** Every input a run of both workloads can draw, as bytes. */
  private def inputs(seed: Long): Array[Byte] = {
    val sb = new StringBuilder
    val docs = Gen.corpus(seed, 300)
    docs.foreach(d => sb.append(d.id).append('\t').append(d.text).append('\n'))
    val q = new Gen.Queries(seed)
    (0 until 200).foreach(_ => sb.append(q.next()).append('\n'))
    val p = new Gen.Phrases(seed, docs)
    (0 until 200).foreach(_ => sb.append(p.next()).append('\n'))
    val m = new Gen.Mutations(seed)
    val b = m.batch(300, 40, 10, docs)
    b.docs.foreach(d => sb.append(d.id).append('\t').append(d.text).append('\n'))
    sb.append(b.planted).append(m.deletes(docs.map(_.id), 50)).append('\n')
    val (pool, links) = Gen.chainPool(seed, 1000000L)
    pool.foreach(d => sb.append(d.id).append('\t').append(d.text).append('\n'))
    sb.append(links)
    sb.toString.getBytes("UTF-8")
  }

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    test("generator is deterministic per seed") {
      assertEq(sha(inputs(7)), sha(inputs(7)), "same seed:")
      if (sha(inputs(7)) == sha(inputs(8))) throw new AssertionError("seeds 7 and 8 agree")
    }

    test("generator respects its documented shape") {
      val docs = Gen.corpus(3, 500)
      assert(docs.forall(d => d.tokens.length >= Gen.MinDocLen && d.tokens.length <= Gen.MaxDocLen))
      val q = new Gen.Queries(3)
      assert((0 until 500).map(_ => q.next().split(' ').length).forall(n => n >= 1 && n <= 4))
      val b = new Gen.Mutations(3).batch(500, 20, 10, docs)
      val byId = (docs ++ b.docs).map(d => d.id -> d).toMap
      for ((dup, src) <- b.planted)
        assert(Oracle.jaccard(Oracle.shingles(byId(dup).tokens, 3),
          Oracle.shingles(byId(src).tokens, 3)) >= Gen.NearDupJaccard)
      val (pool, links) = Gen.chainPool(3, 0L)
      assertEq(links.size, Gen.ChainDepths.map { case (d, c) => d * c }.sum, "chain links:")
      assertEq(pool.size, links.size + Gen.ChainDepths.map(_._2).sum + Gen.PoolSingletons,
        "pool docs:")
      val pairs = Oracle.pairs(pool, 3, Gen.NearDupJaccard)
      assert(links.forall(l => pairs.contains(l)), "every chain link is a near-duplicate")
      val depth = Oracle.clusters(pairs.keys).groupBy(_._2).values.map(_.size - 1).max
      assertEq(depth, Gen.ChainDepths.map(_._1).max, "deepest chain:")
    }

    test("BM25 oracle matches hand-computed scores") {
      // N = 2, avg_dl = 2.5; d1 = "a b a" (len 3), d2 = "b c" (len 2)
      val o = new Oracle.Bm25
      o.add(Doc(1, "a b a")); o.add(Doc(2, "b c"))
      // a: df 1, idf ln 2; d1 tf 2: 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
      assertClose(o.scores("a")(1), 0.902321773509988, "score(a, d1)")
      assertEq(o.scores("a").keySet, Set(1L), "docs matching a:")
      // b: df 2, idf ln 1.2
      assertClose(o.scores("b")(1), 0.16853253149021016, "score(b, d1)")
      assertClose(o.scores("b")(2), 0.19856803215183175, "score(b, d2)")
      assertClose(o.scores("a b a")(1), 1.0708543050001982, "score(a b a, d1)")
      o.delete(1)
      // N = 1, avg_dl = 2: b has df 1, idf ln(1 + 0.5 / 1.5), norm tf = 1
      assertClose(o.scores("b")(2), math.log(1 + 0.5 / 1.5), "score(b, d2) after delete")
      assertEq(o.phraseCounts("b c"), Map(2L -> 1L), "phrase b c:")
    }

    test("top-k check: exact passes, wrong score or order fails, ties may reorder") {
      val all = Map(1L -> 3.0, 2L -> 2.0, 3L -> 2.0, 4L -> 1.0)
      assertEq(Oracle.checkTopK(Seq(1L -> 3.0, 2L -> 2.0, 3L -> 2.0), all, 3), None)
      assert(Oracle.checkTopK(Seq(1L -> 3.0, 3L -> 2.0, 2L -> 2.0), all, 3).nonEmpty,
        "equal scores must come in doc_id order")
      assert(Oracle.checkTopK(Seq(1L -> 3.0, 2L -> 2.5, 3L -> 2.0), all, 3).nonEmpty)
      assert(Oracle.checkTopK(Seq(1L -> 3.0, 2L -> 2.0, 4L -> 1.0), all, 3).nonEmpty)
      assertEq(Oracle.checkTopK(Seq(1L -> 3.0, 3L -> 2.0), all, 2), None) // tie at the cut
      assert(Oracle.checkTopK(Seq(1L -> 3.0), all, 2).nonEmpty)
    }

    test("job-interval union on overlapping intervals") {
      // span [0, 100]; jobs [10, 30] and [20, 50] overlap, [40, 45]
      // nests, [90, 120] sticks out of the span, [200, 210] is outside
      val jobs = Seq((10L, 30L), (20L, 50L), (40L, 45L), (90L, 120L), (200L, 210L))
      assertEq(Intervals.covered(0, 100, jobs), 50L, "covered:")
      assertEq(Intervals.covered(0, 100, Nil), 0L, "no jobs:")
      assertEq(Intervals.covered(0, 100, Seq((0L, 100L), (10L, 20L))), 100L, "full:")
      assertEq(Intervals.covered(25, 35, jobs), 10L, "inside an overlap:")
    }

    test("span attribution: jobs by start, tasks by finish, gap over the job union") {
      val a = SpanCall("a", 1000, 2000, 1000000000L, 0, 0, 0)
      val b = SpanCall("b", 2500, 3000, 500000000L, 0, 0, 0)
      // two concurrent jobs and a later one in a; one job in b; one job
      // between the spans belongs to neither
      val jobs = Seq((1100L, 1500L), (1200L, 1600L), (1700L, 1800L), (2600L, 2900L),
        (2100L, 2200L))
      val tasks = Seq((1400L, 0.25, 10L), (1550L, 0.5, 0L), (2800L, 1.0, 7L), (2300L, 9.0, 9L))
      val Seq(ca, cb) = Tracer.attribute(Seq(a, b), jobs, tasks)
      assertEq(ca.jobs, 3, "jobs in a:")
      assertClose(ca.gapS, 0.4, "gap_s of a")
      assertClose(ca.taskS, 0.75, "task_s of a")
      assertEq(ca.shuffleB, 10L, "shuffle_b of a:")
      assertEq(cb.jobs, 1, "jobs in b:")
      assertClose(cb.gapS, 0.2, "gap_s of b")
      assertClose(cb.taskS, 1.0, "task_s of b")
    }

    test("Jaccard and union-find clusters") {
      val a = Oracle.shingles("a b c d e".split(' '), 3)
      val b = Oracle.shingles("a b c d f".split(' '), 3)
      assertEq(a, Set("a b c", "b c d", "c d e"), "shingles:")
      assertClose(Oracle.jaccard(a, b), 0.5, "jaccard")
      assertEq(Oracle.clusters(Seq(5L -> 6L, 6L -> 7L, 9L -> 8L, 3L -> 8L)),
        Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 3L, 8L -> 3L, 3L -> 3L), "labels:")
    }

    println(s"[selftest] $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

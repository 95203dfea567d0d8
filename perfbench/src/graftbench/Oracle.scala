package graftbench

import scala.collection.mutable

/** Plain-Scala reference answers the program's outputs are checked
  * against: BM25 top-k, phrase top-k, shingle Jaccard and union-find
  * clusters. Nothing here touches Spark. */
object Oracle {
  val K1 = 1.2
  val B = 0.75
  val TopK = 10

  /** Live-corpus BM25 (idf = ln(1 + (N - df + 0.5) / (df + 0.5)),
    * avg_dl = total length / N), kept current under adds and deletes. */
  final class Bm25 {
    private val tf = mutable.HashMap.empty[Long, Map[String, Int]]
    private val len = mutable.HashMap.empty[Long, Int]
    private val postings = mutable.HashMap.empty[String, mutable.Set[Long]]
    private var lengthSum = 0L
    private val toks = mutable.HashMap.empty[Long, Array[String]]

    def add(d: Doc): Unit = {
      require(!len.contains(d.id), s"doc ${d.id} added twice")
      val t = d.tokens
      toks(d.id) = t
      tf(d.id) = t.groupBy(identity).map { case (k, v) => k -> v.length }
      len(d.id) = t.length
      lengthSum += t.length
      tf(d.id).keys.foreach(w => postings.getOrElseUpdate(w, mutable.Set.empty) += d.id)
    }

    def delete(id: Long): Unit = if (len.contains(id)) {
      tf(id).keys.foreach(w => postings(w) -= id)
      lengthSum -= len(id)
      tf -= id; len -= id; toks -= id
    }

    def liveIds: IndexedSeq[Long] = len.keys.toIndexedSeq.sorted

    /** Every matching doc's score for a free-text query (distinct terms). */
    def scores(query: String): Map[Long, Double] = {
      val n = len.size.toDouble
      val avg = lengthSum.toDouble / len.size
      val acc = mutable.HashMap.empty[Long, Double]
      for (w <- query.split(' ').filter(_.nonEmpty).distinct;
           ids <- postings.get(w) if ids.nonEmpty) {
        val df = ids.size.toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for (id <- ids) {
          val f = tf(id)(w).toDouble
          val norm = f * (K1 + 1.0) / (f + K1 * (1.0 - B + B * len(id) / avg))
          acc(id) = acc.getOrElse(id, 0.0) + idf * norm
        }
      }
      acc.toMap
    }

    /** Occurrence counts of a phrase (consecutive tokens) per doc. */
    def phraseCounts(phrase: String): Map[Long, Long] = {
      val p = phrase.split(' ')
      val cands = p.map(w => postings.getOrElse(w, mutable.Set.empty[Long]))
        .reduce((a, b) => a.intersect(b))
      cands.iterator.map { id =>
        val t = toks(id)
        id -> (0 to t.length - p.length).count(i => p.indices.forall(j => t(i + j) == p(j))).toLong
      }.filter(_._2 > 0).toMap
    }
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Checks a ranked top-k `(doc_id, score)` list against every doc's
    * oracle score: same length, every reported score equals that doc's
    * oracle score, scores non-increasing with doc_id ascending inside
    * exact ties, and the k-th score equals the oracle's k-th score (so
    * no better doc was left out; docs tied at the cut may differ).
    * Returns None when they agree, else a description of the mismatch. */
  def checkTopK(got: Seq[(Long, Double)], all: Map[Long, Double],
                k: Int = TopK): Option[String] = {
    val want = all.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
    if (got.size != want.size) return Some(s"${got.size} rows, want ${want.size}")
    if (got.map(_._1).distinct.size != got.size) return Some("repeated doc_id")
    for (((d, s), i) <- got.zipWithIndex) {
      all.get(d) match {
        case None => return Some(s"rank ${i + 1}: doc $d does not match the query")
        case Some(o) if !close(s, o) => return Some(s"rank ${i + 1}: doc $d score $s, want $o")
        case _ =>
      }
      if (!close(s, want(i)._2)) return Some(s"rank ${i + 1}: score $s, want ${want(i)._2}")
      if (i > 0) {
        val (pd, ps) = got(i - 1)
        if (ps < s || (ps == s && pd > d)) return Some(s"rank ${i + 1}: out of order")
      }
    }
    None
  }

  def shingles(tokens: Array[String], n: Int): Set[String] =
    if (tokens.length < n) Set.empty
    else (0 to tokens.length - n).iterator.map(i => tokens.slice(i, i + n).mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Every pair `(a, b)`, a < b, with Jaccard ≥ `t` over n-shingle sets. */
  def pairs(docs: Seq[Doc], n: Int, t: Double): Map[(Long, Long), Double] = {
    val sets = docs.map(d => d.id -> shingles(d.tokens, n)).filter(_._2.nonEmpty)
      .sortBy(_._1).toIndexedSeq
    val out = mutable.HashMap.empty[(Long, Long), Double]
    for (i <- sets.indices; j <- i + 1 until sets.size) {
      val (a, sa) = sets(i)
      val (b, sb) = sets(j)
      val small = math.min(sa.size, sb.size).toDouble
      if (small / math.max(sa.size, sb.size) >= t) {
        val jac = jaccard(sa, sb)
        if (jac >= t) out((a, b)) = jac
      }
    }
    out.toMap
  }

  /** Connected components of the pair graph, labelled by their smallest
    * member; only ids that occur in some pair are labelled. */
  def clusters(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}

package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document: whitespace-separated lowercase tokens, so the
  * program's analyzer and the oracles tokenize it identically. */
final case class Doc(id: Long, text: String) {
  def tokens: Array[String] = text.split(' ')
}

/** A batch offered to the ingest loop: fresh documents plus planted
  * near-duplicates, each planted doc paired with the stored doc it copies. */
final case class IngestBatch(docs: Seq[Doc], planted: Seq[(Long, Long)])

/** Seeded input generator. Every input is a pure function of the seed
  * (and, for the ingest stream, of the store state the stream itself
  * produced), drawn from `java.util.SplittableRandom`, whose sequence is
  * fixed by its specification — the same seed gives byte-identical
  * inputs on any JVM. Each input kind draws from its own stream, so
  * consuming more queries never shifts the corpus or the batches.
  */
object Gen {
  val VocabSize = 30000
  val ZipfExponent = 1.0
  val MinDocLen = 40
  val MaxDocLen = 200
  val MaxQueryTerms = 4
  val ShingleN = 3
  val NearDupJaccard = 0.9
  /** Edit-chain depth (edges) -> number of chains in the clustering pool.
    * Fixed counts, so every seed needs the same number of
    * label-propagation rounds (set by the deepest chain). */
  val ChainDepths: Seq[(Int, Int)] =
    Seq(1 -> 6, 2 -> 4, 3 -> 3, 4 -> 2, 6 -> 2, 8 -> 1, 12 -> 1)
  val PoolSingletons = 40
  /** Chain documents are short enough that two edits always fall below
    * the threshold, so a chain of depth d is a path of diameter d. */
  val ChainDocLen = (60, 80)

  private val Golden = 0x9E3779B97F4A7C15L

  /** Independent stream `kind` of `seed`. */
  def stream(seed: Long, kind: Int): SplittableRandom =
    new SplittableRandom(seed * Golden + kind * 0xBF58476D1CE4E5B9L)

  def word(rank: Int): String = "w" + Integer.toString(rank, 36)

  /** Rank sampler for P(rank r) ∝ 1 / (r + 1)^s over the vocabulary. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
      a
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  lazy val zipf = new Zipf(VocabSize, ZipfExponent)

  def text(r: SplittableRandom, len: Int): String =
    Iterator.fill(len)(word(zipf.sample(r))).mkString(" ")

  def doc(r: SplittableRandom, id: Long, minLen: Int = MinDocLen,
          maxLen: Int = MaxDocLen): Doc =
    Doc(id, text(r, minLen + r.nextInt(maxLen - minLen + 1)))

  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = stream(seed, 1)
    (0 until n).map(i => doc(r, i.toLong))
  }

  /** Free-text queries of 1..[[MaxQueryTerms]] Zipf-drawn terms: head
    * terms hit long postings lists, tail terms short ones. */
  final class Queries(seed: Long) {
    private val r = stream(seed, 2)
    def next(): String = text(r, 1 + r.nextInt(MaxQueryTerms))
  }

  /** Phrases of 2..3 consecutive tokens cut from corpus documents, so
    * every phrase matches at least one document. */
  final class Phrases(seed: Long, docs: IndexedSeq[Doc]) {
    private val r = stream(seed, 3)
    def next(): String = {
      val t = docs(r.nextInt(docs.size)).tokens
      val n = 2 + r.nextInt(2)
      val at = r.nextInt(t.length - n + 1)
      t.slice(at, at + n).mkString(" ")
    }
  }

  /** One-token substitution of `d` at a random position that keeps
    * Jaccard ≥ [[NearDupJaccard]] to `d`; None when `tries` random edits
    * all fall below (a document whose shingles repeat can have no such
    * edit). */
  def nearDup(r: SplittableRandom, d: Doc, id: Long, tries: Int = 50): Option[Doc] = {
    val src = Oracle.shingles(d.tokens, ShingleN)
    Iterator.continually {
      val t = d.tokens.clone()
      t(r.nextInt(t.length)) = word(zipf.sample(r))
      Doc(id, t.mkString(" "))
    }.take(tries).find(c => c.text != d.text &&
      Oracle.jaccard(src, Oracle.shingles(c.tokens, ShingleN)) >= NearDupJaccard)
  }

  /** Mutation stream for the ingest loop: each batch is `fresh` new docs
    * plus `planted` near-duplicates of docs in `stored`; each delete set
    * is `n` distinct ids drawn from the currently live ids. */
  final class Mutations(seed: Long) {
    private val r = stream(seed, 4)
    def batch(nextId: Long, fresh: Int, planted: Int,
              stored: IndexedSeq[Doc]): IngestBatch = {
      val docs = (0 until fresh).map(i => doc(r, nextId + i))
      val long = stored.filter(_.tokens.length >= 80)
      val dups = (0 until planted).map { i =>
        Iterator.continually(long(r.nextInt(long.size)))
          .flatMap(src => nearDup(r, src, nextId + fresh + i).map(d => (d, src.id)))
          .next()
      }
      IngestBatch(docs ++ dups.map(_._1), dups.map { case (d, s) => (d.id, s) })
    }
    def deletes(live: IndexedSeq[Long], n: Int): Seq[Long] = {
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.min(n, live.size)) picked += live(r.nextInt(live.size))
      picked.toSeq
    }
  }

  /** Clustering pool: edit chains with the [[ChainDepths]] histogram (each
    * link one substitution; consecutive docs ≥ the threshold, docs two
    * links apart below it) plus unrelated singletons. Returns the docs
    * and the planted chain links. */
  def chainPool(seed: Long, firstId: Long): (IndexedSeq[Doc], Seq[(Long, Long)]) = {
    val r = stream(seed, 5)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val links = mutable.ArrayBuffer.empty[(Long, Long)]
    var id = firstId
    def fresh(): Doc = { val d = doc(r, id, ChainDocLen._1, ChainDocLen._2); id += 1; d }
    /** A chain of `depth` links from a fresh root, or None when some link
      * finds no edit that keeps the doc two links back below the threshold. */
    def chain(depth: Int): Option[Seq[Doc]] = {
      val c = mutable.ArrayBuffer(fresh())
      while (c.size <= depth) {
        val next = Iterator.continually(nearDup(r, c.last, id)).take(50).flatten.find { d =>
          c.size < 2 || Oracle.jaccard(Oracle.shingles(c(c.size - 2).tokens, ShingleN),
            Oracle.shingles(d.tokens, ShingleN)) < NearDupJaccard
        }
        next match {
          case Some(d) => c += d; id += 1
          case None => return None
        }
      }
      Some(c.toSeq)
    }
    for ((depth, count) <- ChainDepths; _ <- 0 until count) {
      val c = Iterator.continually(chain(depth)).flatten.next()
      docs ++= c
      links ++= c.zip(c.tail).map { case (a, b) => (a.id, b.id) }
    }
    for (_ <- 0 until PoolSingletons) docs += fresh()
    (docs.toIndexedSeq, links.toSeq)
  }
}

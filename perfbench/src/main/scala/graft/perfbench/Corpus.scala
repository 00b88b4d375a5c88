package graft.perfbench

import scala.collection.mutable

/** The seeded `documents` corpus of `dedup_scaled` and the exact
  * answers the checks compare against, computed here without Spark.
  *
  * Words come from a seeded vocabulary under a mild Zipf law. Of the
  * documents, `exactShare` are planted exact duplicates of an earlier
  * original (half verbatim, half with their words shuffled, which the
  * token-set fingerprint of `dd_exact` also equates) and `nearShare`
  * are planted near-duplicates: an original with 1-6% of its words
  * substituted. The rest are originals of 40-120 words. */
object Corpus {
  val exactShare = 0.04
  val nearShare = 0.15
  val vocabSize = 8000
  val zipfExponent = 0.6
  /** Shingles shared by more documents than this do not seed reference
    * candidates; a pair at Jaccard >= 0.5 shares dozens of rarer ones. */
  val refMaxDf = 64

  final case class Corpus(texts: IndexedSeq[String],
      exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)])

  def generate(seed: Long, n: Int): Corpus = {
    val rng = new scala.util.Random(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < vocabSize)
        seen += Iterator.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    val cdf = {
      val w = (1 to vocabSize).map(r => math.pow(r.toDouble, -zipfExponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
    }
    val texts = mutable.ArrayBuffer[String]()
    val originals = mutable.ArrayBuffer[Int]()
    val exact = mutable.ArrayBuffer[(Long, Long)]()
    val near = mutable.ArrayBuffer[(Long, Long)]()
    (0 until n).foreach { i =>
      val u = rng.nextDouble()
      if (originals.size < 50 || u >= exactShare + nearShare) {
        originals += i
        texts += Seq.fill(40 + rng.nextInt(81))(word()).mkString(" ")
      } else {
        val src = originals(rng.nextInt(originals.size))
        val toks = texts(src).split(" ")
        if (u < exactShare) {
          texts += (if (rng.nextBoolean()) toks.toSeq else rng.shuffle(toks.toSeq)).mkString(" ")
          exact += ((src.toLong, i.toLong))
        } else {
          val k = math.max(1, math.round(toks.length * (0.01 + 0.05 * rng.nextDouble())).toInt)
          (0 until k).foreach(_ => toks(rng.nextInt(toks.length)) = word())
          texts += toks.mkString(" ")
          near += ((src.toLong, i.toLong))
        }
      }
    }
    Corpus(texts.toIndexedSeq, exact.toSeq, near.toSeq)
  }

  /** Distinct 3-word shingles, as `Dedup.shingles` computes them for
    * single-space-separated text. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val shared = a.count(b.contains)
    shared.toDouble / (a.size + b.size - shared)
  }

  /** Exact answers for one corpus. */
  final class Reference(val corpus: Corpus) {
    val shingleSets: IndexedSeq[Set[String]] = corpus.texts.map(shingles)

    def jaccardOf(a: Long, b: Long): Double =
      jaccard(shingleSets(a.toInt), shingleSets(b.toInt))

    /** `dd_exact`: (doc_id, canonical, group_size) of every document
      * whose sorted distinct token set another document shares. */
    val exactRows: Seq[Seq[Any]] =
      corpus.texts.indices.groupBy(i => corpus.texts(i).split(" ").distinct.sorted.mkString(" "))
        .values.filter(_.size > 1).toSeq.flatMap { g =>
          g.map(i => Seq[Any](i.toLong, g.min.toLong, g.size.toLong))
        }

    /** Every pair at Jaccard >= 0.5 over 3-shingles, with its Jaccard. */
    val ngramPairs: Map[(Long, Long), Double] = {
      val postings = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
      shingleSets.zipWithIndex.foreach { case (s, i) =>
        s.foreach(sh => postings.getOrElseUpdate(sh, mutable.ArrayBuffer()) += i)
      }
      val cands = mutable.HashSet[(Int, Int)]()
      postings.valuesIterator.filter(p => p.size > 1 && p.size <= refMaxDf).foreach { p =>
        for (x <- p.indices; y <- x + 1 until p.size) cands += ((p(x), p(y)))
      }
      cands.iterator.map { case (a, b) => ((a.toLong, b.toLong), jaccardOf(a, b)) }
        .filter(_._2 >= 0.5).toMap
    }

    /** `dd_cluster`: (doc_id, cluster, cluster_size) over the
      * connected components of the Jaccard pairs, labelled by their
      * smallest member. */
    val clusterRows: Seq[Seq[Any]] = {
      val parent = mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      ngramPairs.keys.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.groupBy(find).values.toSeq.flatMap { g =>
        g.map(d => Seq[Any](d, g.min, g.size.toLong))
      }
    }
  }
}

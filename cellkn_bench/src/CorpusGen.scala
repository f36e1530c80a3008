package cellknbench

import scala.collection.mutable
import scala.util.Random

/**
 * Seeded curation corpus with planted structure, and the census the
 * curation pipeline must report for it, derived from the planting alone.
 *
 *  - base documents are drawn so that no word 3-gram occurs in two of
 *    them (every draw is checked against the 3-grams already used);
 *  - short documents fall under the 20-token quality gate;
 *  - exact duplicates copy a base document verbatim;
 *  - near duplicates replace three words of a base document with fresh
 *    words (Jaccard over 3-grams stays above 0.5, far over the 0.1 cut);
 *  - evaluation documents embed a six-word span of a base document that
 *    has no copies or variants, so exactly that document is contaminated.
 *
 * Document ids are a random permutation, so which copy survives (the
 * smallest id) moves with the seed.
 */
final class CorpusGen(seed: Long) {
  private val rnd = new Random(seed)

  private val vocab: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val n = 4 + rnd.nextInt(6)
      seen += (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toIndexedSeq
  }

  private val used3 = mutable.HashSet.empty[String]
  private def grams(ws: IndexedSeq[String], n: Int): Seq[String] =
    ws.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq

  /** Words whose 3-grams are all unused; reserves them. */
  private def fresh(len: Int): IndexedSeq[String] = {
    var ws = IndexedSeq.empty[String]
    var ok = false
    while (!ok) {
      ws = IndexedSeq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      val g = grams(ws, 3)
      ok = g.distinct.size == g.size && !g.exists(used3)
    }
    used3 ++= grams(ws, 3)
    ws
  }

  private val bases: IndexedSeq[IndexedSeq[String]] =
    IndexedSeq.fill(500)(fresh(30 + rnd.nextInt(51)))
  private val shorts: IndexedSeq[IndexedSeq[String]] =
    IndexedSeq.fill(50)(fresh(5 + rnd.nextInt(15)))

  // base index of every exact copy and near-duplicate variant
  private val copyOf: IndexedSeq[Int] = IndexedSeq.fill(50)(rnd.nextInt(250))
  private val variantOf: IndexedSeq[Int] = IndexedSeq.fill(67)(rnd.nextInt(250))

  private def variant(b: IndexedSeq[String]): IndexedSeq[String] = {
    var out = b
    var ok = false
    while (!ok) {
      val pos = rnd.shuffle(b.indices.toList).take(3)
      out = pos.foldLeft(b)((acc, p) => acc.updated(p, vocab(rnd.nextInt(vocab.size))))
      val added = grams(out, 3).filterNot(grams(b, 3).toSet)
      ok = added.nonEmpty && !added.exists(used3) && added.distinct.size == added.size
    }
    used3 ++= grams(out, 3)
    out
  }
  private val variants = variantOf.map(b => variant(bases(b)))

  /** Bases with no copy and no variant: the contamination targets. */
  private val targets: IndexedSeq[Int] =
    rnd.shuffle((250 until 500).toList).take(8).toIndexedSeq

  val evalDocs: IndexedSeq[String] = {
    val contaminated = targets.map { t =>
      val b = bases(t)
      val at = rnd.nextInt(b.size - 6)
      (fresh(10) ++ b.slice(at, at + 6) ++ fresh(10)).mkString(" ")
    }
    contaminated ++ IndexedSeq.fill(5)(fresh(30).mkString(" "))
  }

  // (doc text, kind, base index or -1)
  private val all: IndexedSeq[(String, Int)] =
    bases.indices.map(i => (bases(i).mkString(" "), i)) ++
      copyOf.map(b => (bases(b).mkString(" "), b)) ++
      variants.zip(variantOf).map { case (v, b) => (v.mkString(" "), b) } ++
      shorts.map(s => (s.mkString(" "), -1))

  private val ids: IndexedSeq[Long] =
    rnd.shuffle(all.indices.toList).map(_.toLong).toIndexedSeq

  val docs: IndexedSeq[(Long, String)] = all.indices.map(i => (ids(i), all(i)._1))

  /** Stage name -> surviving row count, as the curation census names them. */
  lazy val census: Map[String, Long] = {
    val longDocs = all.indices.filter(i => all(i)._2 >= 0)
    // stage 2: one survivor (min id) per distinct text
    val exact = longDocs.groupBy(i => all(i)._1).values.map(_.minBy(ids)).toSeq
    // stage 3: one survivor (min id) per base family
    val nearDup = exact.groupBy(i => all(i)._2).values.map(_.minBy(ids)).toSeq
    val targetSet = targets.toSet
    val clean = nearDup.filterNot(i => targetSet(all(i)._2))
    val splits = clean.groupBy(i => split(all(i)._1)).map { case (s, xs) =>
      s"5_split_$s" -> xs.size.toLong }
    Map("0_input" -> all.size.toLong, "1_quality" -> longDocs.size.toLong,
      "2_exact" -> exact.size.toLong, "3_neardup" -> nearDup.size.toLong,
      "4_decontam" -> clean.size.toLong) ++ splits
  }

  /** train / val / test by the first hex digit of md5(text): 13/2/1. */
  private def split(text: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val nib = (d(0) >> 4) & 0xf
    if (nib < 13) "train" else if (nib < 15) "val" else "test"
  }

  def writeInputs(dir: String): Unit = {
    Files.write(s"$dir/docs.jsonl", docs.map { case (id, t) =>
      Files.obj("doc_id" -> id, "text" -> t) })
    Files.write(s"$dir/eval.jsonl", evalDocs.zipWithIndex.map { case (t, i) =>
      Files.obj("doc_id" -> i.toLong, "text" -> t) })
  }
}

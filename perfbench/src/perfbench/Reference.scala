package perfbench

import scala.collection.mutable

/**
 * Independent reference for the fuzzy phase's accept count: pg_trgm
 * padded-trigram similarity over every (unmatched source, unclaimed target)
 * pair, then the sequential greedy one-to-one scan in (distance, source
 * order, target pk) order. Written from the pg_trgm definition, not from
 * the library, so a library change that alters which pairs are accepted
 * fails the check.
 */
object Reference {

  /** pg_trgm trigrams: lower-case, split on non-alphanumerics, pad each
    * word as "  word " and take every 3-character window. */
  def trigrams(s: String): Set[String] =
    s.toLowerCase.split("[^\\p{L}\\p{Nd}]+").iterator.filter(_.nonEmpty)
      .flatMap(w => ("  " + w + " ").sliding(3)).toSet

  def fuzzyAccepted(sources: Array[String], targets: Array[(Long, String)],
                    limit: Double): Long = {
    val tSets = targets.map(t => trigrams(t._2))
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
    tSets.zipWithIndex.foreach { case (set, j) =>
      set.foreach(g => postings.getOrElseUpdate(g, new mutable.ArrayBuilder.ofInt) += j)
    }
    val index = postings.map { case (g, b) => g -> b.result() }
    val counts = new Array[Int](targets.length)
    // (distance, source ordinal, target pk) of every pair under the limit
    val pairs = mutable.ArrayBuffer.empty[(Double, Int, Long)]
    sources.zipWithIndex.foreach { case (s, si) =>
      val sSet = trigrams(s)
      val touched = mutable.ArrayBuffer.empty[Int]
      sSet.foreach(g => index.get(g).foreach(_.foreach { j =>
        if (counts(j) == 0) touched += j
        counts(j) += 1
      }))
      touched.foreach { j =>
        val shared = counts(j)
        counts(j) = 0
        val sim = shared.toDouble / (sSet.size + tSets(j).size - shared)
        val dist = 1.0 - sim
        if (dist < limit) pairs += ((dist, si, targets(j)._1))
      }
    }
    val usedS = mutable.HashSet.empty[Int]
    val usedT = mutable.HashSet.empty[Long]
    pairs.sorted.count { case (_, s, t) =>
      !usedS.contains(s) && !usedT.contains(t) && { usedS += s; usedT += t; true }
    }.toLong
  }
}

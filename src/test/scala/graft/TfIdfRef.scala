package graft

/** Plain-Scala brute-force reference for `StringSim.similarPairs`:
  * the same char n-grams (lowercased, whitespace runs collapsed, one
  * gram per start position 1..max(len − n + 1, 1)), tf = count within
  * the string, idf = ln(N/df), cosine over every pair of strings.
  */
object TfIdfRef {

  def grams(s: String, n: Int = 3): Map[String, Int] = {
    val t = s.toLowerCase.replaceAll("\\s+", " ")
    (0 until math.max(t.length - n + 1, 1))
      .map(i => t.substring(i, math.min(i + n, t.length)))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Spark's `round(x, 4)` on a double (HALF_UP on its decimal form). */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One entry per pair (id_a < id_b) of non-zero-norm strings that
    * share a gram: (id_a, id_b) -> (raw cosine, smallest df among the
    * shared grams).
    */
  def pairs(docs: Seq[(Long, String)], n: Int = 3): Map[(Long, Long), (Double, Long)] = {
    val tf = docs.map { case (id, s) => id -> grams(s, n) }
    val df = tf.flatMap(_._2.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nDocs = docs.size.toDouble
    val w = tf.map { case (id, g) =>
      id -> g.map { case (k, c) => k -> c * math.log(nDocs / df(k)) } }
    val norm = w.map { case (id, v) => id -> math.sqrt(v.values.map(x => x * x).sum) }.toMap
    (for {
      (ia, va) <- w; (ib, vb) <- w if ia < ib
      shared = va.keySet.intersect(vb.keySet) if shared.nonEmpty
      if norm(ia) * norm(ib) > 0
    } yield (ia, ib) -> (shared.toSeq.map(k => va(k) * vb(k)).sum / (norm(ia) * norm(ib)),
      shared.map(df).min)).toMap
  }
}

package graft

/** Plain-Scala brute-force reference for `Dedup.jaccardJoin` and
  * `Dedup.nearDupMatches`: the same word sets (split on runs of
  * spaces, duplicates dropped), J = |a∩b| / |a∪b| over every pair,
  * kept when round(J, 4) ≥ t and the pair shares a token whose df is
  * at most `cap` (df counted over the self-join's corpus or the
  * store).
  */
object JaccardRef {

  def words(s: String): Set[String] = s.split(" +", -1).toSet

  /** Document frequency of every token of `docs`. */
  def df(docs: Seq[(Long, String)]): Map[String, Long] =
    docs.flatMap(d => words(d._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap

  /** (id_a < id_b) -> round(J, 4) over the pairs of `docs`. */
  def selfPairs(docs: Seq[(Long, String)], t: Double,
                cap: Long = Long.MaxValue): Map[(Long, Long), Double] =
    score(for (a <- docs; b <- docs if a._1 < b._1) yield (a, b), df(docs), t, cap)

  /** (batch_id, store_id) -> round(J, 4) over batch × store. */
  def storePairs(batch: Seq[(Long, String)], store: Seq[(Long, String)], t: Double,
                 cap: Long = Long.MaxValue): Map[(Long, Long), Double] =
    score(for (a <- batch; b <- store) yield (a, b), df(store), t, cap)

  private def score(pairs: Seq[((Long, String), (Long, String))], df: Map[String, Long],
                    t: Double, cap: Long): Map[(Long, Long), Double] =
    (for {
      ((ia, sa), (ib, sb)) <- pairs
      (a, b) = (words(sa), words(sb))
      shared = a.intersect(b) if shared.exists(df(_) <= cap)
      j = TfIdfRef.round4(shared.size.toDouble / a.union(b).size) if j >= t
    } yield (ia, ib) -> j).toMap
}

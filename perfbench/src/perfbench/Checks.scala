package perfbench

/** One cited hit of an assembled context: `Source [rank] (source): text`. */
final case class Cited(rank: Int, source: String, text: String) {
  def key: String = source + "\u0000" + text
}

/** Output checks. Each returns the list of violations (empty = pass),
  * over plain collected values so a test can feed them a corrupted
  * result. */
object Checks {
  private val Marker = """Source \[(\d+)\] \(([^)]*)\): """.r

  /** Split a `VectorOps.assembleContext` string back into its cited
    * hits. Generated text is lowercase words and ". ", so it never
    * contains the marker. */
  def parseContext(context: String): Seq[Cited] = {
    val ms = Marker.findAllMatchIn(context).toVector
    ms.indices.map { i =>
      val end = if (i + 1 < ms.length) ms(i + 1).start - 2 else context.length
      Cited(ms(i).group(1).toInt, ms(i).group(2), context.substring(ms(i).end, end))
    }
  }

  /** ingest: the IVF index holds every store row, and so does BM25. */
  def ingest(storeRows: Long, ivfRows: Long, bm25Docs: Long): Seq[String] =
    (if (ivfRows != storeRows)
       Seq(s"IVF index has $ivfRows rows, store has $storeRows") else Nil) ++
    (if (bm25Docs != storeRows)
       Seq(s"BM25 index has $bm25Docs documents, store has $storeRows") else Nil)

  /** serve: one request returns ranks 1..k in order, each citing a
    * (source, text) chunk that exists in the store. */
  def serve(hits: Seq[Cited], k: Int, storeKeys: String => Boolean): Seq[String] = {
    val ranks = hits.map(_.rank)
    (if (ranks != (1 to k)) Seq(s"ranks ${ranks.mkString(",")} != 1..$k") else Nil) ++
      hits.filterNot(h => storeKeys(h.key))
        .map(h => s"rank ${h.rank} cites ${h.source} text not in the store")
  }

  /** curate: dedup removes exactly the injected exact copies, and every
    * cluster has exactly one canonical document. `canonical` rows are
    * (doc_id, cluster_id, is_canonical). */
  def curate(allIds: Set[Long], keptIds: Set[Long], exactCopies: Set[Long],
      canonical: Seq[(Long, Long, Boolean)]): Seq[String] = {
    val removed = allIds -- keptIds
    val dedup =
      if (removed != exactCopies)
        Seq(s"exact dedup removed ${removed.size} docs, expected " +
          s"${exactCopies.size} (${(removed diff exactCopies).size} wrong, " +
          s"${(exactCopies diff removed).size} missed)")
      else Nil
    val bad = canonical.groupBy(_._2).collect {
      case (c, rows) if rows.count(_._3) != 1 =>
        s"cluster $c has ${rows.count(_._3)} canonical docs"
    }
    dedup ++ bad.toSeq.sorted
  }

  /** Share of injected near-duplicate pairs whose two documents ended
    * in one cluster. */
  def dupRecall(nearCopies: Map[Long, Long], clusterOf: Map[Long, Long]): Double =
    if (nearCopies.isEmpty) 1.0
    else nearCopies.count { case (copy, base) =>
      clusterOf.get(copy).exists(c => clusterOf.get(base).contains(c))
    }.toDouble / nearCopies.size

  /** Share of the reference's cited (source, text) hits that the served
    * request also cites. */
  def recall(served: Seq[Cited], reference: Seq[Cited]): Double =
    if (reference.isEmpty) 1.0
    else reference.count(r => served.exists(_.key == r.key)).toDouble / reference.size
}

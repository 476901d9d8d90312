package perfbench

import java.util.SplittableRandom

/** One generated document, in the column layout of the engine's
  * `documents` table. */
final case class DocRow(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** The seeded corpus plus the ground truth the output checks need.
  * `exactCopies` and `nearCopies` map each injected copy's doc_id to
  * the doc_id of the base document it was copied from (always lower,
  * so first-wins dedup keeps the base). */
final case class Corpus(docs: Vector[DocRow], exactCopies: Map[Long, Long],
    nearCopies: Map[Long, Long]) {
  def textBytes: Long =
    docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
}

/** Deterministic generator: the same (seed, size) gives the same
  * documents and the same query stream on every host.
  *
  * - Words are drawn from a Zipf(1.0) law over a fixed vocabulary of
  *   [[VocabSize]] pseudo-words, so term frequencies look like text and
  *   BM25 / MinHash see realistic head-heavy shingles.
  * - Lengths are lognormal, scaled so every seed's corpus holds about
  *   [[MeanChars]] per document (the seed varies the documents, not how
  *   much work they are), then clamped to 2–20 KB.
  * - Sentences end in ". " and paragraphs are joined by "\n\n", so the
  *   recursive chunker's separators all fire.
  * - 5% of the documents are exact copies and 10% are near copies
  *   (3 words replaced) of an earlier base document.
  */
object Corpus {
  val VocabSize = 5000
  val ExactShare = 0.05
  val NearShare = 0.10
  val NearEdits = 3
  /** Queries draw their 3–5 terms from this many most frequent words. */
  val QueryHead = 200
  val MeanChars = 7000

  /** Fixed across seeds: the seed varies the corpus, not the language. */
  lazy val vocab: Array[String] = {
    val rnd = new SplittableRandom(0x5EEDL)
    val onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n",
      "p", "r", "s", "t", "v", "w", "z", "br", "ch", "st", "tr", "sh")
    val vowels = Array("a", "e", "i", "o", "u", "ai", "ou")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val syl = 1 + rnd.nextInt(3)
      seen += (0 until syl).map(_ =>
        onsets(rnd.nextInt(onsets.length)) + vowels(rnd.nextInt(vowels.length))
      ).mkString
    }
    seen.toArray
  }

  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / r).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def word(rnd: SplittableRandom, cdf: Array[Double]): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
    vocab(math.min(if (i >= 0) i else -i - 1, cdf.length - 1))
  }

  private def lognormal(rnd: SplittableRandom): Double = {
    // Box-Muller; median 6 KB
    val z = math.sqrt(-2 * math.log(1 - rnd.nextDouble())) *
      math.cos(2 * math.Pi * rnd.nextDouble())
    math.exp(math.log(6000) + 0.6 * z)
  }

  private def clampChars(c: Double): Int = math.max(2000, math.min(20000, c.toInt))

  private def baseText(rnd: SplittableRandom, target: Int): String = {
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append("\n\n")
      val sentences = 3 + rnd.nextInt(6)
      for (s <- 0 until sentences) {
        if (s > 0) sb.append(' ')
        val words = 6 + rnd.nextInt(15)
        sb.append((0 until words).map(_ => word(rnd, zipfCdf)).mkString(" "))
        sb.append('.')
      }
    }
    sb.toString
  }

  /** Replace [[NearEdits]] distinct word positions with other words. */
  private def nearCopy(rnd: SplittableRandom, text: String): String = {
    val words = text.split(" ", -1)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < NearEdits) picked += rnd.nextInt(words.length)
    picked.foreach { i =>
      // keep the punctuation/paragraph tail glued to the word
      val w = words(i)
      val core = w.takeWhile(_.isLetter)
      var repl = word(rnd, zipfCdf)
      while (repl == core) repl = word(rnd, zipfCdf)
      words(i) = repl + w.drop(core.length)
    }
    words.mkString(" ")
  }

  def generate(seed: Long, nDocs: Int): Corpus = {
    require(nDocs >= 10, "need at least 10 documents")
    val rnd = new SplittableRandom(seed)
    val nExact = math.round(nDocs * ExactShare).toInt
    val nNear = math.round(nDocs * NearShare).toInt
    // roles in a seeded order; doc 0 is always a base document so
    // every copy has an earlier base to copy from
    val roles = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(Vector.fill(nExact)('e') ++ Vector.fill(nNear)('n') ++
        Vector.fill(nDocs - nExact - nNear - 1)('b'))
    val allRoles = 'b' +: roles
    // each document's base (itself for a base document), picked among
    // the earlier base documents
    val baseOf = new Array[Int](nDocs)
    val bases = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until nDocs) {
      baseOf(i) = if (allRoles(i) == 'b') i else bases(rnd.nextInt(bases.length))
      if (allRoles(i) == 'b') bases += i
    }
    // copies inherit their base's length, so scale over all documents
    val raw = Array.tabulate(nDocs)(i => if (allRoles(i) == 'b') lognormal(rnd) else 0.0)
    val scale = nDocs.toDouble * MeanChars / (0 until nDocs).map(i => raw(baseOf(i))).sum
    val texts = new Array[String](nDocs)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val exact = Map.newBuilder[Long, Long]
    val near = Map.newBuilder[Long, Long]
    for (i <- 0 until nDocs) allRoles(i) match {
      case 'b' =>
        var t = baseText(rnd, clampChars(raw(i) * scale))
        while (seen.contains(t)) t = baseText(rnd, clampChars(raw(i) * scale))
        texts(i) = t; seen += t
      case 'e' =>
        texts(i) = texts(baseOf(i)); exact += i.toLong -> baseOf(i).toLong
      case _ =>
        var t = nearCopy(rnd, texts(baseOf(i)))
        while (seen.contains(t)) t = nearCopy(rnd, texts(baseOf(i)))
        texts(i) = t; seen += t; near += i.toLong -> baseOf(i).toLong
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      // one source per document: the store's chunk id is
      // source + chunk index, so shared sources would collapse chunks
      DocRow(i.toLong, t, "en", f"doc-$i%06d", t.length.toLong)
    }.toVector
    Corpus(docs, exact.result(), near.result())
  }

  /** The i-th query of the seed's stream: 3–5 distinct head words.
    * The term count cycles 3, 4, 5 so that every run's requests have
    * the same mix of lengths whatever the seed. */
  def query(seed: Long, i: Int): String = {
    val rnd = new SplittableRandom(seed * 1000003L + i)
    val head = zipfCdf.take(QueryHead)
    val n = 3 + Math.floorMod(i, 3)
    val terms = scala.collection.mutable.LinkedHashSet.empty[String]
    while (terms.size < n) terms += word(rnd, head)
    terms.mkString(" ")
  }
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE-lite subword tokenizer — the "BPE-ish" token counter of the
  * training-data suite (BASELINE.json north star). Clean-room,
  * deterministic re-statement of byte-pair encoding (Sennrich et al.,
  * ACL 2016): greedily merge the most frequent adjacent symbol pair,
  * ties broken lexicographically.
  *
  * Scale shape: [[trainDistributed]] keeps the word-frequency table
  * on the executors end to end — each merge round is one distributed
  * pair-count aggregate whose single argmax row is all that reaches
  * the driver; [[train]]+[[wordCounts]] is the bounded-sample
  * (top-N, driver-side) alternative for small fixtures. Either way
  * the learned merges (≤ numMerges pairs) are BROADCAST and encoding
  * is a narrow per-row map. The corpus is never collected.
  */
object BpeLite {

  type Merge = (String, String)

  /** Initial symbol split of a word: one symbol per CODE POINT, not
    * per UTF-16 code unit — the same split Spark's `split(w, "")`
    * produces (Java regex is code-point aware), so the driver and
    * distributed trainers see identical symbol streams on
    * supplementary-plane text (emoji, rare CJK); `w.map(_.toString)`
    * would shear surrogate pairs into unmatched halves. */
  private[text] def codePointSyms(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = w.offsetByCodePoints(i, 1)
      out += w.substring(i, n)
      i = n
    }
    out.result()
  }

  /** UTF-8 byte order — Spark's binary string ordering. Java's
    * `String.compareTo` (UTF-16 code units) disagrees on
    * supplementary-plane code points (surrogates 0xD800-0xDFFF sort
    * BELOW 0xE000-0xFFFF, while their code points sort above all of
    * the BMP), so driver-side tie-breaks must compare this way to
    * replay the distributed argmax's `orderBy`. */
  private[text] val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  private val argmaxOrdering: Ordering[(Long, String, String)] =
    Ordering.Tuple3(Ordering.Long, utf8Ordering, utf8Ordering)

  /** Learn `numMerges` merge rules from word frequencies. Pure and
    * deterministic: highest pair count wins, ties by (left, right)
    * in UTF-8 byte order — bit-identical to [[trainDistributed]] on
    * any text, including non-BMP. */
  def train(wordCounts: Map[String, Long], numMerges: Int): Vector[Merge] = {
    var words: Map[Vector[String], Long] = wordCounts.map {
      case (w, c) => codePointSyms(w) -> c
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val merges = Vector.newBuilder[Merge]
    var i = 0
    while (i < numMerges) {
      val pairCounts = scala.collection.mutable.Map[Merge, Long]()
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) =>
            val k = (a, b); pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
          case _ =>
        }
      }
      if (pairCounts.isEmpty) i = numMerges
      else {
        val best = pairCounts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }(argmaxOrdering)._1
        merges += best
        words = words.map { case (syms, c) => applyMerge(syms, best) -> c }
          .groupMapReduce(_._1)(_._2)(_ + _)
        i += 1
      }
    }
    merges.result()
  }

  private[text] def applyMerge(syms: Vector[String], m: Merge): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += (m._1 + m._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private val encodeMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Merge]), Vector[String]]()
  private val MaxMemo = 1 << 20

  /** Encode one word with the learned merges, in training order.
    * Word-level memo: natural corpora repeat words heavily, so each
    * distinct (word, merge-table) encodes once per executor; bounded
    * so a huge vocabulary can't exhaust memory. (The map lookup hashes
    * the small merge vector — still ~100× cheaper than re-running the
    * merge passes.) */
  def encodeWord(word: String, merges: Seq[Merge]): Vector[String] = {
    val key = (word, merges)
    val hit = encodeMemo.get(key)
    if (hit != null) hit
    else {
      val v = merges.foldLeft(codePointSyms(word))(applyMerge)
      if (encodeMemo.size < MaxMemo) encodeMemo.putIfAbsent(key, v)
      v
    }
  }

  /** Encode whitespace-split text. Subwords concat back to the word. */
  def encode(text: String, merges: Seq[Merge]): Vector[String] =
    if (text == null) Vector.empty
    else text.split(s"[${Tok.Ws}]+").filter(_.nonEmpty).toVector
      .flatMap(encodeWord(_, merges))

  /** Distributed training sample: top-N words by frequency (one
    * aggregate; deterministic order (−count, word)). `topN` must be an
    * explicit bound — for full-vocabulary training use
    * [[trainDistributed]], which never collects the vocabulary. */
  def wordCounts(docs: DataFrame, textCol: String = "text",
      topN: Int = 10000): Map[String, Long] = {
    require(topN <= (1 << 20),
      s"wordCounts collects topN=$topN words to the driver; " +
        "full-vocabulary training must use trainDistributed")
    docs.select(explode(split(col(textCol), s"[${Tok.Ws}]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(topN)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Giant routing threshold for the word-stream piece split — above
    * this, `split(text)` builds a multi-million-element array in ONE
    * task (the serial tail the r14 row-skew harness measured at
    * 11.3 s for q_bpe_tokens' 50 MB giant). Same threshold class as
    * Queries.RepetitionSplitChars. */
  private[text] val GiantChars = 1L << 21
  /** Whitespace-snapped piece stride (the q_repetition discipline). */
  private[text] val PieceChars = 1 << 19

  /** Corpus word stream `(w)` — the per-document `split`+`explode`,
    * with GIANT documents pre-cut into whitespace-snapped pieces
    * ([[Tok.wsPieces]]) that REDISTRIBUTE before the per-word
    * explode, so the 7 M-word array build and the map-side partial
    * aggregation run partition-parallel instead of in the giant's
    * single scan task. Cuts land only where the previous char is
    * whitespace, so the word multiset is exactly the per-row
    * split's; small documents keep the direct no-exchange path. */
  private[text] def wordStream(docs: DataFrame, textCol: String): DataFrame = {
    val len = length(col(textCol))
    val small = docs.filter(len.isNull || len <= GiantChars)
      .select(explode(split(col(textCol), s"[${Tok.Ws}]+")).as("w"))
    val pieceUdf = udf((t: String) => Tok.wsPieces(t, PieceChars))
    val nsp = docs.sparkSession.sessionState.conf.numShufflePartitions
    val giant = docs.filter(len > GiantChars)
      .select(posexplode(pieceUdf(col(textCol))).as(Seq("pi", "p")))
      .repartition(nsp, col("pi"), col("p"))
      .select(explode(split(col("p"), s"[${Tok.Ws}]+")).as("w"))
    small.unionByName(giant).filter(col("w") =!= "")
  }

  /** Distinct-word frequency frame `(syms: array<string>, c: long)`
    * with each word pre-split into single-character symbols — the
    * distributed twin of the `words` map inside [[train]]. */
  private[text] def wordFrame(docs: DataFrame, textCol: String): DataFrame =
    wordStream(docs, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(split(col("w"), "").as("syms"), col("c"))

  /** Adjacent-pair counts of `words` after re-applying the merges
    * learned so far, reduced to the single argmax row with the
    * deterministic (−count, left, right) tie rule — one distributed
    * aggregate per merge round, ONE row to the driver (the
    * `Ivf.boundedIndex` bounded-argmax pattern). Exposed for the spec
    * that pins "no vocabulary-sized LocalRelation in the training
    * plan". */
  /** `words` with `sofar` merges folded into the symbol column —
    * identity when no merges are pending. Folding commutes with
    * later merges: applyMerge composes sequentially, so re-applying
    * pending merges on a folded base equals replaying every merge
    * from the raw split. */
  private[text] def remerged(words: DataFrame, sofar: Seq[Merge]): DataFrame = {
    val ms = sofar.toVector
    if (ms.isEmpty) words
    else words.select(udf((syms: Seq[String]) =>
      ms.foldLeft(syms.toVector)(applyMerge)).apply(col("syms")).as("syms"),
      col("c"))
  }

  private[text] def pairArgmax(words: DataFrame, sofar: Seq[Merge]): DataFrame =
    pairTopK(words, sofar, 1)

  /** Top-`k` adjacent-pair counts in the deterministic (−count, left,
    * right) order — the distributed aggregate one batched merge round
    * runs; ≤ `k` rows ever reach the driver. */
  private[text] def pairTopK(words: DataFrame, sofar: Seq[Merge],
      k: Int): DataFrame = {
    remerged(words, sofar)
      .select(col("c"), explode(when(size(col("syms")) >= 2,
        expr("transform(sequence(0, size(syms)-2), " +
          "i -> struct(syms[i] as a, syms[i+1] as b))"))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .groupBy(col("p.a"), col("p.b")).agg(sum(col("c")).as("cnt"))
      .orderBy(desc("cnt"), col("a"), col("b")).limit(k)
  }

  /** How many of the fetched top pairs serial training would accept
    * back to back, by the PROVABLY-safe chain-free prefix rule.
    * Serial BPE picks the argmax, merges, recounts, repeats; a batch
    * is equivalent iff each accepted pair is still the argmax after
    * the merges before it. The facts the rule rests on:
    *
    *  - merging (a, b) destroys an occurrence of pair (c, d) ONLY
    *    when `c == b` (that c is absorbed by a preceding `a`) or
    *    `d == a` (that d is absorbed by a following `b`) — sharing
    *    left-with-left or right-with-right is harmless, and no merge
    *    ever CREATES an adjacency of two pre-existing symbols;
    *  - every pair a merge creates has ≥ one merged symbol, and its
    *    count is bounded by the ORIGINAL pair (tail(S1), head(S2)) of
    *    its operands' boundary symbols — an old pair whose right is
    *    some accepted left, or whose left is some accepted right
    *    (the same "unsafe classes").
    *
    * Scanning the (−count, left, right)-sorted list top-down,
    * candidate (c, d) is accepted when:
    *
    *  1. CHAIN-FREE: no earlier accepted (a, b) has `b == c` or
    *     `a == d` — the candidate's own count is then untouched;
    *  2. if the fetch was truncated at `k`, its count strictly
    *     exceeds the fetched minimum (every pair counting ≥ the
    *     candidate is then known to be in the list — including every
    *     unsafe-class pair that could bound a tying offspring);
    *  3. no LATER fetched pair with the SAME count sits in an unsafe
    *     class (right ∈ accepted-lefts or left ∈ accepted-rights):
    *     such a pair's offspring could tie the candidate and win the
    *     string tie-break. Unsafe-class pairs counting MORE would
    *     rank above the candidate, where the prefix property means
    *     they were accepted — impossible, acceptance of both ends of
    *     a chain is exactly what rule 1 forbids — so the scan above
    *     the candidate needs no check;
    *  4. a SELF pair (a == a) closes the batch after its own
    *     acceptance: its offspring ((aa, a), (aa, aa), …) are
    *     bounded by its OWN count, which exceeds every later
    *     candidate's.
    *
    * The first row is always accepted (it IS the argmax). The batch
    * closes at the first rejection — everything below is
    * unverifiable until the next distributed recount — so a
    * rejection costs rounds, never correctness. */
  private[text] def safePrefix(top: Array[(String, String, Long)],
      truncated: Boolean, budget: Int): Vector[Merge] = {
    if (top.isEmpty || budget <= 0) return Vector.empty
    val minCnt = top.last._3
    val lefts = scala.collection.mutable.Set.empty[String]
    val rights = scala.collection.mutable.Set.empty[String]
    val acc = Vector.newBuilder[Merge]
    var n = 0
    var idx = 0
    var open = true
    while (open && idx < top.length && n < budget) {
      val (a, b, c) = top(idx)
      val ok =
        if (idx == 0) true
        else if (rights(a) || lefts(b)) false // rule 1: chains only
        else if (truncated && c <= minCnt) false
        else !(idx + 1 until top.length).exists { j =>
          top(j)._3 == c && (lefts(top(j)._2) || rights(top(j)._1))
        }
      if (ok) {
        acc += ((a, b)); lefts += a; rights += b; n += 1; idx += 1
        if (a == b) open = false
      } else open = false
    }
    acc.result()
  }

  /** Fully distributed merge training over the FULL vocabulary: the
    * word-frequency table stays a DataFrame end to end; each of the
    * `numMerges` unrolled rounds runs one distributed pair-count
    * aggregate and collects only the single argmax row. Driver state
    * is the ≤ `numMerges` learned merge pairs — at web scale
    * (10⁸–10⁹ distinct words) nothing vocabulary-sized ever leaves
    * the executors, unlike [[wordCounts]]+[[train]] which is the
    * bounded-sample path. Produces the identical merge sequence to
    * `train(wordCounts(docs, topN = ∞), numMerges)`: same pair
    * weights (per distinct word × frequency), same (−count, left,
    * right) tie rule, same early stop when no pair remains. */
  def trainDistributed(docs: DataFrame, textCol: String = "text",
      numMerges: Int = 8, foldEvery: Int = 4,
      batchK: Int = 16): Vector[Merge] = {
    // each round is its own action over the distinct-word frame:
    // persist the narrow (syms, c) projection, release it before
    // returning. Round k re-applies only the merges PENDING since the
    // last fold: every `foldEvery` rounds the learned merges are
    // folded into a fresh persisted frame (r10 — the unfolded loop
    // replayed all k merges from the raw split each round, O(k²)
    // symbol work across training; folding caps the replay at
    // O(k·foldEvery) for one extra materialization per fold). Folding
    // preserves the merge sequence exactly: applyMerge composes
    // sequentially, so pending merges on a folded base replay the
    // same stream. The folded frame is an InMemoryRelation, never a
    // LocalRelation — the vocabulary still never reaches the driver.
    //
    // r12: each round fetches the top `batchK` pairs instead of the
    // single argmax and accepts the [[safePrefix]] of them — the
    // longest prefix PROVABLY identical to serial one-at-a-time
    // training (the standard batched-BPE-trainer trick, restricted
    // to the cases where equivalence is certain). 8 merges that cost
    // 8 distributed recount rounds now usually cost 2–3; the learned
    // sequence is bit-identical by construction, and the specs pin
    // batched == serial == driver `train` on real and adversarial
    // vocabularies.
    require(batchK >= 1, "batchK must be >= 1")
    var words = wordFrame(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val merges = Vector.newBuilder[Merge]
      var pending = Vector.empty[Merge]
      var i = 0
      while (i < numMerges) {
        // fetch the full batchK even when the remaining budget is
        // smaller: the extra rows only IMPROVE safePrefix's
        // visibility (rule 3), and a fetch that comes back short of
        // batchK proves the list is complete (truncated = false)
        val top = pairTopK(words, pending, batchK).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (top.isEmpty) i = numMerges
        else {
          val accepted =
            safePrefix(top, truncated = top.length >= batchK, numMerges - i)
          merges ++= accepted
          pending = pending ++ accepted
          i += accepted.length
          if (pending.length >= foldEvery && i < numMerges) {
            val folded = remerged(words, pending)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            folded.count() // materialize before releasing the parent
            words.unpersist(blocking = false)
            words = folded
            pending = Vector.empty
          }
        }
      }
      merges.result()
    } finally words.unpersist(blocking = false)
  }

  /** Parse an EXTERNAL merge table in the standard `merges.txt`
    * format every published BPE vocabulary ships (one `left right`
    * pair per line, rank = line order; `#…` comment lines and blanks
    * skipped) into the engine's merge list. This is the real-model
    * seam for tokenization — the mirror of `BatchModel` for
    * embeddings: the TRAINED path ([[train]]/[[trainDistributed]])
    * and an externally loaded vocabulary produce the same
    * `Vector[Merge]` shape, so every downstream consumer
    * ([[encode]], [[tokenCountCol]], [[tokenCountsExploded]], the
    * fertility report) runs unchanged on a real tokenizer's merges.
    * Proof of interchangeability is BpeVocabSeamSpec. */
  def parseMerges(lines: IterableOnce[String]): Vector[Merge] =
    lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.split(" ")
        require(sp.length == 2, s"malformed merge line: '$l'")
        (sp(0), sp(1))
      }
      .toVector

  /** The COMMITTED real-vocab fixture (resources `graft/bpe/
    * merges.txt`, standard merges.txt format) through [[parseMerges]]
    * — the single source of truth for the q_bpe_real_vocab oracle
    * row: the engine encodes under these merges and the DuckDB oracle
    * replays the very same parsed pairs as injected literals, so a
    * fixture edit changes both engines or neither. */
  lazy val fixtureMerges: Vector[Merge] = {
    val in = getClass.getResourceAsStream("/graft/bpe/merges.txt")
    require(in != null, "fixture graft/bpe/merges.txt missing from classpath")
    try parseMerges(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Column: BPE token count of `textCol` under broadcast merges. */
  def tokenCountCol(merges: Seq[Merge]): Column = {
    val m = merges.toVector
    udf((s: String) => encode(s, m).length).apply(col("text"))
  }

  /** Per-document BPE token counts via the word-exploded form — the
    * GIANT-document path for [[tokenCountCol]]: the per-row UDF
    * encodes a 50 MB document in one serial task, but the count
    * decomposes exactly as Σ_w count(w in doc) × |encode(w)| over
    * whitespace words (encode concatenates per-word subword streams,
    * [[encode]]), so giants explode to words, reduce to DISTINCT
    * (doc, word) counts — bounded by the document's vocabulary, not
    * its length — encode each distinct word ONCE (memo-backed), and
    * sum. Returns `(doc_id, n_bpe_tokens)`; a token-less document
    * yields 0 via the left join in the caller. Bit-identical to the
    * per-row UDF by construction. */
  def tokenCountsExploded(docs: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    val m = merges.toVector
    val lenUdf = udf((w: String) => encodeWord(w, m).length)
    docPieces(docs)
      .select(col("doc_id"), explode(split(col("p"), s"[${Tok.Ws}]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("doc_id"), (col("c") * lenUdf(col("w"))).as("subw"))
      .groupBy(col("doc_id"))
      .agg(sum(col("subw")).cast("int").as("n_bpe_tokens"))
  }

  /** Per-document `(doc_id, pi, p)` whitespace-snapped pieces,
    * redistributed so downstream per-piece kernels parallelize (the
    * [[wordStream]] giant discipline, doc-keyed). */
  private def docPieces(docs: DataFrame): DataFrame = {
    val pieceUdf = udf((t: String) => Tok.wsPieces(t, PieceChars))
    val nsp = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(col("doc_id"), posexplode(pieceUdf(col("text"))).as(Seq("pi", "p")))
      .repartition(nsp, col("doc_id"), col("pi"))
  }

  /** Per-GIANT-document `(doc_id, n_bpe_tokens, n_regex_tokens)` over
    * ONE shared piece fan-out: the r14 row-skew harness put
    * q_bpe_tokens' 50 MB giant at 11.3 s — the residual after the
    * word-exploded encode was two SERIAL single-task passes over the
    * giant (`split` building the 7 M-word array for the explode, and
    * the full-text `regexp_extract_all` token count), not the merge
    * loop. Both now run per piece after a redistribute: words explode
    * piece-parallel into the distinct-(doc, word) reduce, and the
    * regex count sums per-piece counts (a token never spans a cut
    * whose previous char is whitespace — [[Tok.wsPieces]]), so both
    * numbers are bit-identical to the per-row forms. The piece frame
    * persists: two consumers, one fan-out. */
  def giantSignals(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val m = merges.toVector
    val lenUdf = udf((w: String) => encodeWord(w, m).length)
    val pieces = graft.io.Caches.persistTracked(docPieces(docs), "bpe.pieces")
    val regexC = pieces.groupBy(col("doc_id"))
      .agg(sum(Tok.tokenCount(col("p"))).cast("int").as("n_regex_tokens"))
    val bpeC = pieces
      .select(col("doc_id"), explode(split(col("p"), s"[${Tok.Ws}]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("doc_id"), (col("c") * lenUdf(col("w"))).as("subw"))
      .groupBy(col("doc_id"))
      .agg(sum(col("subw")).cast("int").as("n_bpe_tokens"))
    regexC.join(bpeC, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bpe_tokens"), lit(0)).as("n_bpe_tokens"),
        col("n_regex_tokens"))
  }
}

package graft.text

import org.scalatest.funsuite.AnyFunSuite

class BpeLiteSpec extends AnyFunSuite {

  test("golden: exact merge sequence + encodings on the classic low/lower/lowest vocab") {
    // hand-derived: (l,o) and (o,w) tie at 10 → lexicographic (l,o);
    // then (lo,w)=10, (low,e)=5; (lowe,s) and (s,t) tie at 3 →
    // "lowe" < "s"; then (lowes,t)=3, finally (lowe,r)=2
    val vocab = Map("low" -> 5L, "lower" -> 2L, "lowest" -> 3L)
    val merges = BpeLite.train(vocab, 6)
    assert(merges == Vector(
      "l" -> "o", "lo" -> "w", "low" -> "e",
      "lowe" -> "s", "lowes" -> "t", "lowe" -> "r"))
    assert(BpeLite.encodeWord("low", merges) == Vector("low"))
    assert(BpeLite.encodeWord("lower", merges) == Vector("lower"))
    assert(BpeLite.encodeWord("lowest", merges) == Vector("lowest"))
    // out-of-vocab word reuses learned subwords: s + lower
    assert(BpeLite.encodeWord("slower", merges) == Vector("s", "lower"))
    // vocabulary exhausts after 6 merges — extra budget changes nothing
    assert(BpeLite.train(vocab, 100) == merges)
  }

  /** Driver-side simulation of one batched training run — the same
    * pair counting `train` does, the same top-K ordering `pairTopK`
    * produces, and the SAME [[BpeLite.safePrefix]] acceptance the
    * distributed trainer applies. Lets the acceptance rule be
    * property-tested against serial `train` over hundreds of
    * adversarial vocabularies without paying a Spark job per round. */
  private def batchedSim(vocab: Map[String, Long], numMerges: Int,
      batchK: Int): Vector[BpeLite.Merge] = {
    var words: Map[Vector[String], Long] = vocab.map {
      case (w, c) => BpeLite.codePointSyms(w) -> c
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val merges = Vector.newBuilder[BpeLite.Merge]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map[BpeLite.Merge, Long]()
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) =>
            val k = (a, b); pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
          case _ =>
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val top = pairCounts.toArray
          .map { case ((a, b), c) => (a, b, c) }
          .sortWith { case ((a1, b1, c1), (a2, b2, c2)) =>
            if (c1 != c2) c1 > c2
            else if (a1 != a2) BpeLite.utf8Ordering.lt(a1, a2)
            else BpeLite.utf8Ordering.lt(b1, b2)
          }
          .take(batchK)
        val accepted = BpeLite.safePrefix(top,
          truncated = top.length >= batchK, numMerges - i)
        merges ++= accepted
        i += accepted.length
        accepted.foreach { m =>
          words = words.map { case (syms, c) =>
            BpeLite.applyMerge(syms, m) -> c
          }.groupMapReduce(_._1)(_._2)(_ + _)
        }
      }
    }
    merges.result()
  }

  test("batched safePrefix == serial train on adversarial vocabularies (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tiny alphabet → dense ties, self-pairs (aa / bb runs), chains
    // (abab), and offspring collisions — exactly the cases the
    // acceptance rule must refuse or get bit-right
    val word = Gen.chooseNum(1, 6)
      .flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
    val vocabGen = for {
      n <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(n, Gen.zip(word, Gen.chooseNum(1L, 9L)))
    } yield ws.toMap
    val prop = Prop.forAll(vocabGen, Gen.chooseNum(1, 8),
        Gen.oneOf(1, 2, 3, 8, 32)) { (vocab, nm, k) =>
      batchedSim(vocab, nm, k) == BpeLite.train(vocab, nm)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  test("batched safePrefix: known divergence traps stay serial-identical") {
    // (1) offspring ties the next candidate and wins the tie-break:
    // serial merges (a,x) then (ax,z); a naive batch would take (w,w)
    for (k <- Seq(2, 3, 4, 16)) {
      val vocab = Map("axz" -> 5L, "ax" -> 5L, "ww" -> 5L)
      assert(batchedSim(vocab, 3, k) == BpeLite.train(vocab, 3),
        s"offspring-tie trap diverged at batchK=$k")
      // (2) self-pair offspring bounded by the accepted pair itself:
      // serial merges (a,a) then (aa,aa); (w,w) must wait
      val selfy = Map("aaaa" -> 2L, "ww" -> 4L, "wz" -> 1L)
      assert(batchedSim(selfy, 3, k) == BpeLite.train(selfy, 3),
        s"self-pair trap diverged at batchK=$k")
    }
  }

  test("training merges the most frequent pair first, ties lexicographic") {
    val merges = BpeLite.train(Map("aaab" -> 10L, "aab" -> 5L), 1)
    assert(merges == Vector(("a", "a"))) // "aa" dominates
  }

  test("encoding is deterministic and concatenates back to the word") {
    val merges = BpeLite.train(
      Map("sparkly" -> 5L, "spark" -> 20L, "sparse" -> 8L), 6)
    val toks = BpeLite.encodeWord("sparkling", merges)
    assert(toks.mkString == "sparkling")
    assert(toks == BpeLite.encodeWord("sparkling", merges))
  }

  test("merges reduce token counts on in-domain text") {
    val corpus = Map("table" -> 50L, "stable" -> 30L, "tablet" -> 20L)
    val merges = BpeLite.train(corpus, 8)
    val before = "table".length
    val after = BpeLite.encodeWord("table", merges).length
    assert(after < before)
  }

  test("whitespace text splits per word; empty/null safe") {
    val merges = BpeLite.train(Map("ab" -> 2L), 1)
    assert(BpeLite.encode("ab ab", merges) == Vector("ab", "ab"))
    assert(BpeLite.encode("", merges).isEmpty)
    assert(BpeLite.encode(null, merges).isEmpty)
  }

  test("train is insensitive to map iteration order (determinism)") {
    val c1 = Map("hello" -> 3L, "help" -> 3L, "held" -> 3L)
    val c2 = scala.collection.immutable.ListMap(c1.toSeq.reverse: _*).toMap
    assert(BpeLite.train(c1, 5) == BpeLite.train(c2, 5))
  }

  test("trainDistributed == driver train on the full vocabulary (real corpus)") {
    val spark = graft.SparkTestBase.spark
    val docs = spark.read.parquet(graft.SparkTestBase.sf + "/documents.parquet")
    val distributed = BpeLite.trainDistributed(docs, numMerges = 8)
    val driver = BpeLite.train(
      BpeLite.wordCounts(docs, topN = 1 << 20), numMerges = 8)
    assert(distributed == driver)
    assert(distributed.length == 8)
  }

  test("trainDistributed == driver train on non-BMP text (code-point symbols, UTF-8 ties)") {
    // supplementary-plane stress: emoji words shear into surrogate
    // halves under a UTF-16 split, and Java String order disagrees
    // with UTF-8 byte order between U+E000..U+FFFF and U+10000+ —
    // both trainers must split by code point and tie-break in UTF-8
    // byte order to produce one merge sequence
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val e = "😀" // U+1F600 emoji (supplementary plane)
    val g = "𝄞" // U+1D11E musical clef (supplementary plane)
    val f = "ﬀ"       // U+FB00 ff-ligature (BMP, sorts ABOVE the
                           // supplementary chars in UTF-16 units but
                           // BELOW them in UTF-8 bytes / code points)
    val docs = Seq(
      s"$e${e}a a$e $f$e",
      s"$e${e}a ${f}z ${g}z z${e}a",
      s"$e$e $g$f z${e}a").toDF("text")
    val d = BpeLite.trainDistributed(docs, numMerges = 6)
    val t = BpeLite.train(BpeLite.wordCounts(docs), numMerges = 6)
    assert(d == t)
    // symbols are whole code points: encoding an emoji word yields
    // concatenable, well-formed tokens (no lone surrogates — a lone
    // surrogate would not survive a UTF-8 round-trip)
    val toks = BpeLite.encodeWord(s"${e}z$e", d)
    assert(toks.mkString == s"${e}z$e")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    assert(toks.forall(s => new String(s.getBytes(utf8), utf8) == s))
  }

  test("trainDistributed folds pending merges without changing the sequence") {
    // foldEvery=1 (fold after every round) and foldEvery=100 (never
    // fold) must produce the exact same merges as the driver trainer
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val docs = Seq("low low lower", "low lowest wide wider").toDF("text")
    val t = BpeLite.train(BpeLite.wordCounts(docs), numMerges = 7)
    assert(BpeLite.trainDistributed(docs, numMerges = 7, foldEvery = 1) == t)
    assert(BpeLite.trainDistributed(docs, numMerges = 7, foldEvery = 100) == t)
  }

  test("trainDistributed stops early when the vocabulary exhausts, matching train") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val docs = Seq("low low lower", "low lowest").toDF("text")
    val d = BpeLite.trainDistributed(docs, numMerges = 100)
    val t = BpeLite.train(BpeLite.wordCounts(docs), numMerges = 100)
    assert(d == t)
    assert(d.nonEmpty && d.length < 100) // merged to whole words, stopped
  }

  test("training plan never materializes the vocabulary on the driver (no LocalRelation)") {
    val spark = graft.SparkTestBase.spark
    val docs = spark.read.parquet(graft.SparkTestBase.sf + "/documents.parquet")
    val words = BpeLite.wordFrame(docs, "text")
    // round 3's argmax frame: vocabulary flows parquet scan → agg →
    // re-merge UDF → pair explode → agg → single-row limit; a driver
    // round-trip would surface as a LocalRelation/LocalTableScan leaf
    val round = BpeLite.pairArgmax(words, Vector("t" -> "h", "e" -> "r"))
    val leaves = round.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      assert(!leaf.getClass.getSimpleName.contains("LocalRelation"),
        s"vocabulary-sized local leaf in training plan: $leaf")
    }
    // and the argmax really is a single row
    assert(round.count() == 1)
  }

  test("wordCounts refuses an unbounded driver collect") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val docs = Seq("a b").toDF("text")
    intercept[IllegalArgumentException] {
      BpeLite.wordCounts(docs, topN = Int.MaxValue)
    }
  }
}

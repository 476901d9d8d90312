package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Tiny-scale self-test of the harness, run by perfbench/test_harness.py:
  * the same seed gives byte-identical parquet and the same query
  * stream, and each workload's output check rejects a corrupted
  * result (a dropped hit, a cited text the store does not hold, two
  * canonical documents in a cluster, an index missing a row). Prints
  * one line per failed expectation and exits non-zero if there is
  * any. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) failures += what

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def args(w: String, seed: Long, sub: String) =
        Main.Args(workload = w, seed = seed, docs = 40, dir = s"$dir/$sub")

      // inputs: same seed, same bytes; another seed, other bytes
      def digest(sub: String): Seq[String] = {
        val root = java.nio.file.Paths.get(dir, sub, "documents.parquet")
        val s = java.nio.file.Files.list(root)
        try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString)
          .sorted
        finally s.close()
      }
      new Ingest(spark, args("ingest", 7, "a")).writeCorpus()
      new Ingest(spark, args("ingest", 7, "b")).writeCorpus()
      new Ingest(spark, args("ingest", 8, "c")).writeCorpus()
      expect(digest("a").nonEmpty && digest("a") == digest("b"),
        "same seed wrote different parquet")
      expect(digest("a") != digest("c"), "different seeds wrote the same parquet")
      expect((0 until 50).map(Corpus.query(7, _)) == (0 until 50).map(Corpus.query(7, _)),
        "same seed gave different queries")
      expect((0 until 50).map(Corpus.query(7, _)) != (0 until 50).map(Corpus.query(8, _)),
        "different seeds gave the same queries")
      val c = Corpus.generate(7, 40)
      expect(c.exactCopies.size == 2 && c.nearCopies.size == 4,
        s"injected ${c.exactCopies.size} exact / ${c.nearCopies.size} near copies, want 2 / 4")
      expect(c.exactCopies.forall { case (d, b) => d > b &&
          c.docs(d.toInt).text == c.docs(b.toInt).text },
        "an exact copy is not a later verbatim copy of its base")
      expect(c.nearCopies.forall { case (d, b) => d > b &&
          c.docs(d.toInt).text != c.docs(b.toInt).text },
        "a near copy is not a later edited copy of its base")

      // checks pass on real outputs and fail on corrupted ones
      val serve = new Serve(spark, args("serve", 7, "serve"))
      serve.writeCorpus(); serve.setup(); serve.op(0)
      expect(serve.check(1)._1 == 0, "serve check failed on a real request")
      val hits = serve.contexts(0)
      serve.contexts(0) = hits.drop(1)
      expect(serve.check(1)._1 == 1, "serve check passed a request with a dropped hit")
      serve.contexts(0) = hits.updated(0, hits(0).copy(text = hits(0).text + " stale"))
      expect(serve.check(1)._1 == 1, "serve check passed a hit citing text not in the store")

      val ingest = new Ingest(spark, args("ingest", 7, "ingest"))
      ingest.writeCorpus(); ingest.op(0)
      expect(ingest.check(1)._1 == 0, "ingest check failed on a real ingest")
      val real = ingest.curated(0)
      ingest.curated(0) = real.map { case (d, cl, _) => (d, cl, true) }
      expect(ingest.check(1)._1 == 1, "ingest check passed two canonical docs per cluster")
      ingest.curated(0) = real
      val (surv, disk, bm) = ingest.built(0)
      ingest.built(0) = (surv, disk.filter(col("vec_id") =!= 0L), bm)
      expect(ingest.check(1)._1 == 1, "ingest check passed an index missing a row")
    } finally spark.stop()

    failures.foreach(f => println(s"FAIL $f"))
    if (failures.nonEmpty) sys.exit(1)
    println("SELFTEST OK")
  }
}

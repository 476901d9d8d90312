package graft.dedup

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Near-dup resolution: components must close transitively over
  * candidate pairs and pick one canonical keeper per cluster. */
class ClustersSpec extends AnyFunSuite with SparkTestBase {

  test("components close transitively; chains collapse to one cluster") {
    import spark.implicits._
    // two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val comp = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L),
      "a-b, b-c, c-d must be ONE component even though (a,d) never paired")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
  }

  test("canonicalize keeps the longest doc, doc_id tiebreak, sizes right") {
    import spark.implicits._
    val docs = Seq((1L, 100L), (2L, 300L), (3L, 300L), (4L, 50L), (9L, 10L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Clusters.canonicalize(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // singleton 9 not emitted
    assert(out.values.forall { case (cid, size, _) => cid == 1L && size == 4 })
    // longest is 300 shared by docs 2 and 3 -> smaller doc_id wins
    assert(out(2L)._3 && !out(1L)._3 && !out(3L)._3 && !out(4L)._3)
  }

  test("property: random graphs — components match an in-test BFS reference") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(1, 25) // edge count
      es <- Gen.listOfN(n, for {
        a <- Gen.chooseNum(1L, 30L); b <- Gen.chooseNum(1L, 30L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    def bfsComponents(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = (es ++ es.map(_.swap)).groupMap(_._1)(_._2)
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!seen.contains(start)) {
          val queue = scala.collection.mutable.Queue(start)
          val members = scala.collection.mutable.Buffer.empty[Long]
          while (queue.nonEmpty) {
            val x = queue.dequeue()
            if (!seen.contains(x)) {
              seen(x) = -1; members += x
              adj.getOrElse(x, Nil).foreach(queue.enqueue)
            }
          }
          val label = members.min
          members.foreach(m => seen(m) = label)
        }
      }
      seen.toMap
    }
    val prop = Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val got = Clusters.connectedComponents(es.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == bfsComponents(es)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("distributed propagation matches driver union-find, any partition layout") {
    import spark.implicits._
    val pairs = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b") // one long chain: worst-case diameter
    // threshold 0 forces the distributed O(log diameter) loop
    val dist = Clusters.connectedComponents(pairs.repartition(13),
        smallGraphThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val drv = Clusters.connectedComponents(pairs.repartition(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(dist == drv, "both strategies must reach the same fixpoint")
    assert(dist.forall(_._2 == 1L), "whole chain is one component")
  }

  test("local checkpoint rounds: superseded rounds released, the returned map outlives later calls and clearAll") {
    import spark.implicits._
    val chain = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    // threshold 0 forces the distributed loop: one localCheckpoint per
    // round, each superseded round unpersisted once the next lands
    val held = Clusters.connectedComponents(chain, smallGraphThreshold = 0)
    val added = persisted -- before
    assert(added.size <= 1,
      s"only the final round may stay persisted; added RDDs ${added.toSeq.sorted}")
    // nothing releases a map a caller still holds: later resolutions
    // and the batch-boundary clear leave its backing alone
    (1 to 17).foreach { i =>
      Clusters.connectedComponents(
        Seq((100L * i, 100L * i + 1)).toDF("doc_a", "doc_b"),
        smallGraphThreshold = 0).count()
    }
    graft.io.Caches.clearAll(spark)
    val got = held.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("reliable-checkpoint toggle: distributed path converges and writes durably") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ccp").toString
    spark.conf.set(Clusters.CheckpointDirConf, dir)
    try {
      val pairs = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("doc_a", "doc_b")
      val got = Clusters.connectedComponents(pairs.repartition(7),
          smallGraphThreshold = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got.forall(_._2 == 1L))
      // the rounds really landed durably, AND superseded rounds were
      // cleaned up: exactly one labels-* dir (the final round) remains
      // under this call's cc-* run dir
      val runDirs = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("cc-"))
      assert(runDirs.length == 1, s"expected one cc-* run dir in $dir")
      val labelDirs = Option(runDirs.head.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("labels-"))
      assert(labelDirs.length == 1,
        s"superseded rounds must be deleted; found ${labelDirs.map(_.getName).toSeq}")
      assert(labelDirs.head.listFiles().exists(_.getName.endsWith(".parquet")))
    } finally {
      spark.conf.unset(Clusters.CheckpointDirConf)
      // the spec owns its temp dir — remove it entirely
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}

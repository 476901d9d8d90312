package graft.dedup

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate RESOLUTION: candidate pairs → connected components
  * → one canonical document per duplicate cluster.
  *
  * The candidate generators ([[Dedup.minhashCandidates]],
  * [[Dedup.simhashCandidates]], the LSH paths) emit PAIRS; a training
  * pipeline must turn pairs into clusters and a keep/drop decision —
  * transitively: if a~b and b~c, all three are one duplicate group
  * even when (a,c) never collided in a band.
  *
  * Components via iterative min-label propagation WITH pointer
  * jumping: each round every node adopts the minimum label among
  * itself and its neighbors (equi-join + groupBy-min), then
  * additionally its label's label (a second self-join) — the
  * shortcut halves label-chain lengths, so rounds are O(log
  * diameter) even on pathological path-shaped dup graphs, not
  * O(diameter). Each round is plain shuffle work that AQE sizes like
  * any aggregation. Driver state per round is ONE boolean (did any
  * label change); each round's labels are localCheckpoint'ed to
  * truncate lineage — without that the plan tree doubles per
  * iteration. On a cluster, set [[Clusters.CheckpointDirConf]] to a
  * reliable directory and every round checkpoints durably instead —
  * the algorithm is unchanged.
  *
  * Labels are minima of doc ids — deterministic for any partition
  * layout, so the operator stays byte-stable across machines.
  */
object Clusters {

  /** Set this conf to a reliable (HDFS / object-store) path to make
    * each propagation round land durably instead of executor-locally —
    * the cluster-grade toggle for long runs where executor loss would
    * otherwise kill the truncated lineage. Superseded rounds are
    * deleted as they are replaced; one final tiny (node, comp)
    * parquet per call remains under `<dir>/cc-<uuid>` because it
    * backs the returned frame. Unset (the default) keeps
    * `localCheckpoint`: right for local[] and short-lived jobs, and
    * the algorithm is identical either way. */
  val CheckpointDirConf = "spark.graft.clusters.checkpointDir"

  /** Per-round lineage truncation state for one connectedComponents
    * call. Each round supersedes the previous one, which is released
    * as soon as the next round lands. Local mode unpersists the
    * superseded `localCheckpoint` blocks (otherwise only Spark's
    * GC-driven cleaner would reclaim them). Reliable mode writes a
    * unique subdir under the configured checkpoint root and deletes
    * the superseded round's parquet (Spark's `Dataset.checkpoint`
    * would leave every round's files behind — reliable checkpoints are
    * only cleaned under an opt-in cleaner conf). Only the FINAL round
    * remains: it backs the returned frame, so it must outlive the
    * call; the caller owns the configured directory's lifecycle. */
  private final class Truncator(spark: org.apache.spark.sql.SparkSession) {
    private val root = spark.conf.get(CheckpointDirConf, "")
    private val runDir =
      if (root.isEmpty) "" else s"$root/cc-${java.util.UUID.randomUUID()}"
    private var round = 0
    private var localBacking = Seq.empty[org.apache.spark.rdd.RDD[_]]

    def apply(df: DataFrame): DataFrame =
      if (root.isEmpty) {
        // eager: the new round is materialized and its lineage cut
        // before the superseded round's blocks are dropped
        val cp = df.localCheckpoint()
        localBacking.foreach(_.unpersist(blocking = false))
        localBacking = cp.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }
        cp
      } else {
        val path = s"$runDir/labels-$round"
        if (round == 0)
          // surface the retained path: the final round's parquet backs
          // the returned frame, so this dir outlives the call — the
          // operator of a long-lived job cleans consumed run dirs
          org.apache.log4j.Logger.getLogger("graft.Clusters").info(
            s"reliable checkpoint run dir: $runDir " +
              "(final labels parquet remains after the call; delete when consumed)")
        df.write.mode("overwrite").parquet(path)
        if (round > 0) delete(s"$runDir/labels-${round - 1}")
        round += 1
        spark.read.parquet(path)
      }

    private def delete(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  /** `pairs` must have two id columns (`doc_a`, `doc_b`). Returns
    * (node, comp): every doc that appears in some pair, labeled with
    * the smallest doc id reachable from it. Docs in no pair are
    * singletons — absent here by construction; callers join back to
    * the corpus (see [[canonicalize]]).
    *
    * Size-adaptive, like a broadcast-join threshold: candidate-pair
    * graphs are tiny relative to the corpus (pairs exist only where
    * near-dups exist), so up to `smallGraphThreshold` pairs the
    * components come from ONE bounded collect + driver union-find —
    * replacing O(log diameter) shuffle rounds with a single job.
    * Above the threshold the distributed propagation loop runs; both
    * paths converge to the same min-label fixpoint, so the choice is
    * invisible in the output (and the oracle hash). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 40,
      smallGraphThreshold: Long = 1L << 18): DataFrame = {
    // both union branches and every iteration read the pairs; without
    // this persist the candidate GENERATOR (minhash/simhash pipeline)
    // executes once per branch. MEMORY_AND_DISK: candidate volume is
    // bounded by near-dup cluster sizes, and it spills, not OOMs.
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (p.count() <= smallGraphThreshold) return driverUnionFind(p)
    val edges = p.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(p.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .persist()
    val truncate = new Truncator(pairs.sparkSession)
    var labels = truncate(edges.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nbrMin = edges.join(labels, edges("b") === labels("node"))
        .groupBy(col("a")).agg(F.min(col("comp")).as("nbr_comp"))
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("a"), "left")
        .select(col("node"), col("comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp1"))
      // pointer jumping: also adopt your LABEL's label. A label is the
      // min id seen so far — itself a node of the same component — so
      // the shortcut stays inside the component while halving label-
      // chain lengths: rounds become O(log diameter), which is what
      // saves a pathological path-shaped dup graph (neighbor
      // propagation alone needs diameter rounds).
      val jumped = truncate(stepped.as("l")
        .join(stepped.select(col("node").as("pnode"), col("comp1").as("pcomp")).as("p"),
          col("l.comp1") === col("p.pnode"), "left")
        .select(col("l.node").as("node"), col("l.comp").as("comp"),
          least(col("l.comp1"), coalesce(col("pcomp"), col("l.comp1"))).as("comp2")))
      converged = jumped.filter(col("comp2") < col("comp")).isEmpty
      labels = jumped.select(col("node"), col("comp2").as("comp"))
      iter += 1
    }
    p.unpersist()
    edges.unpersist()
    // with pointer jumping, label-chain depth halves per round, so 40
    // rounds cover any graph this side of 2^40 nodes — hitting the cap
    // means something is wrong; wrong clusters must not leave silently
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Union-find with path compression over a collected pair list,
    * bounded by [[connectedComponents]]'s threshold: ≤2^18 pairs.
    * The real driver footprint is JVM rows + boxed hash-map entries,
    * roughly 100–300 bytes/pair — tens of MB at the cap, NOT the raw
    * 16 bytes/pair — which is why the threshold stops at 2^18.
    * Roots are resolved to each component's minimum member, so the
    * labels are identical to the distributed fixpoint and independent
    * of edge order. */
  private def driverUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.unpersist()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { n =>
      val r = find(n)
      minOfRoot.updateWith(r)(m => Some(math.min(m.getOrElse(n), n)))
    }
    parent.keys.toSeq.sorted
      .map(n => (n, minOfRoot(find(n))))
      .toDF("node", "comp")
  }

  /** Cluster the corpus by `pairs` and pick one canonical doc per
    * cluster: longest text wins, smallest doc_id breaks ties (the
    * usual "keep the best copy" rule — quality first, stable second).
    * Emits every doc of every multi-doc cluster with its cluster id,
    * size, and the keep flag. */
  def canonicalize(docs: DataFrame, pairs: DataFrame): DataFrame =
    canonicalizeComp(docs, connectedComponents(pairs))

  /** [[canonicalize]] over an already-resolved component map — for
    * callers that feed one map to several consumers. */
  def canonicalizeComp(docs: DataFrame, comp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
    val rank = Window.partitionBy(col("cluster_id"))
      .orderBy(desc("n_chars"), col("doc_id"))
    docs.join(comp, docs("doc_id") === comp("node")) // inner: clustered docs only
      .select(docs("doc_id"), col("comp").as("cluster_id"), docs("n_chars"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
      .withColumn("is_canonical", row_number().over(rank) === 1)
  }
}

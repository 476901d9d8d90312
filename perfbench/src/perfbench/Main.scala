package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dedup.{Clusters, Dedup}
import graft.io.Caches
import graft.pipeline.RagPipeline
import graft.text.Bm25
import graft.text.chunk.Chunker
import graft.vector.{HashingEmbedder, Ivf, VectorOps}

/** Benchmark JVM: one workload, one seed, one fresh SparkSession.
  *
  * Generates the corpus, writes it as parquet under the run directory,
  * sets up, then runs the workload's operation in a closed loop (one
  * client) for `--seconds` (a batch workload: once), timing each
  * operation. Output checks run after the loop, untimed. With
  * `--trace 1` it then runs a fixed number of operations twice:
  * untraced as the overhead baseline, then with a span around every
  * layer call, each call's output forced so its Spark jobs fall inside
  * its span. Writes one JSON result file; `perfbench/run.py` turns it
  * into metrics. */
object Main {
  val Strategy = "recursive"
  val Cells = RagPipeline.IndexedCells
  /** Queries the recall metric averages over. */
  val RecallQueries = 256
  /** Untimed serve requests between the index build and the timed
    * loop. Request latency falls while the JIT compiles the request
    * path: by half over these, then by another 10–15% over the next
    * dozen or so. The count is fixed, so every run's timed requests
    * sit at the same point of that curve. */
  val WarmupRequests = 12
  /** Operation index of the first traced operation (and of its
    * untraced baseline), clear of the timed loop's. */
  val TracedBase = 100000

  final case class Args(workload: String = "", seed: Long = 42,
      seconds: Double = 10, trace: Boolean = false, docs: Int = 0,
      out: String = "", dir: String = "")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--docs" :: v :: t => parse(t, a.copy(docs = v.toInt))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--dir" :: v :: t => parse(t, a.copy(dir = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.docs >= 10 && a.out.nonEmpty && a.dir.nonEmpty,
      "--docs >= 10, --out and --dir are required")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val w: Workload = a.workload match {
        case "ingest" => new Ingest(spark, a)
        case "serve" => new Serve(spark, a)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = w.run()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out),
        org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    } finally spark.stop()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Shared run skeleton: setup, the timed closed loop, untimed checks,
  * the optional traced repeat, and run-end cleanup. */
abstract class Workload(val spark: SparkSession, val a: Main.Args) {
  import Main._

  val emb = HashingEmbedder(64)
  val corpus: Corpus = Corpus.generate(a.seed, a.docs)

  /** Engine stages one operation runs (failed_share's denominator). */
  def stages: Int
  /** A batch job runs once per process: its one timed operation is the
    * process's first, JIT-cold, whatever `--seconds` says. */
  def batch: Boolean
  /** Operations repeated under the trace. */
  def tracedOps: Int
  def setup(): Unit
  /** One timed operation; keeps whatever the untimed checks need. */
  def op(i: Int): Unit
  /** Untimed checks over the kept outputs: (failed stages, errors,
    * quality). */
  def check(ops: Int): (Int, Seq[String], Double)
  def tracedOp(i: Int, t: Tracer): Map[String, Double]
  /** Traced operations whose output differs from the engine's, found
    * by `tracedOp`: the traced copy of an engine path has drifted from
    * it. */
  val tracedErrors = scala.collection.mutable.ArrayBuffer.empty[String]
  def extraResult: Map[String, Any] = Map.empty

  /** Read through the engine's own table reader, as its users do. */
  def docs: DataFrame = graft.io.Tables.documents(spark, a.dir)

  private val forced = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  /** Materialize a layer's output inside its span and keep it for the
    * next layer (released after the traced operation). */
  def force(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    forced += p
    p
  }
  def release(): Unit = {
    forced.foreach(_.unpersist(blocking = true)); forced.clear()
    Caches.clearAll(spark)
  }

  def writeCorpus(): Unit = {
    import spark.implicits._
    // one file whatever the core count, so the same seed writes the
    // same bytes and the reader spreads it the same way on every host
    spark.createDataset(corpus.docs).coalesce(1)
      .write.mode("overwrite").parquet(s"${a.dir}/documents.parquet")
  }

  private val t00 = System.nanoTime()
  def phase(name: String): Unit =
    System.err.println(f"perfbench phase $name%s at ${(System.nanoTime() - t00) / 1e9}%.2f s")

  def run(): Map[String, Any] = {
    phase("start")
    writeCorpus()
    phase("corpus")
    setup()
    release()
    phase("setup")
    val firstTimedMs = System.currentTimeMillis()
    val opMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var thrown = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val loop0 = System.nanoTime()
    while (opMs.isEmpty || (!batch && (System.nanoTime() - loop0) / 1e9 < a.seconds)) {
      val i = opMs.size
      val t0 = System.nanoTime()
      try op(i)
      catch {
        case e: Exception =>
          thrown += 1; errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      opMs += (System.nanoTime() - t0) / 1e6
      release()
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    phase("loop")
    val (checkFailed, checkErrors, quality) = check(opMs.size)
    errors ++= checkErrors
    release()
    phase("check")
    val traced = if (!a.trace) Map.empty[String, Any] else {
      // the untraced baseline for the overhead: the same operations,
      // now on a warm JVM like the traced ones
      val baseMs = (0 until tracedOps).map { i =>
        val t0 = System.nanoTime()
        try op(TracedBase + i) finally release()
        (System.nanoTime() - t0) / 1e6
      }
      val t = new Tracer(spark.sparkContext)
      val extras = (0 until tracedOps).map { i =>
        try tracedOp(TracedBase + i, t) finally release()
      }
      val spans = t.finish()
      // the traced ops call the build layers one by one with the keys
      // the engine uses, so its own ensure after them must be a hit
      tracedErrors ++= spans.collect {
        case (s, c) if s.name == "io.saved_index" && c.jobs > 0 =>
          s"traced op ${s.request}: io.saved_index launched ${c.jobs} jobs; " +
            "the traced build no longer matches RagPipeline.ensureIndexedServe"
      }
      errors ++= tracedErrors
      Map(
        "spans" -> spans.map { case (s, c) => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "request" -> s.request, "start_s" -> s.startNs / 1e9,
          "end_s" -> s.endNs / 1e9, "jobs" -> c.jobs, "tasks" -> c.tasks,
          "cpu_s" -> c.cpuNs / 1e9, "shuffle_bytes" -> c.shuffleBytes,
          "input_bytes" -> c.inputBytes, "spill_bytes" -> c.spillBytes) },
        "extras" -> extras.flatMap(_.keys).distinct.map(k =>
          k -> extras.flatMap(_.get(k)).sum / extras.count(_.contains(k))).toMap,
        "traced_ops" -> tracedOps, "baseline_ms" -> baseMs)
    }
    Caches.clearAll(spark)
    phase("traced")
    val attempted = (opMs.size + (if (a.trace) tracedOps else 0)) * stages
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "docs" -> a.docs,
      "first_timed_ms" -> firstTimedMs, "op_ms" -> opMs.toSeq,
      "loop_s" -> loopS, "attempted" -> attempted,
      "failed" -> math.min(attempted, thrown * stages + checkFailed + tracedErrors.size),
      "errors" -> errors.take(20).toSeq, "quality" -> quality,
      "input_bytes" -> corpus.textBytes,
      "persisted_after_run" -> spark.sparkContext.getPersistentRDDs.size,
      "peak_rss_mb" -> peakRssMb(),
      "cores" -> Runtime.getRuntime.availableProcessors,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version) ++ extraResult ++ traced
  }

  /** On-disk bytes of the saved index directory `df` was read from:
    * the path of each of its files up to `marker`. */
  def indexBytes(df: DataFrame, marker: String): Long = {
    val roots = df.inputFiles.toSeq.map { f =>
      val p = new java.net.URI(f).getPath
      p.substring(0, p.indexOf(marker))
    }.distinct
    roots.map { r =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(r))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }.sum
  }

  def queryFrame(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    emb.embed(texts.zipWithIndex.toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
  }

  /** Mean recall@5 of the saved hybrid serve from the index pair at
    * (`keyBase`, `epoch`) against the exact in-memory hybrid retrieval
    * (`RagPipeline.run(..., "hybrid")`) over the same store, on a fixed
    * batch of the seed's queries. Per-query results do not depend on
    * batching, so one batched call prices what single requests get. */
  def recallAt5(keyBase: String, epoch: Option[String]): Double = {
    def cited(df: DataFrame) = df.collect()
      .map(r => r.getInt(0) -> Checks.parseContext(r.getString(1))).toMap
    val texts = (0 until RecallQueries).map(j => Corpus.query(a.seed, 300000 + j))
    val served = cited(VectorOps.assembleContext(RagPipeline.hybridIndexedServe(
      spark, RagPipeline.buildStore(docs, Strategy, emb), queryFrame(texts),
      keyBase, epoch, Cells)))
    val exact = cited(RagPipeline.run(spark, docs, texts, Strategy, emb, "hybrid"))
    texts.indices.map(q =>
      Checks.recall(served.getOrElse(q, Nil), exact.getOrElse(q, Nil))).sum / texts.size
  }

  /** The (source, text) keys of a chunk frame's rows. */
  def chunkKeys(df: DataFrame): Set[String] =
    df.select("source", "text").collect()
      .map(r => Cited(0, r.getString(0), r.getString(1)).key).toSet
}

/** The write path, one batch job: curate the corpus (exact dedup →
  * MinHash candidates → connected components → one canonical document
  * per cluster), then chunk, embed and index the surviving documents
  * into a saved IVF + BM25 index pair under a new index identity. */
final class Ingest(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  import Main._
  def stages = 6
  def batch = true
  def tracedOps = 1
  /** Per operation: the canonical assignment (doc_id, cluster_id,
    * is_canonical), the surviving documents, and the loaded index pair. */
  private[perfbench] val curated = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, Boolean)]]
  private[perfbench] val built =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, DataFrame, Bm25.Bm25Index)]
  private var bytesRatio = 0.0

  private def keyBase(tag: String) =
    RagPipeline.indexedCacheKeyBase(s"perfbench-ingest-$tag", Strategy, emb, Cells)

  private def assignment(canonical: DataFrame): Seq[(Long, Long, Boolean)] =
    canonical.select(col("doc_id"), col("cluster_id"), col("is_canonical"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq

  /** The exact-deduplicated documents minus the non-canonical members
    * of near-duplicate clusters. */
  private def survivors(kept: DataFrame, assigned: Seq[(Long, Long, Boolean)]) =
    kept.filter(!col("doc_id").isin(assigned.filterNot(_._3).map(_._1): _*))

  def setup(): Unit = ()

  def op(i: Int): Unit = {
    val kept = Dedup.dropExactDuplicates(docs)
    val assigned = assignment(Clusters.canonicalizeComp(kept,
      Clusters.connectedComponents(Dedup.minhashCandidates(kept))))
    val surv = survivors(kept, assigned)
    val (disk, _, bm) = RagPipeline.ensureIndexedServe(spark,
      RagPipeline.buildStore(surv, Strategy, emb), keyBase(s"op$i"),
      Some(s"epoch-$i"), Cells)
    curated += assigned
    built += ((surv, disk, bm))
  }

  def check(ops: Int): (Int, Seq[String], Double) = {
    val kept = Dedup.dropExactDuplicates(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val all = corpus.docs.map(_.doc_id).toSet
    val errs = curated.indices.map { i =>
      val (surv, disk, bm) = built(i)
      Checks.curate(all, kept, corpus.exactCopies.keySet, curated(i)) ++
        Checks.ingest(RagPipeline.buildStore(surv, Strategy, emb).count(),
          disk.count(), bm.stats.select("n_docs").collect()(0).getDouble(0).toLong)
    }
    val recall = curated.map(c => Checks.dupRecall(corpus.nearCopies,
      c.map(x => x._1 -> x._2).toMap)).sum / curated.size
    val (_, disk, bm) = built.last
    bytesRatio = (indexBytes(disk, "/corpus/") +
      indexBytes(bm.postings, "/postings/")).toDouble / corpus.textBytes
    (errs.count(_.nonEmpty), errs.flatten, recall)
  }

  override def extraResult = Map("index_bytes_per_input_byte" -> bytesRatio)

  def tracedOp(i: Int, t: Tracer): Map[String, Double] = t.span("op", i) {
    val kept = t.span("dedup.exact", i)(force(Dedup.dropExactDuplicates(docs)))
    val pairs = t.span("dedup.minhash", i)(force(Dedup.minhashCandidates(kept)))
    val comp = t.span("dedup.components", i)(
      force(Clusters.connectedComponents(pairs)))
    val assigned = t.span("dedup.canonical", i)(
      assignment(Clusters.canonicalizeComp(kept, comp)))
    val surv = survivors(kept, assigned)
    val chunks = t.span("text.chunk", i)(force(Chunker(Strategy).chunk(surv)))
    t.span("vector.embed", i)(force(emb.embed(chunks)))
    val store = t.span("pipeline.store", i)(
      force(RagPipeline.buildStore(surv, Strategy, emb)))
    // the two builds RagPipeline.ensureIndexedServe composes, called
    // one by one with its keys so the final ensure below is a hit
    val base = keyBase(s"traced$i")
    val epoch = Some(s"traced-$i")
    val disk = t.span("vector.ivf_build", i) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("doc_id"), col("chunk_index"))
      val path = Ivf.ensureSavedBoundedIndex(
        graft.rel.PrefixSum.exclusivePrefixSum(
            store.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn"),
            col("id"), lit(1L), "vec_id")
          .select(col("vec_id"), col("source"), col("text"), col("embedding")),
        nCells = Cells, rounds = 2, cacheKey = s"ragpipeline-ivf/$base",
        epoch = epoch)
      Ivf.loadIndex(spark, path)._1
    }
    t.span("text.bm25_build", i) {
      Bm25.loadIndex(spark, Bm25.ensureSavedIndex(
        disk.select(col("vec_id").as("doc_id"), col("text")),
        s"ragpipeline-bm25/$base", epoch = epoch))
    }
    t.span("io.saved_index", i)(
      RagPipeline.ensureIndexedServe(spark, store, base, epoch, Cells))
    // a candidate pair is true when both documents descend from one
    // base document through injected near copies
    val family = corpus.docs.map(d => d.doc_id ->
      corpus.nearCopies.getOrElse(d.doc_id, d.doc_id)).toMap
    val cands = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Map("text.chunk.chunks_out" -> chunks.count().toDouble,
      "dedup.minhash.pair_precision" -> (if (cands.isEmpty) 0.0 else
        cands.count { case (x, y) => family(x) == family(y) }.toDouble / cands.length))
  }
}

/** Closed loop, one client: each request is one query through the
  * saved hybrid serve plus context assembly, against an index pair
  * built during setup at a fixed epoch. */
final class Serve(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  import Main._
  def stages = 1
  def batch = false
  def tracedOps = 4
  private val base =
    RagPipeline.indexedCacheKeyBase("perfbench-serve", Strategy, emb, Cells)
  private val epoch = Some("serve-epoch")
  /** Each request's cited hits, by operation index. */
  private[perfbench] val contexts = scala.collection.mutable.LinkedHashMap.empty[Int, Seq[Cited]]
  private var ivfBytes = 0L
  private var bm25Bytes = 0L
  // computed by the untimed check, once
  private lazy val keys = chunkKeys(store)
  private lazy val recall = recallAt5(base, epoch)

  private def store = RagPipeline.buildStore(docs, Strategy, emb)

  private def cited(context: Array[org.apache.spark.sql.Row]): Seq[Cited] =
    context.headOption.map(r => Checks.parseContext(r.getString(1))).getOrElse(Nil)

  private def request(q: String): Seq[Cited] =
    cited(VectorOps.assembleContext(RagPipeline.hybridIndexedServe(spark, store,
      queryFrame(Seq(q)), base, epoch, Cells)).collect())

  def setup(): Unit = {
    val (disk, _, bm) = RagPipeline.ensureIndexedServe(spark, store, base, epoch, Cells)
    ivfBytes = indexBytes(disk, "/corpus/")
    bm25Bytes = indexBytes(bm.postings, "/postings/")
    (0 until WarmupRequests).foreach(j => request(Corpus.query(a.seed, 200000 + j)))
  }

  def op(i: Int): Unit = contexts(i) = request(Corpus.query(a.seed, i))

  def check(ops: Int): (Int, Seq[String], Double) = {
    val errs = contexts.values.toSeq.map(c => Checks.serve(c, RagPipeline.TopK, keys))
    (errs.count(_.nonEmpty), errs.flatten, recall)
  }

  override def extraResult = Map("index_bytes_per_input_byte" ->
    (ivfBytes + bm25Bytes).toDouble / corpus.textBytes)

  def tracedOp(i: Int, t: Tracer): Map[String, Double] = t.span("request", i) {
    val queries = queryFrame(Seq(Corpus.query(a.seed, i)))
    val (disk, cents, bm) = t.span("io.saved_index", i)(
      RagPipeline.ensureIndexedServe(spark, store, base, epoch, Cells))
    // hybridIndexedServe's steps, one span each
    val dense = t.span("vector.ivf_serve", i)(force(
      Ivf.topKIndexed(disk, cents,
          queries.select(col("query_id"), col("q_embedding")),
          RagPipeline.TopK * 2, nProbe = RagPipeline.IndexedProbe)
        .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))))
    val lex = t.span("text.bm25_serve", i)(force(
      Bm25.topKIndexed(bm,
          queries.select(col("query_id"), col("query_text").as("qtext")),
          RagPipeline.TopK * 2)
        .select(col("query_id"), col("rank"), col("doc_id"))))
    val topk = t.span("text.rrf_fuse", i) {
      val fused = force(Bm25.rrfFuse(dense, lex, RagPipeline.TopK))
      val hitIds = fused.select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSeq
      force(fused.withColumnRenamed("doc_id", "vec_id")
        .join(disk.filter(col("vec_id").isin(hitIds: _*))
          .select(col("vec_id"), col("source"), col("text")), "vec_id")
        .select(col("query_id"), col("rank"), col("source"), col("text")))
    }
    val ctx = t.span("vector.context", i)(
      VectorOps.assembleContext(topk).collect())
    // the untraced baseline ran the same query through the engine
    if (!contexts.get(i).contains(cited(ctx)))
      tracedErrors += s"traced request $i cites other hits than " +
        "RagPipeline.hybridIndexedServe for the same query"
    Map("vector.context.result_kb" ->
      ctx.map(_.getString(1).getBytes("UTF-8").length).sum / 1024.0,
      "index.ivf_bytes" -> ivfBytes.toDouble,
      "index.bm25_bytes" -> bm25Bytes.toDouble)
  }
}

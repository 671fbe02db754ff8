package graftbench

import java.nio.file.{Files, Path => JPath}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{Bpe, TextFunctions}
import graft.operators.{MinHashIndex, Similarity}
import graft.sources.PqRepo
import graft.streaming.StreamToRepo

/** Incremental ingest into persisted indexes: a Structured Streaming query
  * drains staged files one per micro-batch, normalizing and scoring each
  * batch, gating it against the MinHash index, appending survivors to both
  * indexes, landing them with their token counts, and searching the IVF
  * index it just wrote. One closed-loop client: the next file is staged
  * only after the previous batch commits. Compute is tiny; job, listing
  * and footer overhead dominate. */
object StreamIngest {
  val Spans: Seq[String] = Seq("streaming.batch", "functions.TextFunctions",
    "operators.MinHashIndex.dropNearKnown", "operators.MinHashIndex.append",
    "operators.Similarity.appendToIvfIndex", "functions.Bpe.tokenCount",
    "streaming.StreamToRepo.mergeSink", "operators.Similarity.ivfSearch")
}

final class StreamIngest(spark: SparkSession, seed: Long, cores: Int,
    inputs: JPath, runDir: JPath) extends Workload with AutoCloseable {
  import Main.{listing, createdBytes, median}

  private val baseDocs = 8000L
  private val fresh = 86
  private val exactDups = 7
  private val nearDups = 7
  private val batchDocs = fresh + exactDups + nearDups
  private val stagedBatches = 24
  private val queries = 32
  private val centroids = 16
  private val dim = 64
  private val wordsPerDoc = 60
  private val vocabSize = 5000
  private val FirstBatchId = 2000000L
  val sizes: Map[String, Long] = Map("base_docs" -> baseDocs, "batch_docs" -> batchDocs.toLong,
    "fresh_per_batch" -> fresh.toLong, "exact_dups_per_batch" -> exactDups.toLong,
    "near_dups_per_batch" -> nearDups.toLong, "staged_batches" -> stagedBatches.toLong,
    "queries" -> queries.toLong, "centroids" -> centroids.toLong, "dim" -> dim.toLong)

  private lazy val in: Map[String, DataFrame] = Gen.cached(spark, inputs,
    s"stream_ingest-g${Gen.Version}-s$seed-n$baseDocs-b$fresh-$exactDups-$nearDups-k$stagedBatches" +
      s"-q$queries-w$wordsPerDoc-v$vocabSize-d$dim",
    Seq("base", "queries", "batches"), Map("batches" -> "batch"))(generate())

  /** Batch `b` holds ids FirstBatchId + 1000·b + j: fresh docs for
    * j < fresh, then byte-identical copies of base docs, then base docs
    * with one word replaced — the planted duplicates the gate must drop. */
  private def generate(): Map[String, DataFrame] = {
    val v = new Gen.Vocab(seed, vocabSize)
    val r = new SplittableRandom(seed)
    val words = Array.fill(baseDocs.toInt)(v.doc(r, wordsPerDoc))
    val base = words.indices.map(i => Row(i + 1L, Gen.render(words(i)), Gen.unit(r, dim).toSeq))
    val qs = (1 to queries).map(i => Row(-i.toLong, null, Gen.unit(r, dim).toSeq))
    val batches = for (b <- 0 until stagedBatches; j <- 0 until batchDocs) yield {
      val id = FirstBatchId + 1000L * b + j
      if (j < fresh) Row(id, Gen.render(v.doc(r, wordsPerDoc)), Gen.unit(r, dim).toSeq, b)
      else {
        val o = r.nextInt(baseDocs.toInt)
        val text = if (j < fresh + exactDups) Gen.render(words(o))
          else Gen.render(Gen.nearCopy(v, r, words(o), 1))
        Row(id, text, Gen.unit(r, dim).toSeq, b)
      }
    }
    // written partitioned by batch with each batch in one task: one parquet
    // file per batch, which the client stages whole
    Map("base" -> Gen.docs(spark, base, cores), "queries" -> Gen.docs(spark, qs, 1),
      "batches" -> spark.createDataFrame(spark.sparkContext.parallelize(batches, cores),
        Gen.DocSchema.add("batch", "int")).repartition(col("batch")))
  }

  private def isFresh(id: org.apache.spark.sql.Column) =
    id >= FirstBatchId && pmod(id - FirstBatchId, lit(1000L)) < fresh

  private var nsDir: JPath = _
  private var repoDir: JPath = _
  private var staging: JPath = _
  @volatile private var repo: PqRepo = _
  @volatile private var current: Run = _
  private var query: StreamingQuery = _
  private var nextBatch = 0
  private var queryDf: DataFrame = _
  private val batchFiles = scala.collection.mutable.ArrayBuffer.empty[JPath]

  def setup(ns: Int): Unit = {
    nsDir = runDir.resolve(s"stream$ns")
    repoDir = nsDir.resolve("repo")
    staging = nsDir.resolve("staging")
    Files.createDirectories(repoDir)
    Files.createDirectories(staging)
    repo = PqRepo(spark, repoDir.toString)
    val base = in("base")
    MinHashIndex.write(repo, base, "id", "text", "st", "mh")
    Similarity.writeIvfIndex(repo,
      Similarity.ivfBuild(base, "id", "emb", numCentroids = centroids), "st", "vec")
    queryDf = in("queries").select("id", "emb").localCheckpoint(eager = true)
    if (batchFiles.isEmpty)
      batchFiles ++= in("batches").inputFiles.map(f => java.nio.file.Paths.get(new java.net.URI(f)))
        .sortBy(_.getParent.getFileName.toString.stripPrefix("batch=").toInt)
  }

  private val enc = Bpe.planted

  /** One micro-batch: normalize and score, gate, append to both indexes,
    * count tokens, land, search. Generated prose is already normalized, so
    * the gate compares against base texts indexed as generated. */
  private def onBatch(batch: DataFrame, batchId: Long): Unit = {
    val run = current
    run.call("streaming.batch", "onbatch_ms") {
      val scored = run.call("functions.TextFunctions")(
        batch.withColumn("text", TextFunctions.normalizeText(col("text")))
          .withColumn("quality", TextFunctions.qualityScore(col("text")))
          .localCheckpoint(eager = true))
      val survivors = run.call("operators.MinHashIndex.dropNearKnown")(
        MinHashIndex.dropNearKnown(repo, scored, "id", "text", "st", "mh", threshold = 0.7)
          .localCheckpoint(eager = true))
      run.call("operators.MinHashIndex.append")(
        MinHashIndex.append(repo, survivors, "id", "text", "st", "mh"))
      run.call("operators.Similarity.appendToIvfIndex")(
        Similarity.appendToIvfIndex(repo, survivors, "id", "emb", "st", "vec"))
      val counted = run.call("functions.Bpe.tokenCount")(
        survivors.select(col("id"), col("text"), col("quality"),
          Bpe.tokenCount(col("text"), enc).as("tok")).localCheckpoint(eager = true))
      run.call("streaming.StreamToRepo.mergeSink")(
        StreamToRepo.mergeSink(repo, "st", "landed", Seq("id"))(counted, batchId))
      run.call("operators.Similarity.ivfSearch", "search_ms")(
        Similarity.ivfSearch(Similarity.readIvfIndex(repo, "st", "vec"), queryDf,
          "id", "emb", 10, 4).collect())
    }
  }

  private def start(): Unit = {
    query = spark.readStream.schema(Gen.DocSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging.toString)
      .writeStream
      .option("checkpointLocation", nsDir.resolve("checkpoint").toString)
      .foreachBatch(onBatch _)
      .start()
  }

  /** Stage the next file, wait for its micro-batch to commit, and record
    * the batch time (trigger start to commit) and the bytes it created. */
  private def step(run: Run): Unit = {
    current = run
    val before = listing(repoDir)
    val b = nextBatch
    Files.copy(batchFiles(b), staging.resolve(f"b-$b%05d.parquet"))
    query.processAllAvailable()
    nextBatch += 1
    val progress = {
      val deadline = System.nanoTime() + 30000000000L
      var p = query.recentProgress.find(_.batchId == b)
      while (p.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(2); p = query.recentProgress.find(_.batchId == b)
      }
      p.getOrElse(throw new IllegalStateException(s"no progress for batch $b"))
    }
    val batchMs = progress.durationMs.get("triggerExecution").doubleValue()
    // the rest of the trigger (stream planning, source listing, offset and
    // commit logs) is charged to the batch span's self time, but its
    // interval stays what the span measured, so span coverage can fall short
    if (Tracer.enabled)
      Tracer.all.reverseIterator.find(_.name == "streaming.batch").foreach { s =>
        s.extraSelfNs = math.max(0L, (batchMs * 1e6).toLong - s.durNs)
      }
    run.sample("pass_s", batchMs / 1000)
    run.add("batch_rows", progress.numInputRows.toDouble)
    run.add("landed_docs", fresh)
    run.add("created_bytes", createdBytes(before, listing(repoDir)).toDouble)
  }

  def warmup(run: Run): Unit = {
    start()
    val w = new Run(spark)
    // the first batch also creates the landed table, so measured batches
    // all merge; the JIT compiler is still busy during the second
    step(w); step(w)
    run.absorbCounts(w)
  }

  def measure(run: Run, seconds: Double, traced: Boolean): Unit = {
    repo = PqRepo(spark,
      if (traced) s"${CountingFileSystem.Scheme}://$repoDir" else repoDir.toString)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while ((n < 3 || System.nanoTime() < end) && nextBatch < stagedBatches) {
      Run.collect()
      step(run); n += 1
    }
    checks(run)
  }

  /** Cumulative output checks over every batch processed so far. */
  private def checks(run: Run): Unit = {
    val processed = nextBatch
    val expectFresh = processed.toLong * fresh
    def ingested(df: DataFrame) = df.filter(col("id") >= FirstBatchId)
      .agg(count(lit(1)), countDistinct(col("id")),
        sum(when(isFresh(col("id")), 1L).otherwise(0L)),
        max(col("id"))).head()
    def landsOnce(what: String, df: => DataFrame): Unit =
      run.check(s"every fresh document lands exactly once in $what; every planted duplicate is gated") {
        val r = ingested(df)
        r.getLong(0) == expectFresh && r.getLong(1) == expectFresh && r.getLong(2) == expectFresh &&
          r.getLong(3) < FirstBatchId + 1000L * processed
      }
    landsOnce("the landed table", repo.table("st", "landed"))
    landsOnce("the MinHash index", repo.table("st", "mh_mhdocs"))
    landsOnce("the IVF index", repo.table("st", "vec_ivf"))
    run.check("full-probe ivfSearch matches bruteForceTopK") {
      val idx = Similarity.readIvfIndex(repo, "st", "vec")
      val ann = Similarity.ivfSearch(idx, queryDf, "id", "emb", 10, centroids)
        .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.bruteForceTopK(idx.assigned.select("id", "v"),
        queryDf.select(col("id"), col("emb").as("v")), "id", "v", 10)
        .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ann.size == queries * 10 && ann == exact
    }
  }

  /** Fresh documents landed (the checks prove exactly these land) per
    * second spent in the batch function, the streaming engine excluded. */
  private def landedPerS(run: Run): Double =
    run.totals("landed_docs") / (run.values("onbatch_ms").sum / 1000)

  def endToEnd(run: Run): Map[String, Double] = Map(
    "items_per_s" -> landedPerS(run),
    "op_ms_p50" -> median(run.values("search_ms")),
    "bytes_per_row" -> run.totals("created_bytes") / run.totals("batch_rows"))

  def detail(run: Run): Seq[(String, Double, String)] = Seq(
    ("batch_s_p50", median(run.values("pass_s")), "s"),
    ("batch_samples", run.values("pass_s").size.toDouble, "count"),
    ("search_s_p50", median(run.values("search_ms")) / 1000, "s"),
    ("landed_docs_per_s", landedPerS(run), "docs/s"),
    ("engine_ms_p50", median(run.values("pass_s").zip(run.values("onbatch_ms"))
      .map { case (p, b) => p * 1000 - b }), "ms"),
    ("merge_bytes_per_row", run.totals("created_bytes") / run.totals("batch_rows"), "bytes/row"))

  def close(): Unit =
    if (query != null) { query.stop(); query = null }
}

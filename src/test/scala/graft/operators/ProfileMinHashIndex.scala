package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.PqRepo

/** Scratch stage profiler for the persisted MinHash index lifecycle (r20
  * tuning — not part of the shipped surface): times build, per-batch
  * append (guard on/off), and the threshold-1.0 gate in isolation, plus
  * final file counts per index table. Run via
  * `sbt "Test/runMain graft.operators.ProfileMinHashIndex <dir>"`. */
object ProfileMinHashIndex {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = SparkSession.builder()
      .appName("profile-mh-index")
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val d = s.read.parquet(s"$dir/documents.parquet")
    val repoDir = java.nio.file.Files.createTempDirectory("prof_mh").toString
    val repo = PqRepo(s, repoDir)
    val base = d.filter(pmod(col("doc_id"), lit(5)) =!= 0).select("doc_id", "text")
    t("warmup count")(base.count())
    t("index write (80%)")(
      MinHashIndex.write(repo, base, "doc_id", "text", "corpus", "docs"))
    val b0 = d.filter(pmod(col("doc_id"), lit(15)) === 0).select("doc_id", "text")
    t("append batch0 (guard on)")(
      MinHashIndex.append(repo, b0, "doc_id", "text", "corpus", "docs"))
    val b1 = d.filter(pmod(col("doc_id"), lit(15)) === 5).select("doc_id", "text")
    t("append batch1 (guard off)")(
      MinHashIndex.append(repo, b1, "doc_id", "text", "corpus", "docs",
        checkChanged = false))
    val batch = d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    def gate(): Unit =
      MinHashIndex.dropNearKnown(repo, batch, "doc_id", "text",
        "corpus", "docs", 1.0)
        .write.format("noop").mode("overwrite").save()
    t("gate t=1.0 (cold)")(gate())
    t("gate t=1.0 (warm)")(gate())
    // merge-internals breakdown: pre-signed 3.7k-row frames merged into
    // each table separately (the two halves of one append)
    val b2 = d.filter(pmod(col("doc_id"), lit(15)) === 10)
      .select(col("doc_id").as("id"), col("text").as("__t"))
    val sigExpr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.MinHashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("__t")),
        5, 64, 0)).as("sig")
    val perDoc = t("sign+checkpoint b2")(graft.Materialize.once(
      Dedup.fanOut(b2, col("id"))
        .select(col("id"), sigExpr, unhex(sha2(col("__t"), 256)).as("dig"))))
    val docsUpd = perDoc.withColumn("dbucket",
      pmod(xxhash64(col("id")), lit(64)).cast("int")).repartition(col("dbucket"))
    t("docs mergePartitioned")(repo.mergePartitioned(docsUpd, "corpus",
      "docs_mhdocs", keys = Seq("id", "dbucket"), partitionCols = Seq("dbucket")))
    val bandsUpd = perDoc.filter(col("sig").isNotNull)
      .select(col("id"), posexplode(graft.functions.MinHash.bandHashes(col("sig"), 16, 4))
        .as(Seq("band", "bh")))
      .withColumn("bucket", pmod(xxhash64(col("band"), col("bh")), lit(64)).cast("int"))
      .repartition(col("bucket"))
    t("bands mergePartitioned")(repo.mergePartitioned(bandsUpd, "corpus",
      "docs_mhbands", keys = Seq("id", "band", "bh", "bucket"), partitionCols = Seq("bucket")))
    def files(p: String): Int = {
      var n = 0
      java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .forEach(f => if (f.toString.endsWith(".parquet")) n += 1)
      n
    }
    println("[prof] files docs=" +
      files(s"$repoDir/corpus/docs_mhdocs.parquet") +
      " bands=" + files(s"$repoDir/corpus/docs_mhbands.parquet"))
    s.stop()
  }
}

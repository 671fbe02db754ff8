package graftbench

import java.nio.file.{Files, Path => JPath}
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything graft sees is derived from the
  * seed and the sizes; the planted ground truth (which ids are copies,
  * which keys a delta inserts or updates) is derivable from ids and sizes
  * alone and never travels inside the data handed to graft. Generated
  * tables are cached as parquet under a key of (generator version,
  * workload, seed, sizes), so set-up after the first run loads instead of
  * regenerating. */
object Gen {
  /** Bump whenever a generator's output changes for a given seed. */
  val Version = 1

  /** Load `names` from the cache dir for `key`, generating them first when
    * absent; a table with an entry in `partitionBy` is written hive-
    * partitioned on that column. Generation writes to a temp dir renamed
    * into place, so an interrupted run never leaves a partial cache entry. */
  def cached(spark: SparkSession, root: JPath, key: String, names: Seq[String],
      partitionBy: Map[String, String] = Map.empty)(
      gen: => Map[String, DataFrame]): Map[String, DataFrame] = {
    val dir = root.resolve(key)
    if (!Files.isDirectory(dir)) {
      val tmp = root.resolve(s"_tmp_${key}_${ProcessHandle.current().pid()}")
      val out = gen
      names.foreach(n => out(n).write.mode("overwrite")
        .partitionBy(partitionBy.get(n).toSeq: _*).parquet(tmp.resolve(n).toString))
      try Files.move(tmp, dir)
      catch { case _: java.nio.file.FileAlreadyExistsException => Main.deleteTree(tmp) }
    }
    names.map(n => n -> spark.read.parquet(dir.resolve(n).toString)).toMap
  }

  // ---------------------------------------------------------------- text

  /** Zipf vocabulary: English marker and stop words take the top ranks (so
    * generated prose is confidently "en" and passes the quality filter),
    * followed by seeded pseudo-words. */
  final class Vocab(seed: Long, size: Int, exponent: Double = 1.05) {
    private val head = Seq("the", "of", "and", "to", "a", "in", "is", "that",
      "for", "it", "with", "as", "on", "was", "by")
    val words: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5eed)
      val seen = scala.collection.mutable.LinkedHashSet[String](head: _*)
      while (seen.size < size) {
        val len = 3 + r.nextInt(7)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = words.indices.map(i => 1.0 / math.pow(i + 1, exponent))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(r: SplittableRandom): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(words.length - 1, if (i >= 0) i else -i - 1))
    }
    def doc(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(word(r))
  }

  def render(ws: Array[String]): String =
    ws.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

  /** `ws` with `k` distinct positions replaced by other vocabulary words. */
  def nearCopy(v: Vocab, r: SplittableRandom, ws: Array[String], k: Int): Array[String] = {
    val out = ws.clone()
    val pos = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(ws.indices.toList).take(k)
    pos.foreach { p =>
      var w = v.word(r)
      while (w == ws(p)) w = v.word(r)
      out(p) = "x" + w // an out-of-vocabulary token: the copy always differs
    }
    out
  }

  // ------------------------------------------------------------- vectors

  def unit(r: SplittableRandom, dim: Int): Array[Double] = {
    val v = Array.fill(dim)(gauss(r))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller from the seeded stream (java.util.Random#nextGaussian
    // would need a second generator)
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("emb", ArrayType(DoubleType, containsNull = false))))

  def docs(spark: SparkSession, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), DocSchema)

  // ------------------------------------------------------------ etl rows

  val FactSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("day", IntegerType),
    StructField("grp", IntegerType),
    StructField("amount", DecimalType(12, 2)),
    StructField("flag", StringType),
    StructField("ts", TimestampNTZType),
    StructField("status", StringType),
    StructField("note", StringType)))

  val Day0: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** One fact row; the same function renders source rows and delta rows,
    * with `version` > 0 for an update of an existing key. */
  def factRow(seed: Long, id: Long, day: Int, version: Int): Row = {
    val r = new SplittableRandom(seed * 1000003L + id * 31L + version)
    val status = if (version == 0 && r.nextInt(50) == 0) "X" else "A"
    Row(id, day, r.nextInt(50),
      java.math.BigDecimal.valueOf(r.nextLong(0, 10000000L), 2),
      if (r.nextBoolean()) "Y" else "N",
      Day0.plusDays(day).plusSeconds(r.nextLong(0, 86400L)),
      status,
      (0 until 20 + r.nextInt(10)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }
}

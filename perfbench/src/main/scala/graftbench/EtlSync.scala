package graftbench

import java.nio.file.{Files, Path => JPath}
import java.sql.{Connection, DriverManager}
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft
import graft.plans.TablePlan
import graft.sources.PqRepo

/** db2pq's own job: a seeded embedded-Derby database exported to the
  * parquet repository, kept current by the update gate, and patched with
  * daily deltas through both merge paths. Loads the Graft, plans, sources
  * and sync layers; bypasses functions, operators and streaming. */
object EtlSync {
  val Spans: Seq[String] = Seq("Graft.dbToPq", "Graft.dbUpdatePqFromDb.skip",
    "Graft.dbUpdatePqFromDb.load", "sources.PqRepo.merge",
    "sources.PqRepo.mergePartitioned", "sources.PqRepo.table",
    "plans.TablePlan.apply")
}

final class EtlSync(spark: SparkSession, seed: Long, cores: Int,
    inputs: JPath, runDir: JPath) extends Workload with AutoCloseable {
  import Main.{fingerprint, listing, createdBytes, median, quantile}

  private val factRows = 30000L
  private val days = 20
  private val deltaCount = 2
  private val deltaInserts = 300
  private val deltaUpdates = 200
  private val gatesPerPass = 14
  val sizes: Map[String, Long] = Map("fact_rows" -> factRows, "days" -> days.toLong,
    "deltas" -> deltaCount.toLong, "delta_inserts" -> deltaInserts.toLong,
    "delta_updates" -> deltaUpdates.toLong, "gates_per_pass" -> gatesPerPass.toLong)

  // Derby reads TIMESTAMP as a zone-less timestamp, so the read-back plan's
  // `tz` has naive values to interpret
  spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")

  private val sourceSchema = StructType(Gen.FactSchema.fields.map(f =>
    f.copy(name = f.name.toUpperCase)))
  // keep/drop/rename/where all render into the SELECT Derby runs; no
  // colTypes or tz here, because those render as PostgreSQL `::` casts and
  // AT TIME ZONE, which Derby rejects
  private val exportPlan = TablePlan(
    keep = Seq("^(ID|DAY|GRP|AMOUNT|FLAG|TS|STATUS|NOTE)$"),
    drop = Seq("^NOTE$"),
    rename = Gen.FactSchema.fieldNames.map(c => c.toUpperCase -> c).toMap,
    where = Some("\"STATUS\" <> 'X'"),
    tz = None)
  private val readPlan = TablePlan(
    colTypes = Map("flag" -> "boolean", "grp" -> "int4"),
    tz = Some("America/New_York"),
    numericMode = Some("float64"))
  private val commentSql = Some("SELECT CMT FROM COMMENTS WHERE TNAME = 'FACT'")
  private def comment(k: Int): String =
    s"Daily fact table (Updated ${LocalDate.of(2024, 2, 1).plusDays(k)})"

  private lazy val in: Map[String, DataFrame] = Gen.cached(spark, inputs,
    s"etl_sync-g${Gen.Version}-s$seed-n$factRows-d$days-x$deltaCount-$deltaInserts-$deltaUpdates",
    "fact" +: (0 until deltaCount).map(b => s"delta$b"))(generate())

  /** Source rows, then per delta batch: `deltaInserts` new keys on a new
    * day and `deltaUpdates` updates of distinct, exported keys from the
    * last three source days (planted, disjoint across batches). */
  private def generate(): Map[String, DataFrame] = {
    def dayOf(id: Long) = ((id - 1) * days / factRows).toInt
    val fact = (1L to factRows).map(id => Gen.factRow(seed, id, dayOf(id), 0))
    val r = new SplittableRandom(seed ^ 0xde17a)
    val recentFrom = (days - 3).toLong * factRows / days + 1
    val candidates = (recentFrom to factRows).filter(id =>
      Gen.factRow(seed, id, dayOf(id), 0).getString(6) == "A").toArray
    for (i <- candidates.indices.reverse) { // seeded Fisher–Yates
      val j = r.nextInt(i + 1); val t = candidates(i); candidates(i) = candidates(j); candidates(j) = t
    }
    val deltaSchema = StructType(Gen.FactSchema.fields.filterNot(_.name == "note"))
    def dropNote(row: Row) = Row(row.toSeq.take(7): _*)
    val deltas = (0 until deltaCount).map { b =>
      val inserts = (1 to deltaInserts).map { j =>
        Gen.factRow(seed, factRows + b * deltaInserts + j, days + b, 0) }
        .map(row => Row(row.toSeq.updated(6, "A").take(7): _*))
      val updates = candidates.slice(b * deltaUpdates, (b + 1) * deltaUpdates).toSeq
        .map(id => dropNote(Gen.factRow(seed, id, dayOf(id), b + 1)))
      s"delta$b" -> spark.createDataFrame(
        spark.sparkContext.parallelize(inserts ++ updates, 1), deltaSchema)
    }
    (deltas :+ ("fact" -> spark.createDataFrame(
      spark.sparkContext.parallelize(fact, cores), Gen.FactSchema))).toMap
  }

  // state of the instance being measured
  private var url: String = _
  private var conn: Connection = _
  private var repoDir: JPath = _
  private var repo: PqRepo = _
  private var commentK = 0
  private val urls = scala.collection.mutable.ArrayBuffer.empty[String]
  private var deltas: Seq[DataFrame] = Nil
  private var fpSource, fpMerged, fpReadback: (Long, Long) = _
  private var deltaRows = 0L

  def setup(ns: Int): Unit = {
    url = s"jdbc:derby:memory:perfbench_${ProcessHandle.current().pid()}_$ns"
    urls += url
    if (conn != null) conn.close()
    conn = DriverManager.getConnection(url + ";create=true")
    conn.setAutoCommit(false)
    val st = conn.createStatement()
    st.execute("CREATE TABLE FACT (ID BIGINT NOT NULL PRIMARY KEY, DAY INT, " +
      "GRP INT, AMOUNT DECIMAL(12,2), FLAG CHAR(1), TS TIMESTAMP, " +
      "STATUS CHAR(1), NOTE VARCHAR(40))")
    st.execute("CREATE TABLE DIM_GRP (GRP INT NOT NULL PRIMARY KEY, NAME VARCHAR(20))")
    st.execute("CREATE TABLE COMMENTS (TNAME VARCHAR(30) NOT NULL PRIMARY KEY, " +
      "CMT VARCHAR(100))")
    val ins = conn.prepareStatement("INSERT INTO FACT VALUES (?,?,?,?,?,?,?,?)")
    // inserted in key order, as the source table was generated: the order
    // in which Spark reads the cached input files back depends on their sizes
    in("fact").collect().sortBy(_.getLong(0)).foreach { r =>
      ins.setLong(1, r.getLong(0)); ins.setInt(2, r.getInt(1)); ins.setInt(3, r.getInt(2))
      ins.setBigDecimal(4, r.getDecimal(3)); ins.setString(5, r.getString(4))
      ins.setTimestamp(6, java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](5)))
      ins.setString(7, r.getString(6)); ins.setString(8, r.getString(7))
      ins.addBatch()
    }
    ins.executeBatch()
    val dim = conn.prepareStatement("INSERT INTO DIM_GRP VALUES (?,?)")
    (0 until 50).foreach { g => dim.setInt(1, g); dim.setString(2, s"group-$g"); dim.addBatch() }
    dim.executeBatch()
    commentK = 0
    st.execute(s"INSERT INTO COMMENTS VALUES ('FACT', '${comment(commentK)}')")
    conn.commit()
    st.close()

    repoDir = runDir.resolve(s"etl$ns").resolve("repo")
    Files.createDirectories(repoDir)
    repo = PqRepo(spark, repoDir.toString)
    Graft.dbToPq(spark, url, "APP", "DIM_GRP",
      StructType(Seq(StructField("GRP", IntegerType), StructField("NAME", StringType))),
      repo, numPartitions = 1)
    export()
    deltas = (0 until deltaCount).map(b => in(s"delta$b"))
    deltaRows = deltas.map(_.count()).sum
  }

  private def export(): Unit =
    Graft.dbToPq(spark, url, "APP", "FACT", sourceSchema, repo, exportPlan,
      modified = Some(comment(commentK)), partitionColumn = Some("id"),
      lowerBound = Some(1L), upperBound = Some(factRows), numPartitions = cores)

  private def gate(): Option[org.apache.hadoop.fs.Path] =
    Graft.dbUpdatePqFromDb(spark, url, "APP", "FACT", sourceSchema, repo,
      exportPlan, commentSql = commentSql, partitionColumn = Some("id"),
      lowerBound = Some(1L), upperBound = Some(factRows), numPartitions = cores)

  /** Expected contents, computed with plain Spark from the generated
    * inputs (never through graft). */
  private def expected(): Unit = {
    val src = in("fact").filter(col("status") =!= "X").drop("note")
    val all = deltas.reduce(_ unionByName _)
    val merged = src.join(all.select("id"), Seq("id"), "left_anti").unionByName(all)
    fpSource = fingerprint(src)
    fpMerged = fingerprint(merged)
    fpReadback = fingerprint(merged.select(
      col("id"), col("day"),
      col("grp").cast("int").as("grp"),
      col("amount").cast("double").as("amount"),
      when(col("flag") === "Y", true).when(col("flag") === "N", false).as("flag"),
      to_utc_timestamp(col("ts").cast("timestamp"), "America/New_York").as("ts"),
      col("status")))
  }

  private def pass(run: Run): Unit = {
    // three full exports per pass: one export is a fraction of a second, and
    // its throughput is the noisiest figure a pass yields
    for (_ <- 0 until 3) run.call("Graft.dbToPq", "export_ms")(export())
    run.check("export equals the Derby source after the plan")(
      fingerprint(repo.table("APP", "FACT")) == fpSource)

    for (_ <- 0 until gatesPerPass) {
      val r = run.call("Graft.dbUpdatePqFromDb.skip", "gate_ms")(gate())
      run.check("unchanged-comment gate skips")(r.isEmpty)
    }
    run.untimed {
      commentK += 1
      val st = conn.createStatement()
      st.executeUpdate(s"UPDATE COMMENTS SET CMT = '${comment(commentK)}' WHERE TNAME = 'FACT'")
      conn.commit(); st.close()
    }
    val loaded = run.call("Graft.dbUpdatePqFromDb.load", "load_ms")(gate())
    run.check("bumped gate re-exports")(loaded.isDefined)
    run.check("lastModified equals the bumped comment")(
      repo.lastModified("APP", "FACT").contains(comment(commentK)))

    // a fresh partitioned copy of the source, so that every measured
    // mergePartitioned lands new keys on a new day, as a daily delta does
    run.untimed(repo.writePartitioned(repo.table("APP", "FACT"), "APP", "FACT_P", Seq("day")))
    for (d <- deltas) {
      val b0 = run.untimed(listing(repoDir))
      run.call("sources.PqRepo.merge", "merge_ms")(repo.merge(d, "APP", "FACT", Seq("id")))
      val b1 = run.untimed(listing(repoDir))
      run.call("sources.PqRepo.mergePartitioned", "pmerge_ms")(
        repo.mergePartitioned(d, "APP", "FACT_P", Seq("id", "day"), Seq("day")))
      val b2 = run.untimed(listing(repoDir))
      run.add("merge_bytes", createdBytes(b0, b1))
      run.add("pmerge_bytes", createdBytes(b1, b2))
    }
    run.add("delta_rows", deltaRows)
    run.check("merged table equals source ∪ deltas by key")(
      fingerprint(repo.table("APP", "FACT")) == fpMerged)
    run.check("partitioned merged table equals source ∪ deltas by key")(
      fingerprint(repo.table("APP", "FACT_P")) == fpMerged)

    val back = run.call("plans.TablePlan.apply", "readback_ms") {
      val t = run.call("sources.PqRepo.table")(repo.table("APP", "FACT"))
      readPlan(t).localCheckpoint(eager = true)
    }
    run.check("read-back applies colTypes, tz and numeric_mode")(
      back.schema("grp").dataType == IntegerType &&
        back.schema("amount").dataType == DoubleType &&
        back.schema("flag").dataType == BooleanType &&
        fingerprint(back) == fpReadback)
  }

  def warmup(run: Run): Unit = {
    expected()
    // two passes: the first compiles every plan, the JIT is still busy
    // during the second
    val w = new Run(spark)
    pass(w); pass(w)
    run.absorbCounts(w)
  }

  def measure(run: Run, seconds: Double, traced: Boolean): Unit = {
    repo = PqRepo(spark,
      if (traced) s"${CountingFileSystem.Scheme}://$repoDir" else repoDir.toString)
    run.loop(seconds, 2)(_ => pass(run))
  }

  def endToEnd(run: Run): Map[String, Double] = Map(
    "items_per_s" -> fpSource._1 / (median(run.values("export_ms")) / 1000),
    "op_ms_p50" -> median(run.values("gate_ms")),
    "bytes_per_row" -> (run.totals("merge_bytes") + run.totals("pmerge_bytes")) /
      (2 * run.totals("delta_rows")))

  def detail(run: Run): Seq[(String, Double, String)] = {
    val g = run.values("gate_ms")
    // the highest of p90 and p75 with at least ten samples beyond it
    val tail = Seq(90, 75).find(p => g.size * (100 - p) >= 1000)
      .map(p => (s"gate_ms_p$p", quantile(g, p / 100.0), "ms"))
    Seq(
      ("export_rows_per_s", fpSource._1 / (median(run.values("export_ms")) / 1000), "rows/s"),
      ("export_samples", run.values("export_ms").size.toDouble, "count"),
      ("gate_ms_p50", median(g), "ms"),
      ("gate_samples", g.size.toDouble, "count"),
      ("load_ms_p50", median(run.values("load_ms")), "ms"),
      ("merge_s_p50", median(run.values("merge_ms")) / 1000, "s"),
      ("merge_samples", run.values("merge_ms").size.toDouble, "count"),
      ("pmerge_s_p50", median(run.values("pmerge_ms")) / 1000, "s"),
      ("pmerge_samples", run.values("pmerge_ms").size.toDouble, "count"),
      ("readback_ms_p50", median(run.values("readback_ms")), "ms"),
      ("merge_bytes_per_row", run.totals("merge_bytes") / run.totals("delta_rows"), "bytes/row"),
      ("pmerge_bytes_per_row", run.totals("pmerge_bytes") / run.totals("delta_rows"), "bytes/row")) ++
      tail
  }

  def close(): Unit = {
    if (conn != null) conn.close()
    urls.foreach { u =>
      try DriverManager.getConnection(u + ";drop=true").close()
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    }
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch stage profiler for dropSharedSpans (r20 optimization round —
  * not part of the shipped surface): times the operator's internal
  * actions in isolation against a corpus dir, with executor-CPU
  * attribution per stage, plus the registered dedup_spans query as the
  * end-to-end reference. Run via
  * `sbt "Test/runMain graft.operators.ProfileSpans <dir> [reps]"`. */
object ProfileSpans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_big20x")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val s = SparkSession.builder()
      .appName("profile-spans")
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val cpu = new graft.Bench.CpuTimeListener
    s.sparkContext.addSparkListener(cpu)
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val c0 = cpu.cpuNs.get
      val r = body
      org.apache.spark.graftbench.SparkInternals.drainListenerBus(s.sparkContext)
      println(f"[prof] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s" +
        f"  cpu ${(cpu.cpuNs.get - c0) / 1e9}%7.1f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def drop(): Unit = {
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      s.catalog.clearCache()
    }
    val k = 8
    (1 to reps).foreach { rep =>
      println(s"== rep $rep")
      // the registered query's planted-boilerplate construction
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val boilers = array(
        lit("terms of service apply to all content on this site"),
        lit("click here to subscribe to our free daily newsletter updates"),
        lit("all rights reserved unauthorized reproduction is strictly prohibited on site"))
      val toks = graft.functions.TextFunctions.wsTokens(col("text"))
      val built = d.select(col("doc_id"),
        concat_ws(" ", concat(
          slice(toks, lit(1), lit(10)),
          split(element_at(boilers, (pmod(col("doc_id"), lit(3)) + 1).cast("int")), " "),
          slice(toks, lit(11), greatest(size(toks) - 10, lit(0))))).as("text"))

      // stage 1: kernel scan + checkpoint
      val withWh = t("1 kernel+checkpoint")(graft.Materialize.once(
        Dedup.fanOut(built
          .select(col("doc_id").as("__id"),
            org.apache.spark.sql.graft.ColumnBridge.column(
              graft.functions.expressions.WordWindowHashes(
                org.apache.spark.sql.graft.ColumnBridge.expression(col("text")),
                k)).as("__wh")), col("__id"))))
      val occ = withWh
        .select(col("__id"), posexplode(col("__wh")).as(Seq("__idx", "__k")))
      // stage 2: winner aggregation alone
      val winners = Dedup.keepFirstByKey(occ, d.schema("doc_id").dataType,
          "ProfileSpans")
        .withColumnRenamed("__id", "__wid").withColumnRenamed("__idx", "__widx")
      t("2 winners agg (noop)")(noop(winners))
      // stage 3: losers join + removal lists
      val losers = occ.join(winners, Seq("__k"))
        .filter(!(col("__id") === col("__wid") && col("__idx") === col("__widx")))
        .select(col("__id"), col("__idx"))
      val rmLists = losers
        .groupBy("__id")
        .agg(sort_array(collect_list(col("__idx"))).as("__rm"))
      t("3 losers+rmLists (noop)")(noop(rmLists))
      // experiment: shuffled-hash build of the winner side instead of the
      // planner's sort-merge join (guide §3.1) — no sort of the
      // occurrence stream
      val losers3 = occ.join(winners.hint("shuffle_hash"), Seq("__k"))
        .filter(!(col("__id") === col("__wid") && col("__idx") === col("__widx")))
        .select(col("__id"), col("__idx"))
      val rmLists3 = losers3
        .groupBy("__id")
        .agg(sort_array(collect_list(col("__idx"))).as("__rm"))
      t("3c losers SHUFFLE_HASH (noop)")(noop(rmLists3))
      if (rep == reps) {
        val ep3 = rmLists3.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case p => p.toString
        }
        println(ep3.linesIterator.filter(l =>
          l.contains("Join") || l.contains("Sort ") || l.contains("Exchange"))
          .map(_.take(150)).mkString("\n"))
      }
      if (rep == reps) {
        val ep = rmLists.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case p => p.toString
        }
        println(ep.linesIterator.filter(l =>
          l.contains("Join") || l.contains("Sort") || l.contains("Exchange"))
          .map(_.take(150)).mkString("\n"))
      }
      drop()
      // end-to-end operator (fresh checkpoint)
      t("4 dropSharedSpans e2e")(noop(
        Dedup.dropSharedSpans(built, "doc_id", "text", k = k)))
      drop()
      // end-to-end registered query
      t("5 dedup_spans query e2e")(noop(
        graft.SparkEntry.queries("dedup_spans")(s, dir)))
      drop()
    }
    s.stop()
  }
}

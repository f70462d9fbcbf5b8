package graftperf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.PlanSurgeon

import graft.{Sessions, SparkEntry}

/** Listener attribution checks, run by `perfbench/tests`. Prints one
  * `PASS <name>` or `FAIL <name>: <why>` line per check and exits non-zero
  * if any failed.
  *
  * Usage: graftperf.SelfTest <fixture_dir> <out_dir> <cpus>
  */
object SelfTest {
  private val lazyQueries =
    Seq("q03_filter", "q05_source", "q11_join_sortmerge", "q20_agg_group")
  private val streamQueries = Seq("q259_stream_late", "q119_stream_join",
    "q222_stream_quota", "q249_stream_cdc")

  def main(argv: Array[String]): Unit = {
    val Array(fixture, out, cpus) = argv
    val spark = Sessions.local(cpus, "graft-perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    def check(name: String)(cond: Boolean, why: => String): Unit =
      if (cond) println(s"PASS $name")
      else { failed += 1; println(s"FAIL $name: $why") }

    // 1. listeners change no optimized plan and no result
    val queries = lazyQueries :+ "q222_stream_quota"
    val before = queries.map(q => q -> fingerprint(spark, q, fixture)).toMap
    val tracer = new Tracer
    tracer.attach(spark)
    val after = queries.map(q => q -> fingerprint(spark, q, fixture)).toMap
    tracer.detach(spark)
    queries.foreach { q =>
      check(s"plan unchanged by listeners: $q")(
        before(q)._1 == after(q)._1, s"\n${before(q)._1}\nvs\n${after(q)._1}")
      check(s"result unchanged by listeners: $q")(
        before(q)._2 == after(q)._2, s"${before(q)._2} vs ${after(q)._2}")
    }

    // 2. one traced pass: attribution totals, shuffle bytes, batches
    val args = Harness.Args("selftest", 0L, lazyQueries ++ streamQueries,
      Seq("lineitem"), Nil, copurchase = false,
      fixture, out, trace = true,
      System.currentTimeMillis(), cpus)
    val pass = Pass(spark, args, 1, traced = true).run()
    val layers = pass("layers").asInstanceOf[Map[String, Double]]
    val perQuery = pass("jobs_per_query").asInstanceOf[Map[String, Int]]
    val spans = pass("spans").asInstanceOf[Seq[Map[String, Any]]]
    val total = layers("trace.jobs_total")
    check("every job is attributed to a span")(
      layers("trace.jobs_attributed") == total,
      s"${layers("trace.jobs_attributed")} of $total")
    check("per-span job counts sum to the listener total")(
      spans.map(_("jobs").asInstanceOf[Int]).sum == total,
      s"${spans.map(_("jobs").asInstanceOf[Int]).sum} != $total")
    check("per-query job counts are the query spans' jobs")(
      perQuery.values.sum <= total && perQuery.values.forall(_ > 0),
      perQuery.toString)
    val shuffle = pass("shuffle_mb_per_query").asInstanceOf[Map[String, Double]]
    // Shuffle bytes are attributed where the production plan (top sort
    // stripped) has an Exchange and nowhere else: q03_filter has none;
    // q05_source's grouped aggregate and q11_join_sortmerge's join do.
    lazyQueries.foreach { q =>
      val exchanges = exchangeCount(spark, q, fixture)
      val mb = shuffle(s"nosort:$q")
      check(s"shuffle bytes iff the plan has an Exchange: $q")(
        (mb > 0.0) == (exchanges > 0), s"$mb MB with $exchanges exchanges")
    }
    check("q03_filter moves no shuffle bytes")(
      shuffle("nosort:q03_filter") == 0.0, shuffle.toString)
    check("q11_join_sortmerge moves shuffle bytes")(
      shuffle("nosort:q11_join_sortmerge") > 0.0, shuffle.toString)
    val batches = pass("batches_per_query").asInstanceOf[Map[String, Int]]
    streamQueries.foreach { q =>
      check(s"streaming.batches > 0: $q")(batches.getOrElse(q, 0) > 0,
        batches.toString)
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  private def exchangeCount(spark: SparkSession, q: String,
      fixture: String): Int = {
    val df = SparkEntry.queries(q)(spark, fixture)
    val plan = PlanSurgeon.withoutTopSort(df).getOrElse(df)
      .queryExecution.executedPlan.treeString
    "Exchange ".r.findAllMatchIn(plan).size
  }

  /** (optimized plan with expression ids erased, hash of the result rows) */
  private def fingerprint(spark: SparkSession, q: String,
      fixture: String): (String, Int) = {
    val df: DataFrame = SparkEntry.queries(q)(spark, fixture)
    val plan = df.queryExecution.optimizedPlan.toString
      .replaceAll("#\\d+L?", "#").replaceAll("graft-q\\d+[^,\\]\\s]*", "<dir>")
    val rows = df.collect().map(_.toString).toSeq
    Harness.hygiene(spark)
    (plan, rows.hashCode)
  }
}

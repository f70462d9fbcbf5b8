package graftperf

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.graftperf.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbench.PlanSurgeon

import graft.{Schemas, Sessions, SparkEntry, Tables}
import graft.ops.{CoPurchase, Pipeline}
import graft.sources.WarehouseSink

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points, times every call from outside with [[Spans]], and writes
  * one JSON record of raw measurements; `perfbench/run.py` turns those
  * into the reported metrics and checks the outputs.
  *
  * A pass runs every query of the workload once, in the given order:
  * construct (the query function), execute the returned plan into the noop
  * sink, execute it again with the top sort stripped. The first pass also
  * writes each result for the oracle check, outside those timed spans.
  * With `--trace 1` the spans also carry Spark's job, stage, task and
  * micro-batch counters (see [[Tracer]]).
  */
object Harness {

  final case class Delivery(month: String, path: String, again: Boolean)

  final case class Args(workload: String, seed: Long, queries: Seq[String],
      tables: Seq[String], deliveries: Seq[Delivery], copurchase: Boolean,
      fixture: String, out: String, trace: Boolean, t0Ms: Long,
      cpus: String)

  def main(argv: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val a = parse(argv)
    val jvmS = (entered - a.t0Ms) / 1e3
    val (spark, setup) = setUp(a)
    writeOracle(a)
    // Untraced: one cold pass, the pass every fresh process pays. Traced:
    // the cold pass under the listeners (the per-layer numbers), then an
    // untraced and a traced warm pass, whose difference is the overhead.
    val plan = if (a.trace) Seq(true, false, true) else Seq(false)
    val t0 = System.nanoTime()
    val passes = plan.zipWithIndex.map { case (traced, i) =>
      Pass(spark, a, i, traced).run()
    }
    val record = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cpus" -> a.cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version, "jvm_s" -> jvmS, "setup" -> setup,
      "measure_s" -> (System.nanoTime() - t0) / 1e9, "passes" -> passes)
    Files.write(Paths.get(a.out, "result.json"), Json(record).getBytes(UTF_8))
    spark.stop()
  }

  /** Session start, warmup and (for the graph family) the shared
    * co-purchase build: what a process pays before its first query. */
  private def setUp(a: Args): (SparkSession, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val spark = Sessions.local(a.cpus, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    // graft.Bench's warmup: JVM, codegen and parquet-reader start-up
    // must not be billed to whichever query runs first
    val li = Tables.lineitem(spark, a.fixture)
    val o = Tables.orders(spark, a.fixture)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag").count().collect()
    val t2 = System.nanoTime()
    if (a.copurchase) CoPurchase.materialize(spark, a.fixture)
    val t3 = System.nanoTime()
    (spark, Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "copurchase_s" -> (t3 - t2) / 1e9))
  }

  private def writeOracle(a: Args): Unit = {
    val sql = a.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.write(Paths.get(a.out, "oracle_sql.json"),
      Json(sql.toMap).getBytes(UTF_8)): Unit
  }

  /** graft.Bench's between-query hygiene, outside every timed span: drop
    * CacheManager entries, then release persisted and checkpointed blocks,
    * blocking, so the next query starts with an empty storage pool. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    def list(k: String) = m.get(k).filter(_.nonEmpty).fold(Seq.empty[String])(
      _.split(",").toSeq)
    val deliveries = m.get("--deliveries").fold(Seq.empty[Delivery]) { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
        .map(_.split("\t") match {
          case Array(again, month, path) => Delivery(month, path, again == "1")
        }).toSeq
    }
    Args(m("--workload"), m("--seed").toLong, list("--queries"),
      list("--tables"), deliveries, m.get("--copurchase").contains("1"),
      m("--fixture"), m("--out"), m.get("--trace").contains("1"),
      m("--t0-ms").toLong, m("--cpus"))
  }
}

/** One pass over the workload. */
final case class Pass(spark: SparkSession, a: Harness.Args, index: Int,
    traced: Boolean) {
  import Harness.{hygiene, noop}

  private val sc = spark.sparkContext
  private val spans = new Spans(sc, traced)
  private val tracer = if (traced) Some(new Tracer) else None
  private val errors = ArrayBuffer.empty[(String, String)]
  private var storagePeak = 0L
  private var cutPeak = 0L
  private var rowsLanded = 0L
  private var guardRows = 0L
  private val passDir = s"${a.out}/pass$index"

  /** Storage peak at a layer boundary. RDD blocks (cached, checkpointed)
    * are read as they are; storage memory as a whole only after a full GC
    * has let Spark's cleaner drop the blocks nothing references any more,
    * since without it the reading depends on when the JVM last collected.
    * Called outside the timed spans when `settle` is set. */
  private def sample(settle: Boolean): Unit = {
    val rdd = SparkInternals.rddBlockBytes(sc)
    val all = if (!settle) 0L else {
      System.gc()
      var (last, now, polls) = (-1L, SparkInternals.storageBytes(sc), 0)
      while (now != last && polls < 10) {
        Thread.sleep(100)
        last = now
        now = SparkInternals.storageBytes(sc)
        polls += 1
      }
      now
    }
    storagePeak = math.max(storagePeak, math.max(rdd, all))
  }

  def run(): Map[String, Any] = {
    tracer.foreach(_.attach(spark))
    val (_, root) = spans.time("pass", "pass") {
      if (traced) a.tables.foreach { t =>
        spans.time(s"sources.scan:$t", "sources")(noop(Tables(spark, a.fixture, t)))
      }
      if (a.deliveries.nonEmpty) ingest() else a.queries.foreach(query)
    }
    tracer.foreach(_.detach(spark))
    val top = spans.all.filter(_.parent == root.id).toSeq
    val timed = top.filter(_.layer == "query")
    def total(name: String) =
      spans.all.filter(_.name == name).map(_.seconds).sum
    val nosortTotal = top.filter(_.layer == "plans").map(_.seconds).sum
    val record = Map[String, Any](
      "index" -> index, "traced" -> traced,
      "wall_s" -> timed.map(_.seconds).sum,
      "wall_nosort_s" -> (if (a.deliveries.nonEmpty) timed.map(_.seconds).sum
        else total("ops.construct") + nosortTotal),
      "latencies" -> timed.map(s => Map("query" -> s.query, "s" -> s.seconds)),
      "errors" -> errors.map { case (q, e) => Map("query" -> q, "error" -> e) },
      "peak_storage_mb" -> storagePeak / 1048576.0,
      "cut_peak_mb" -> cutPeak / 1048576.0,
      "rows_landed" -> rowsLanded, "guard_rows" -> guardRows,
      "sink_files" -> dataFiles(passDir).size,
      "sink_bytes" -> dataFiles(passDir).map(_.length).sum)
    if (index > 0) deleteTree(new File(passDir))
    record ++ tracer.fold(Map.empty[String, Any])(layers(_, top, timed))
  }

  private def query(q: String): Unit = {
    val fn = SparkEntry.queries(q)
    try {
      val (df, _) = spans.time(s"query:$q", "query", q) {
        val (df, _) = spans.time("ops.construct", "ops")(fn(spark, a.fixture))
        cutPeak = math.max(cutPeak, SparkInternals.rddBlockBytes(sc))
        sample(settle = false)
        spans.time("exec.run", "exec")(noop(df))
        df
      }
      sample(settle = true)
      spans.time(s"nosort:$q", "plans", q)(
        noop(PlanSurgeon.withoutTopSort(df).getOrElse(df)))
      if (index == 0) spans.time(s"check:$q", "check", q)(
        df.write.mode("overwrite").parquet(s"${a.out}/check/$q"))
    } catch {
      case NonFatal(e) => errors += q -> firstLine(e)
    } finally hygiene(spark)
  }

  private def ingest(): Unit = {
    val wh = s"$passDir/warehouse"
    val emptyWarehouse = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), Schemas.fhvhvTripdata)
    var landedAny = false
    a.deliveries.foreach { d =>
      val label = d.month + (if (d.again) "+again" else "")
      try spans.time(s"month:$label", "query", label) {
        val (conformed, _) = spans.time("sinks.conform", "sinks") {
          Schemas.conform(spark.read.parquet(d.path), Schemas.fhvhvTripdata,
            Schemas.fhvhvRenames).localCheckpoint()
        }
        val existing =
          if (landedAny) spark.read.parquet(wh) else emptyWarehouse
        val ((delta, landed), _) = spans.time("sinks.dedup", "sinks") {
          val delta = WarehouseSink.dedupAppend(conformed, existing,
            Pipeline.tripKey).localCheckpoint()
          (delta, delta.count())
        }
        sample(settle = false)
        spans.time("sinks.append", "sinks")(
          delta.write.mode("append").parquet(wh))
        landedAny = true
        spans.time("sinks.raw_zone", "sinks")(
          WarehouseSink.rawZoneAppend(delta, s"$passDir/raw", "pickup_datetime"))
        spans.time("sinks.readback", "sinks")(noop(spark.read.parquet(wh)))
        rowsLanded += landed
        if (d.again) guardRows += landed
      } catch {
        case NonFatal(e) => errors += label -> firstLine(e)
      } finally hygiene(spark)
    }
  }

  /** Per-layer counters of one traced pass. */
  private def layers(t: Tracer, top: Seq[Span],
      timed: Seq[Span]): Map[String, Any] = {
    val attr = new Attribution(t, spans)
    def named(n: String) = spans.all.filter(_.name == n).toSeq
    def secs(n: String) = named(n).map(_.seconds).sum
    val construct = attr.jobsUnder(named("ops.construct"))
    def callSite(prefixes: String*) =
      construct.count(j => prefixes.exists(j.callSite.startsWith))
    val wallJobs = attr.jobsUnder(timed)
    val sums = attr.sums(wallJobs)
    val sortJobs = attr.jobsUnder(named("exec.run")).size -
      attr.jobsUnder(top.filter(_.layer == "plans")).size
    val batches = attr.batchesUnder(timed)
    val lastPerRun = batches.groupBy(_.runId).values.map(_.maxBy(_.timeMs))
    val fixtureFiles = s"""${a.fixture}/(\\w+)\\.parquet""".r
    import scala.jdk.CollectionConverters._
    val tablesRead = t.plans.asScala.flatMap(p =>
      fixtureFiles.findAllMatchIn(p).map(_.group(1))).toSet.toSeq.sorted
    val mb = 1048576.0
    val spanRecs = spans.all.map { s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "query" -> s.query,
        "start_s" -> (s.startNs - spans.all.head.startNs) / 1e9,
        "end_s" -> (s.endNs - spans.all.head.startNs) / 1e9,
        "dur_s" -> s.seconds, "self_s" -> spans.selfSeconds(s),
        "jobs" -> attr.jobSpan.count(_._2.exists(_.id == s.id)))
    }
    Map("spans" -> spanRecs.toSeq, "tables_read" -> tablesRead,
      "batches_per_query" -> timed.map(s =>
        s.query -> attr.batchesUnder(Seq(s)).size).toMap,
      "jobs_per_query" -> timed.map(s =>
        s.query -> attr.jobsUnder(Seq(s)).size).toMap,
      "shuffle_mb_per_query" -> top.filter(s => s.layer == "query" ||
          s.layer == "plans").map { s =>
        val q = attr.sums(attr.jobsUnder(Seq(s)))
        s.name -> (q.shuffleWrite + q.shuffleRead) / mb
      }.toMap,
      "layers" -> Map[String, Double](
        "ops.construct_s" -> secs("ops.construct"),
        "ops.construct_jobs" -> construct.size,
        "ops.cut_jobs" -> callSite("localCheckpoint", "checkpoint"),
        "ops.driver_action_jobs" ->
          callSite("count", "head", "collect", "take", "first", "isEmpty"),
        "ops.cut_peak_mb" -> cutPeak / mb,
        "exec.run_s" -> secs("exec.run"),
        "exec.jobs" -> wallJobs.size,
        "exec.stages" -> attr.stagesOf(wallJobs).size,
        "exec.tasks" -> sums.tasks.toDouble,
        "exec.task_cpu_s" -> sums.cpuNs / 1e9,
        "exec.task_run_s" -> sums.runMs / 1e3,
        "exec.cpu_share" ->
          (if (sums.runMs > 0) sums.cpuNs / 1e6 / sums.runMs else 0.0),
        "exec.shuffle_write_mb" -> sums.shuffleWrite / mb,
        "exec.shuffle_read_mb" -> sums.shuffleRead / mb,
        "exec.spill_mb" -> sums.spill / mb,
        "exec.gc_s" -> sums.gcMs / 1e3,
        "plans.sort_s" -> (secs("exec.run") -
          top.filter(_.layer == "plans").map(_.seconds).sum),
        "plans.sort_jobs" -> sortJobs,
        "sources.scan_s" -> top.filter(_.layer == "sources").map(_.seconds).sum,
        "sources.read_records" -> sums.recordsRead.toDouble,
        "sources.read_mb" -> sums.bytesRead / mb,
        "sinks.conform_s" -> secs("sinks.conform"),
        "sinks.dedup_s" -> secs("sinks.dedup"),
        "sinks.append_s" -> secs("sinks.append"),
        "sinks.raw_zone_s" -> secs("sinks.raw_zone"),
        "sinks.readback_s" -> secs("sinks.readback"),
        "streaming.batches" -> batches.size,
        "streaming.batch_ms" -> median(batches.map(_.batchMs.toDouble)),
        "streaming.commit_ms" -> median(batches.map(_.commitMs.toDouble)),
        "streaming.state_rows" -> lastPerRun.map(_.stateRows).sum.toDouble,
        "streaming.state_mb" -> lastPerRun.map(_.stateBytes).sum / mb,
        "trace.jobs_total" -> t.jobs.size,
        "trace.jobs_attributed" -> spans.all.map(s =>
          attr.jobSpan.count(_._2.exists(_.id == s.id))).sum,
        "trace.self_sum_s" -> timed.flatMap(s => s +: spans.descendants(s))
          .map(spans.selfSeconds).sum))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .linesIterator.nextOption().getOrElse("").take(300)

  private def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    walk(new File(dir))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }
}

/** Minimal JSON encoder for the harness record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

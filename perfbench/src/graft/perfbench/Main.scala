package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Staging
import graft.binsreg.Dbbinsreg
import graft.formula.{Formula, Vcov}
import graft.linalg.LinAlg
import graft.model.ModelMatrix
import graft.operators.Graphs
import graft.pipeline.Dedup
import graft.reg.{CompressDriver, Dbreg, DbregResult}
import graft.sources.ScaleOps

/** One workload: its timed op and, for the traced run, the layer probes.
  * Ops and probes go through the library's public entry points; `run`
  * returns the op's result as JSON for the reference check done after
  * the run. */
trait Workload {
  /** Name of the timed op, the key of its reference check. */
  def kind: String
  /** Untimed ops before the window: past the steepest part of the JIT
    * warm-up curve, so every run times the same stretch of it. */
  def warmupOps: Int
  def rows: Long
  def load(spark: SparkSession): Unit
  def run(t: Tracer): String
  /** Layer probes, each call wrapped in a span named `<module>.<call>`;
    * returns result payloads keyed by probe name. */
  def probes(t: Tracer): Map[String, String]
}

object Workloads {
  def apply(name: String, dir: String): Workload = name match {
    case "taxi_compress" => new Taxi(dir)
    case "corpus_dedup" => new Corpus(dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fitJson(r: DbregResult): String = Json.obj(
    "strategy" -> r.strategy, "nobs" -> r.nobs, "nobs_orig" -> r.nobsOrig,
    "hdfe_sweeps" -> r.hdfeSweeps,
    "coef" -> r.coeftableMain.map(c => c.term -> Seq(c.estimate, c.stdError)).toMap)

  def binsJson(r: Dbbinsreg.BinsregResult): String = Json.obj(
    "edges" -> ((r.bins.head.left +: r.knots) :+ r.bins.last.right),
    "n" -> r.bins.map(_.n), "x" -> r.bins.map(_.xMean), "fit" -> r.points.map(_.fit))
}

final class Taxi(dir: String) extends Workload {
  private val formula = "tip ~ fare + passengers | month + vendor"
  private var df: DataFrame = _
  var rows = 0L
  val kind = "fit"
  val warmupOps = 3

  def load(spark: SparkSession): Unit = {
    df = ScaleOps.readPartitioned(spark, s"$dir/data.parquet")
    rows = df.count()
  }

  def run(t: Tracer): String =
    Workloads.fitJson(t.span("reg.fit")(Dbreg.fit(formula, df, vcov = "hc1")))

  def probes(t: Tracer): Map[String, String] = {
    val spark = df.sparkSession
    var out = Map.empty[String, String]
    t.span("sources.read")(ScaleOps.readPartitioned(spark, s"$dir/data.parquet").count())
    val f = t.span("formula.parse")(Formula.parse(formula))
    t.span("model.factor_levels")(f.fe.map(ModelMatrix.factorLevels(df, _)))
    // auto-probe cost = auto − explicit compress
    out += "fit_auto" -> Workloads.fitJson(
      t.span("reg.fit_auto")(Dbreg.fit(formula, df, vcov = "hc1")))
    out += "fit_compress" -> Workloads.fitJson(
      t.span("reg.fit_compress")(Dbreg.fit(formula, df, vcov = "hc1", strategy = "compress")))
    val cells = t.span("reg.compressed_data")(Dbreg.compressedData(formula, df).collect())
    // normal equations of `tip ~ fare + passengers` over the collected cells
    val xs = cells.map(r => Array(1.0, r.getAs[Double]("fare"), r.getAs[Int]("passengers").toDouble))
    val w = cells.map(_.getAs[Long]("n").toDouble)
    val sy = cells.map(_.getAs[Double]("sum_y"))
    val xtx = breeze.linalg.DenseMatrix.tabulate(3, 3) { (i, j) =>
      xs.indices.map(k => w(k) * xs(k)(i) * xs(k)(j)).sum
    }
    val xty = breeze.linalg.DenseVector.tabulate(3)(i => xs.indices.map(k => sy(k) * xs(k)(i)).sum)
    t.span("linalg.solve")(LinAlg.solveDetecting(xtx, xty))
    t.span("binsreg.hist_quantiles")(
      Dbbinsreg.histQuantiles(df, "fare", (0 to 20).map(_ / 20.0).toArray, 1e-4))
    // driver-side sparse WLS on a staged cell table (the high-cardinality
    // FE path of compress), cells laid out as the compress fit builds them
    val keys = (f.xvars ++ f.fe).distinct
    val comp = t.span("Staging.stage")(Staging.stage(df
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__g_n"), sum(col("tip")).as("__g_sy"),
        sum(col("tip") * col("tip")).as("__g_syy"))
      .withColumn("__g_y", col("__g_sy") / col("__g_n"))))
    out += "compress_driver" -> Workloads.fitJson(t.span("reg.compress_driver")(
      CompressDriver.fit(f, df, comp, keys, Vcov.Hc1, "full", 1000000L)))
    out += "binsreg" -> Workloads.binsJson(t.span("binsreg.fit")(
      Dbbinsreg.fit("tip ~ fare | month", df, nbins = 20)))
    out += "spline" -> Workloads.binsJson(t.span("binsreg.fit_spline")(
      Dbbinsreg.fit("tip ~ fare | month", df, nbins = 20, degree = 1, smoothness = 1)))

    // the iterative hdfe path on an attrition panel: unit clusters vs iid
    // (the cost of the cluster second pass), and the auto chooser's pick
    val panel = ScaleOps.readPartitioned(spark, s"$dir/panel.parquet")
    val pf = "y ~ x1 + x2 | unit + year"
    // untimed: the JVM's first hdfe fit also pays for the panel read and
    // for planning the sweep and the cluster pass; one fixed sweep covers
    // them, so the cluster/iid ratio below compares two warm fits
    Dbreg.fit(pf, panel, vcov = "~unit", strategy = "hdfe", hdfeTol = 0.0, hdfeMaxSweeps = 1)
    out += "hdfe" -> Workloads.fitJson(t.span("reg.fit_hdfe")(
      Dbreg.fit(pf, panel, vcov = "~unit", strategy = "hdfe")))
    out += "hdfe_iid" -> Workloads.fitJson(t.span("reg.fit_hdfe_iid")(
      Dbreg.fit(pf, panel, strategy = "hdfe")))
    out += "panel_auto" -> Workloads.fitJson(t.span("reg.fit_auto_panel")(Dbreg.fit(pf, panel)))
    out
  }
}

final class Corpus(dir: String) extends Workload {
  private var df: DataFrame = _
  private var ids: Array[Long] = _
  var rows = 0L
  val kind = "dedup"
  val warmupOps = 3

  def load(spark: SparkSession): Unit = {
    df = ScaleOps.readPartitioned(spark, s"$dir/data.parquet")
    ids = df.select("id").collect().map(_.getLong(0))
    rows = ids.length
  }

  private def removedJson(kept: Array[Long]): String = {
    val keep = kept.toSet
    Json.obj("kept" -> kept.length, "removed" -> ids.filterNot(keep).sorted.toSeq)
  }

  def run(t: Tracer): String = {
    val pairs = t.span("pipeline.minhash_pairs")(Dedup.minhashPairs(df, "id", "text"))
    removedJson(t.span("pipeline.dedup_corpus")(
      Dedup.dedupCorpus(df, "id", pairs).select("id").collect().map(_.getLong(0))))
  }

  def probes(t: Tracer): Map[String, String] = {
    t.span("sources.read")(ScaleOps.readPartitioned(df.sparkSession, s"$dir/data.parquet").count())
    t.span("functions.minhash_signatures")(
      Dedup.minhashSignatures(df, "id", "text").write.format("noop").mode("overwrite").save())
    val pairs = t.span("pipeline.minhash_pairs")(
      t.span("Staging.stage")(Staging.stage(Dedup.minhashPairs(df, "id", "text"))))
    val nPairs = pairs.count()
    // LSH candidates before verification: Σ C(bucket size, 2) over bands
    val candidates = t.span("pipeline.lsh_buckets")(
      Dedup.lshBuckets(Dedup.minhashSignatures(df, "id", "text"))
        .groupBy("band", "bucket").count()
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long")).collect()(0).getLong(0))
    val clusters = t.span("pipeline.duplicate_clusters")(
      Dedup.duplicateClusters(pairs).select("id", "cluster").collect())
    val components = t.span("operators.connected_components")(
      Graphs.connectedComponents(pairs, "id1", "id2").select("node", "component").collect())
    // both CC entry points must agree on the partition of the pair graph
    val a = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = components.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Map("pairs" -> Json.obj("pairs" -> nPairs, "candidates" -> candidates,
      "clusters" -> a.values.toSet.size, "cc_agree" -> (a == b)))
  }
}

object Main {
  final case class Sample(traced: Boolean, seconds: Double, spanId: Int, result: String,
      error: String)

  private def arg(args: Array[String], key: String, default: String): String = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private val t0 = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload", "")
    val dir = arg(args, "data", "")
    val seconds = arg(args, "seconds", "10").toDouble
    val trace = arg(args, "trace", "0") == "1"
    val cores = arg(args, "cores", "4").toInt
    val out = arg(args, "out", "result.json")

    val w = Workloads(workload, dir)
    // set-up, from JVM start to the first timed op: session start, input
    // load, then the untimed warm-up ops
    val noTrace = new Tracer(null)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toLong).getOrCreate()
    w.load(spark)
    val loadedSeconds = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    note("session and input ready")
    (1 to w.warmupOps).foreach(i => { w.run(noTrace); note(s"warm-up op $i") })
    val readySeconds = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(spark)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val (steal0, total0) = cpuJiffies()
    val gc0 = gcMs()
    val windowStart = System.nanoTime()
    val deadline = windowStart + (seconds * 1e9).toLong
    // closed loop, one client: the next op starts when the previous ends;
    // the traced run alternates traced and untraced ops
    while (System.nanoTime() < deadline) {
      val traced = trace && samples.length % 2 == 0
      if (traced) tracer.attach() else tracer.detach()
      val spanId = if (traced) tracer.spans.length else -1
      val t0 = System.nanoTime()
      val (res, err) =
        try (tracer.span(s"op.${w.kind}", samples.length)(w.run(tracer)), "")
        catch { case NonFatal(e) => ("null", e.toString) }
      samples += Sample(traced, (System.nanoTime() - t0) / 1e9, spanId, res, err)
      note(f"op ${samples.last.seconds}%.3f s traced=$traced $err")
    }
    val windowSeconds = (System.nanoTime() - windowStart) / 1e9
    val (steal1, total1) = cpuJiffies()
    val gc1 = gcMs()

    val probeResults =
      if (!trace) Map.empty[String, String]
      else {
        tracer.attach()
        try tracer.span("probe")(w.probes(tracer))
        catch { case NonFatal(e) => Map("error" -> Json.render(e.toString)) }
      }
    tracer.detach()
    note("probes done")

    val json = Json.obj(
      "workload" -> workload, "kind" -> w.kind, "cores" -> cores, "rows" -> w.rows,
      "loaded_s" -> loadedSeconds, "ready_s" -> readySeconds, "window_s" -> windowSeconds,
      "steal_pct" -> (if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0),
      "gc_ms" -> (gc1 - gc0),
      "samples" -> samples.map(s => Json.Raw(Json.obj(
        "traced" -> s.traced, "seconds" -> s.seconds,
        "span" -> s.spanId, "error" -> s.error, "result" -> Json.Raw(s.result)))).toSeq,
      "probes" -> probeResults.map { case (k, v) => k -> Json.Raw(v) },
      "spans" -> Json.Raw(tracer.toJson))
    Files.write(Paths.get(out), json.getBytes(UTF_8))
    spark.stop()
  }
}

package flowbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

/** Command line of one benchmark process (run.py builds it). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, expected: String, record: Option[String],
    traceOut: String, inputSeconds: Double)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("expected"), m.get("record"), m("trace-out"),
      m.getOrElse("input-seconds", "0").toDouble)
  }
}

/** Shared machinery of the workloads: timed and checked calls, result
  * digests, fresh directories and the tracer. One closed-loop client:
  * every call runs to completion before the next starts. */
final class Harness(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer
  val seed: Long = args.seed
  val callSeconds = ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  /** True while a pass counts towards the end-to-end metrics. */
  var measuring = false

  private val expected: Map[String, String] = {
    val p = Paths.get(args.expected)
    if (!Files.exists(p)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }
  val observed = scala.collection.mutable.TreeMap[String, String]()

  private var dirs = 0
  def fresh(tag: String): String = {
    dirs += 1
    val d = s"${args.work}/$tag-$dirs"
    Files.createDirectories(Paths.get(d))
    d
  }

  def now: Double = System.nanoTime() / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the whole process has used: beside a pass's wall time
    * it tells a slower host from more work. */
  def cpu: Double = os.getProcessCpuTime / 1e9

  private def fail(what: String, detail: String): Boolean = {
    System.err.println(s"[flowbench] FAILED $what: $detail")
    false
  }

  /** Counts one attempted operation; a thrown exception or a false
    * result counts it as failed. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch {
      case e: Exception => fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (!good) failed += 1
    good
  }

  /** One timed client call inside a span named after its layer. Its
    * wall time counts towards the call percentiles while measuring. */
  def call(what: String, layer: String)(body: => Boolean): Unit = {
    val t0 = now
    check(what)(tracer.span(layer, what)(body))
    if (measuring) callSeconds += now - t0
  }

  /** Order-insensitive digest of a result that also forces every output
    * column to be computed: xxhash64 over all columns folded with
    * bit_xor plus a bounded sum, since a bare count() lets Catalyst
    * prune the projections. Doubles enter at nine significant digits
    * so last-bit float noise from aggregation order cannot flip it. */
  def digest(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(pmod(col("h"), lit(1000003L))))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Digest `df` and compare it with the value recorded at the
    * benchmark's reference commit (record mode stores it instead). */
  def verify(key: String, df: DataFrame): Boolean = {
    val d = digest(df)
    observed(key) = d
    if (args.record.isDefined) true
    else expected.get(key) match {
      case Some(e) if e == d => true
      case Some(e) => fail(key, s"digest $d, recorded $e")
      case None => fail(key, s"no recorded digest (got $d)")
    }
  }

  /** Deterministic per-seed choice and order. */
  def shuffled[T](xs: Seq[T], salt: Long = 0L): Seq[T] =
    new scala.util.Random(seed * 1000003L + salt).shuffle(xs)
}

/** One workload: `land` makes its inputs (run several times during
  * set-up, the last landing is used), `warmUp` runs one short pass that
  * counts in set-up, `pass` runs the fixed call list once and
  * `layerMetrics` reports the workload's own per-layer numbers from the
  * traced passes. */
trait Workload {
  def land(dir: String): Unit
  def warmUp(): Unit
  def pass(traced: Boolean): Unit
  def layerMetrics: Map[String, Double] = Map.empty
}

object FlowBench {
  val LandRepeats = 3

  /** Per-layer metrics of the traced run, in BENCHMARK.json order, with
    * their units. A layer a workload never calls reports 0. */
  val LayerSpans: Seq[String] = Seq(
    "sources.extract", "pipeline.dimensions", "pipeline.fact",
    "pipeline.aggregations", "quality.validate", "table.maintain",
    "queries.relational", "queries.analytics", "table.read",
    "api.prepare", "api.training_chunks", "ops.lsh_recall", "ops.ann_recall",
    "ops.pagerank", "ops.clusters", "streaming.intake")
  val WorkloadMetrics: Seq[(String, String)] = Seq(
    "table.live_files" -> "count", "table.bytes_written_per_day" -> "bytes",
    "table.write_amp" -> "ratio", "pipeline.stage_retries" -> "count",
    "table.scan_files_ratio" -> "ratio", "streaming.trigger_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.wal_s" -> "s",
    "streaming.state_bytes" -> "bytes", "table.commits" -> "count")

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (q == 0.5) {
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    } else s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.work}/tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, args)
    val w: Workload = args.workload match {
      case "daily_dag" => new DailyDag(h)
      case "analyst_read" => new AnalystRead(h)
      case "corpus_intake" => new CorpusIntake(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val landS = (1 to LandRepeats).map { i =>
      val s = h.now
      w.land(s"${args.work}/land-$i")
      h.now - s
    }
    val warm = h.now
    w.warmUp()
    val warmS = h.now - warm
    val setupS = args.inputSeconds + sessionS + percentile(landS, 0.5) + warmS

    // Untraced run: passes until the clock runs out. Traced run:
    // untraced and traced passes alternate, at least untraced, traced,
    // untraced, so a warm-up trend across passes cancels out of the gap
    // between their pass times, which is the tracing overhead.
    val listener = new CountingListener
    val passS = ArrayBuffer[Double]()
    val passCpuS = ArrayBuffer[Double]()
    val tracedPassS = ArrayBuffer[Double]()
    val deadline = h.now + args.seconds
    var p = 0
    while (p == 0 || h.now < deadline || (args.trace && p < 3)) {
      val traced = args.trace && p % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      h.measuring = !traced
      h.tracer.recording = traced
      val s = h.now
      val c = h.cpu
      h.tracer.span("pass")(w.pass(traced))
      (if (traced) tracedPassS else passS) += h.now - s
      passCpuS += h.cpu - c
      h.tracer.recording = false
      if (traced) {
        org.apache.spark.flowbench.BusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
      p += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("call_p50_s", percentile(h.callSeconds.toSeq, 0.5), "s"),
        ("call_p90_s", percentile(h.callSeconds.toSeq, 0.9), "s"),
        ("pass_s", percentile(passS.toSeq, 0.5), "s"))
      else {
        val report = new TraceReport(h.tracer.spans.toSeq, listener)
        Files.createDirectories(Paths.get(args.traceOut).getParent)
        Files.write(Paths.get(args.traceOut), report.json.getBytes(UTF_8))
        val own = w.layerMetrics
        LayerSpans.map(n => (n + "_s", report.layerSeconds(n), "s")) ++
          WorkloadMetrics.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) } ++
          report.counts :+
          (("trace.overhead_share",
            percentile(tracedPassS.toSeq, 0.5) / percentile(passS.toSeq, 0.5) - 1.0, "ratio"))
      }

    System.err.println(f"[flowbench] inputs ${args.inputSeconds}%.2f s, session $sessionS%.2f s, " +
      s"landings ${landS.map(x => f"$x%.2f").mkString(" ")} s, warm-up ${f"$warmS%.2f"} s, " +
      s"passes ${passS.map(x => f"$x%.2f").mkString(" ")} s, " +
      s"process CPU per pass ${passCpuS.map(x => f"$x%.2f").mkString(" ")} s, " +
      s"traced passes ${tracedPassS.map(x => f"$x%.2f").mkString(" ")} s, " +
      s"calls ${h.callSeconds.map(x => f"$x%.2f").mkString(" ")} s")
    args.record.foreach { f =>
      Files.write(Paths.get(f), h.observed.map { case (k, v) => s"""  "$k": "$v"""" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    }
    spark.stop()
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
      s""""failed": ${h.failed}, "metrics": {$ms}}""")
  }
}

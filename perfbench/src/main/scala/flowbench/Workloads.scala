package flowbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{DayOfWeek, Instant, LocalDate}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.api.Corpus
import graft.pipeline.{PipelineRunner, StarSchemaJobs}
import graft.table.{UpsertWriter, VersionedTableStore}

/** PipelineRunner whose StarSchemaJobs stages each run in a span named
  * after their layer. The jobs themselves are the engine's. */
final class TracedRunner(spark: SparkSession, store: VersionedTableStore, rawRoot: String,
    symbols: Seq[String], clock: () => Instant, sleeper: Long => Unit, t: Tracer)
    extends PipelineRunner[VersionedTableStore](spark, store, rawRoot, symbols, clock,
      retries = 1, retryDelayMs = 0L, sleeper = sleeper) {
  override val jobs: StarSchemaJobs = new StarSchemaJobs(spark, store, rawRoot) {
    override def extract(symbols: Seq[String], date: String, extractionTime: String): Unit =
      t.span("sources.extract")(super.extract(symbols, date, extractionTime))
    override def buildDimensions(date: String): Unit =
      t.span("pipeline.dimensions")(super.buildDimensions(date))
    override def buildFact(date: String, createdAt: String): Unit =
      t.span("pipeline.fact")(super.buildFact(date, createdAt))
    override def buildAggregations(forDate: Option[String]): Unit =
      t.span("pipeline.aggregations")(super.buildAggregations(forDate))
    override def validate(forDate: Option[String],
        recordAs: Option[graft.quality.ValidationRun]): Seq[graft.quality.RuleResult] =
      t.span("quality.validate")(super.validate(forDate, recordAs))
  }
}

/** The reference's daily DAG: `runDaily` over the trading days of one
  * week on a fresh VersionedTableStore, with `runMaintenance` every 5th
  * day. The seed names the symbols. One call is one day, maintenance
  * included; the day count is fixed because a day costs more as the
  * history grows. */
final class DailyDag(h: Harness) extends Workload {
  val Symbols = 300
  val Days = 5
  val MaintainEvery = 5
  val WarmUpDays = 2
  private val spark = h.spark
  private val symbols: Seq[String] = (0 until Symbols)
    .map(i => "S" + java.lang.Long.toString(
      (new scala.util.Random(h.seed * 7919L + i).nextLong() >>> 16) % 2176782336L, 36)
      .toUpperCase)
    .distinct.sorted
  /** The trading days of the next week, from 2024-02-26 on. Every pass
    * runs its own week, so no pass reuses the code Spark generated for
    * an earlier pass's date literals, as a daily run never does. */
  private var week = 0L
  private def nextWeek(): Seq[String] = {
    week += 1
    Iterator.iterate(LocalDate.parse("2024-02-19").plusWeeks(week))(_.plusDays(1))
      .filterNot(d => d.getDayOfWeek == DayOfWeek.SATURDAY || d.getDayOfWeek == DayOfWeek.SUNDAY)
      .take(Days).map(_.toString).toSeq
  }
  private val clock = () => Instant.parse("2024-03-09T02:00:00Z")

  private var retries = 0L
  private var tracedRetries = 0L
  private var tracedDays = 0
  private var written = 0L
  private var landed = 0L
  private var commits = 0L
  private val liveFiles = mutable.ArrayBuffer[Double]()

  def land(dir: String): Unit = ()

  /** Two days and the maintenance on a week of its own: every stage,
    * the upserts into existing history included, runs once before the
    * clock starts. */
  def warmUp(): Unit =
    run(nextWeek().take(WarmUpDays), traced = false, maintainAfter = WarmUpDays)

  def pass(traced: Boolean): Unit = run(nextWeek(), traced, MaintainEvery)

  private def run(days: Seq[String], traced: Boolean, maintainAfter: Int): Unit = {
    val dir = h.fresh("dag")
    val store = new VersionedTableStore(spark, s"$dir/warehouse")
    val runner = new TracedRunner(spark, store, s"$dir/raw", symbols, clock,
      _ => retries += 1, h.tracer)
    var seen = Map.empty[String, Long]
    def versions = store.tables().map(store.currentVersion).sum
    days.zipWithIndex.foreach { case (d, i) =>
      val v0 = versions
      val r0 = retries
      h.call(s"day $d", "dag.day") {
        runner.runDaily(d)
        if ((i + 1) % maintainAfter == 0)
          h.tracer.span("table.maintain")(runner.runMaintenance(tagFactAs = Some(d)))
        true
      }
      if (traced) {
        val now = fileSizes(dir)
        val fresh = now.filter { case (f, n) => !seen.get(f).contains(n) }
        written += fresh.filter(_._1.startsWith(s"$dir/warehouse")).values.sum
        landed += fresh.filter(_._1.startsWith(s"$dir/raw")).values.sum
        seen = now
        commits += versions - v0
        tracedRetries += retries - r0
        tracedDays += 1
      }
    }
    if (traced) liveFiles += store.tables()
      .map(t => store.read(t).inputFiles.length).sum.toDouble
    checkPass(store, days)
  }

  /** Every regular file under `root` with its size. */
  private def fileSizes(root: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map((f: Path) => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  /** Output checks: fact rows = symbols x days, (stock_symbol,
    * trade_date) unique, and weekly total_volume equal to the fact
    * volume of the same (year, ISO week). Every validate passing is
    * checked by runDaily itself, which throws otherwise. */
  private def checkPass(store: VersionedTableStore, days: Seq[String]): Unit = {
    val fact = store.read("fact_stock_daily_price")
    h.check("fact rows = symbols x days")(fact.count() == symbols.size.toLong * days.size)
    h.check("(stock_symbol, trade_date) unique")(
      fact.groupBy("stock_symbol", "trade_date").count().filter(col("count") > 1).isEmpty)
    h.check("weekly total_volume = fact volume") {
      val f = fact.groupBy(year(col("trade_date")).as("year"),
          weekofyear(col("trade_date")).as("week"))
        .agg(sum(col("volume")).as("fv"))
      val w = store.read("agg_stock_weekly_metrics").groupBy("year", "week")
        .agg(sum(col("total_volume")).as("wv"))
      f.join(w, Seq("year", "week"), "full_outer")
        .filter(col("fv").isNull || col("wv").isNull || col("fv") =!= col("wv")).isEmpty
    }
  }

  override def layerMetrics: Map[String, Double] = {
    val d = math.max(tracedDays, 1).toDouble
    Map(
      "table.live_files" -> (liveFiles.sum / math.max(liveFiles.size, 1)),
      "table.bytes_written_per_day" -> written / d,
      "table.write_amp" -> (if (landed > 0) written.toDouble / landed else 0.0),
      "pipeline.stage_retries" -> tracedRetries / d,
      "table.commits" -> commits / d)
  }
}

/** Read-only analyst traffic: a fixed list of relational, analytics and
  * window queries over the input tables, beside VersionedTableStore
  * reads of a lineitem table that set-up commits in three versions.
  * The seed picks the query order and the lookup keys. */
final class AnalystRead(h: Harness) extends Workload {
  private val spark = h.spark
  private val data = h.args.data
  val Relational = Seq("tpch_q1", "tpch_q3", "tpch_q5b", "tpch_q6b", "tpch_q10",
    "tpch_q12", "tpch_q14", "tpch_q18", "a3_rollup_stats", "w1_window_dedup")
  val Analytics = Seq("a5_rollup", "a7_cube", "a8_zscore_topk", "a9_histogram",
    "a10_corr_stats", "a11_vwap", "w2_moving_avg", "w3_lag_delta", "w4_sessionize",
    "w8_range_frame")
  /** Ship-date ranges and order keys the reads pick from. */
  val Ranges: Seq[(String, String)] = (0 until 12).map { i =>
    val lo = LocalDate.parse("1995-03-01").plusDays(i * 190L)
    (lo.toString, lo.plusDays(20L + i * 7L).toString)
  }
  val Keys: Seq[Long] = (0 until 12).map(i => 137L + i * 983L)
  /** The versioned table holds the lineitems of the first orders only:
    * its reads cost mostly per-call overhead, and set-up commits it
    * three times per landing. */
  val TableOrders = 12000L
  val Picks = 4

  private var store: VersionedTableStore = _
  private var versions: Seq[Long] = Nil
  private val scanRatios = mutable.ArrayBuffer[Double]()

  def land(dir: String): Unit = {
    val li = spark.read.parquet(s"$data/lineitem.parquet")
      .filter(col("l_orderkey") < TableOrders)
      .withColumn("ship_date", to_date(col("l_shipdate")))
      .withColumn("ship_year", year(col("l_shipdate")))
    store = new VersionedTableStore(spark, s"$dir/warehouse",
      statsFor = _ => Seq("ship_date", "l_orderkey"))
    versions = (0 until 3).map { k =>
      UpsertWriter.upsertAll(store, "lineitem", li.filter(pmod(col("l_orderkey"), lit(3)) === k),
        keys = Seq("l_orderkey", "l_linenumber"), partitionBy = Seq("ship_year"))
      store.currentVersion("lineitem")
    }
    store.buildBloomIndex("lineitem", "l_orderkey")
  }

  private type Read = (String, String, () => DataFrame)

  private def reads(all: Boolean): Seq[Read] = {
    val q = graft.SparkEntry.queries
    val queries = Relational.map(n => (s"query $n", "queries.relational",
        () => q(n)(spark, data))) ++
      Analytics.map(n => (s"query $n", "queries.analytics", () => q(n)(spark, data)))
    val ranges = if (all) Ranges else h.shuffled(Ranges, 1).take(Picks)
    val keys = if (all) Keys else h.shuffled(Keys, 2).take(Picks)
    val table = ranges.map { case (lo, hi) => (s"where $lo $hi", "table.read",
        () => store.readWhereDate("lineitem", "ship_date", lo, hi)) } ++
      keys.map(k => (s"point $k", "table.read",
        () => store.readPointIndexed("lineitem", "l_orderkey", k))) ++
      Seq(
        ("version first", "table.read", () => store.readVersion("lineitem", versions.head)),
        ("version second", "table.read", () => store.readVersion("lineitem", versions(1))),
        ("diff first last", "table.read", () => store.snapshotDiff("lineitem",
          versions.head, versions.last, keys = Seq("l_orderkey", "l_linenumber"))))
    h.shuffled(queries ++ table, 3)
  }

  def warmUp(): Unit = reads(all = h.args.record.isDefined).foreach(run(_, traced = false))

  def pass(traced: Boolean): Unit = reads(all = false).foreach(run(_, traced))

  private def run(r: Read, traced: Boolean): Unit = {
    val (key, layer, df) = r
    var out: DataFrame = null
    h.call(key, layer) { out = df(); h.verify(key, out) }
    if (traced && layer == "table.read" && out != null)
      scanRatios += out.inputFiles.length.toDouble /
        store.read("lineitem").inputFiles.length
  }

  override def layerMetrics: Map[String, Double] = Map(
    "table.scan_files_ratio" -> scanRatios.sum / math.max(scanRatios.size, 1),
    "table.live_files" -> store.read("lineitem").inputFiles.length.toDouble)
}

/** Training-corpus preparation and intake over one set of documents,
  * landed in seed-permuted row order as `BacklogFiles` parquet files: the batch
  * path (Corpus.prepare, trainingChunks, then the near-dup recall, ANN
  * recall, PageRank and cluster operators) and the streaming path
  * (corpusIntakeToWarehouse draining the same files, one per
  * micro-batch, into the MERGE sink of a fresh VersionedTableStore).
  * Every pass lands its stream into a fresh store and checkpoint, so
  * each drain starts from the same backlog. */
final class CorpusIntake(h: Harness) extends Workload {
  val BacklogFiles = 6
  private val spark = h.spark
  private var dir: String = _
  private var drains = 0
  private val progress = mutable.ArrayBuffer[(String, Map[String, Double], Double)]()
  private val tracedProgress = mutable.ArrayBuffer[(Map[String, Double], Double)]()
  private var tracedCommits = 0L

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.synchronized {
        progress += ((e.progress.name,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
          e.progress.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
      }
  })

  /** The documents in seed order beside the other tables the operators
    * read. */
  def land(d: String): Unit = {
    dir = s"$d/tables"
    Files.createDirectories(Paths.get(dir))
    Seq("orders", "lineitem", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"${h.args.data}/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val order = xxhash64(col("doc_id"), lit(h.seed))
    spark.read.parquet(s"${h.args.data}/documents.parquet")
      .repartitionByRange(BacklogFiles, order).sortWithinPartitions(order)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def batchCalls: Seq[(String, String, () => DataFrame)] = {
    val q = graft.SparkEntry.queries
    def docs = graft.core.Tables.documents(spark, dir)
    Seq(
      ("corpus prepare", "api.prepare",
        () => Corpus.prepare(docs, col("doc_id"), col("text"))),
      ("corpus training_chunks", "api.training_chunks",
        () => Corpus.trainingChunks(docs, col("doc_id"), col("text"))),
      ("op dedup_lsh_recall", "ops.lsh_recall", () => q("dedup_lsh_recall")(spark, dir)),
      ("op sim_ann_recall", "ops.ann_recall", () => q("sim_ann_recall")(spark, dir)),
      ("op graph_pagerank", "ops.pagerank", () => q("graph_pagerank")(spark, dir)),
      ("op dedup_clusters", "ops.clusters", () => q("dedup_clusters")(spark, dir)))
  }

  /** The batch path as two client calls, each one job a user runs:
    * corpus preparation (prepare, trainingChunks), then the four
    * operators. Each API call inside keeps its own span and digest.
    * Timed one API call at a time, the seven calls of a pass differ
    * several-fold in cost and the median call followed whichever single
    * call landed in the middle. */
  private def batch(): Unit =
    Seq("corpus preparation" -> batchCalls.take(2), "corpus operators" -> batchCalls.drop(2))
      .foreach { case (job, calls) =>
        h.call(job, "corpus.job")(calls.map { case (key, layer, df) =>
          h.tracer.span(layer, key)(h.verify(key, df()))
        }.forall(identity))
      }

  /** One whole pass, so the measured drain does not pay for the first
    * streaming query's start-up. */
  def warmUp(): Unit = pass(traced = false)

  def pass(traced: Boolean): Unit = {
    batch()
    drain(traced)
  }

  /** One call: drain the whole backlog, then check the chunk table. */
  private def drain(traced: Boolean): Unit = {
    drains += 1
    val name = s"intake_$drains"
    val work = h.fresh("intake")
    val store = new VersionedTableStore(spark, s"$work/warehouse")
    val docs = spark.readStream.schema(spark.read.parquet(s"$dir/documents.parquet").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/documents.parquet")
    h.call("stream intake", "streaming.intake") {
      graft.streaming.StreamingIngest.corpusIntakeToWarehouse(docs, store, "chunks",
        s"$work/checkpoint", name).awaitTermination()
      true
    }
    org.apache.spark.flowbench.BusAccess.drain(spark.sparkContext)
    val batches = progress.synchronized(progress.filter(_._1 == name).toList)
    h.check(s"$name drained one file per micro-batch")(batches.size == BacklogFiles)
    val chunks = store.read("chunks")
    h.check(s"$name chunk_hash unique")(
      chunks.count() == chunks.select("chunk_hash").distinct().count())
    h.check(s"$name chunks")(h.verify("intake chunks",
      chunks.select("chunk_hash", "n_chunk_tokens", "chunk_text")))
    if (traced) {
      tracedCommits += store.currentVersion("chunks")
      tracedProgress ++= batches.map { case (_, d, s) => (d, s) }
    }
  }

  /** Streaming numbers are per micro-batch. */
  override def layerMetrics: Map[String, Double] = {
    val n = math.max(tracedProgress.size, 1).toDouble
    def mean(k: String) = tracedProgress.map(_._1.getOrElse(k, 0.0)).sum / n / 1000.0
    Map(
      "streaming.trigger_s" -> mean("triggerExecution"),
      "streaming.add_batch_s" -> mean("addBatch"),
      "streaming.wal_s" -> mean("walCommit"),
      "streaming.state_bytes" -> tracedProgress.map(_._2).sum / n,
      "table.commits" -> tracedCommits / n)
  }
}
